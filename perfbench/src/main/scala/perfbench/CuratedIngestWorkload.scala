package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Similarity, TextAnalysis}
import graft.sink.{PartitionCatalog, PartitionedSink, SinkProperties}

/**
 * `curated_ingest`: the paper's dynamic-partitioned sink fed by an
 * LLM-data curation pipeline. Each cycle takes a seeded subset of 5k
 * generated documents and 2k 64-dim embeddings through:
 *  - `ops`: exact dedup, MinHash near-dup dedup, quality features with a
 *    gate, an IVF index build over the embedding subset and batched
 *    quantized top-k queries against it;
 *  - `sink`: the surviving documents go to three targets, one per
 *    partitioning shape, each resolved from macro-bearing sink properties
 *    (`schema` and `macros`): (lang, source) in Parquet/snappy, two uniform
 *    levels; a Zipf-skewed topic in ORC/zlib, one directory holding ~30%
 *    of rows; a 40-value bucket in Avro/snappy, past the 16 concurrent
 *    writers so Spark falls back to its sort-based writer. The survivors
 *    arrive in two batches: the first creates each target, the second
 *    appends; every write lists the target's partitions, and after each
 *    batch every target is read back and checked, then compacted in place.
 * It never touches a snapshot manifest or SQL DML: it is the control for
 * `snapshot_table`, and `snapshot_table` is its control for `ops` and
 * `PartitionedSink` work.
 */
final class CuratedIngestWorkload extends Workload {
  /** one cold pipeline pass per run, as a batch curation job makes per JVM */
  val cycles = 1
  val DocsPerCycle = 1000
  val VecsPerCycle = 600
  /** the survivors reach the sink in this many batches (by doc_id mod
    * Batches): the first creates each target, the rest append, and every
    * batch is read back and compacted */
  val Batches = 2
  val QueryBatches = 2
  val QueriesPerBatch = 8
  val K = 10

  private final case class Target(keys: Seq[String], format: String, codec: String)
  private val targets = Seq(
    Target(Seq("lang", "source"), "parquet", "snappy"),
    Target(Seq("topic"), "orc", "zlib"),
    Target(Seq("bucket"), "avro", "snappy"))

  /** The sink's string-properties surface, every value behind a macro. */
  private val props = Map(
    "name" -> "${target}", "basePath" -> "${root}",
    "schema" -> Gen.DocsSchema.toDDL, "fieldNames" -> "${keys}",
    "format" -> "${format}", "compressionCodec" -> "${codec}",
    "appendToPartition" -> "${append}", "compressionChunkSize" -> "${orc.chunk}",
    "stripeSize" -> "${orc.stripe}", "indexStride" -> "${orc.stride}",
    "createIndex" -> "${orc.index}")

  private var docs: IndexedSeq[Gen.Doc] = _
  private var vecs: IndexedSeq[(Long, Array[Float])] = _
  private var docsDf: DataFrame = _
  private var vecsDf: DataFrame = _
  /** persisted RDDs that outlive a cycle: the cached inputs */
  private var keep: Set[Int] = Set.empty
  private var docRowBytes = 0.0
  private var vecRowBytes = 0.0
  private var rng: java.util.Random = _
  private var cycleNo = 0
  private var root: String = _
  /** per target: partition values -> (rows, summed hash of (doc_id, text))
    * over every document it should hold so far */
  private var expected: IndexedSeq[Map[Seq[String], (Long, Long)]] = _

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    docs = Gen.documents(ctx.seed)
    vecs = Gen.embeddings(ctx.seed)
    Seq(docsDf, vecsDf).filter(_ != null).foreach(_.unpersist(blocking = true))
    docsDf = Gen.docsFrame(spark, docs).cache()
    vecsDf = Gen.vecFrame(spark, vecs).cache()
    val refDocs = ctx.work.resolve("data/ref_docs")
    val refVecs = ctx.work.resolve("data/ref_vecs")
    docsDf.write.parquet(refDocs.toString)
    vecsDf.write.parquet(refVecs.toString)
    keep = spark.sparkContext.getPersistentRDDs.keySet.toSet
    docRowBytes = Io.dataBytes(refDocs).toDouble / docs.size
    vecRowBytes = Io.dataBytes(refVecs).toDouble / vecs.size
    ctx.inputs = s"${docs.size} documents (${Io.dataBytes(refDocs)} B), ${vecs.size} " +
      s"${Gen.Dim}-dim vectors (${Io.dataBytes(refVecs)} B) as plain snappy Parquet; " +
      s"$DocsPerCycle documents, $VecsPerCycle vectors, ${QueryBatches * QueriesPerBatch} " +
      "queries per cycle"
    rng = new java.util.Random(ctx.seed * 31 + 6)
    cycleNo = 0
    root = ctx.work.resolve("data/curated").toString
    expected = targets.map(_ => Map.empty[Seq[String], (Long, Long)]).toIndexedSeq
  }

  /** The planted truth: no digit noise, one document per near-dup family. */
  private def truth(ds: Seq[Gen.Doc]): Seq[Gen.Doc] =
    ds.filterNot(_.junk).groupBy(_.group).values.map(_.minBy(_.id)).toSeq

  /** Resolve target `i`'s sink from the macro-bearing properties. */
  private def resolve(i: Int, append: Boolean): SinkProperties.ResolvedSink = {
    val t = targets(i)
    SinkProperties.resolve(props, Map("root" -> root, "target" -> s"t$i",
      "keys" -> t.keys.mkString(","), "format" -> t.format, "codec" -> t.codec,
      "append" -> (if (append) "Yes" else "No"), "orc.chunk" -> "262144",
      "orc.stripe" -> "67108864", "orc.stride" -> "10000", "orc.index" -> "true"))
  }

  private def sample[T](xs: IndexedSeq[T], n: Int): IndexedSeq[T] =
    Gen.permutation(xs.size, rng).take(n).sorted.toIndexedSeq.map(xs)

  private def rowsOf(df: DataFrame, idCol: String, ids: Seq[Long]): DataFrame =
    df.filter(col(idCol).isin(ids: _*))

  /** Persist and materialize one pipeline stage. */
  private def stage(df: DataFrame): DataFrame = { val c = df.cache(); c.count(); c }

  /** Per-partition (rows, summed row hash) of documents under `keys`. */
  private def digest(df: DataFrame, keys: Seq[String]): Map[Seq[String], (Long, Long)] = {
    val n = keys.size
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)), sum(hash(col("doc_id"), col("text")).cast("long")))
      .collect().map((r: Row) => ((0 until n).map(r.getString): Seq[String]) ->
        ((r.getLong(n), r.getLong(n + 1)))).toMap
  }

  private def plus(a: Map[Seq[String], (Long, Long)], b: Map[Seq[String], (Long, Long)]) =
    (a.keySet ++ b.keySet).map { k =>
      val (n1, h1) = a.getOrElse(k, (0L, 0L)); val (n2, h2) = b.getOrElse(k, (0L, 0L))
      k -> ((n1 + n2, h1 + h2))
    }.toMap

  def cycle(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val c = cycleNo
    cycleNo += 1
    val subset = sample(docs, DocsPerCycle)
    val vsub = sample(vecs, VecsPerCycle)
    val index = ctx.work.resolve(s"data/ivf/c$c").toString
    var exact, near, kept: DataFrame = null
    try {
      val input = rowsOf(docsDf, "doc_id", subset.map(_.id))
      exact = ctx.op("compute", "exact_dedup") {
        ctx.span("ops.dedup")(stage(Dedup.exactSurvivors(input, "doc_id", "text")))
      }
      near = ctx.op("compute", "minhash_dedup") {
        ctx.span("ops.dedup") {
          val labels = Dedup.minhashDedup(exact, "doc_id", "text")
          stage(exact.join(labels.filter(col("doc_id") === col("cluster_id"))
            .select("doc_id"), Seq("doc_id"), "left_semi"))
        }
      }
      kept = ctx.op("compute", "quality") {
        ctx.span("ops.text") {
          val good = TextAnalysis.qualityFeatures(near, "doc_id", "text")
            .filter(col("alpha_ratio") >= 0.6 && col("n_tokens") >= 5).select("doc_id")
          stage(near.join(good, Seq("doc_id"), "left_semi"))
        }
      }
      ctx.op("write", "ivf_build") {
        ctx.span("ops.similarity") {
          Similarity.writeIvfIndex(rowsOf(vecsDf, "vec_id", vsub.map(_._1)), index, nCells = 16)
        }
      }
      val byId = vsub.toMap
      (0 until QueryBatches).foreach { _ =>
        val qs = sample(vsub, QueriesPerBatch)
        val hits = ctx.op("read", "topk") {
          ctx.span("ops.similarity") {
            Similarity.ivfQuantizedTopKIndexed(index, rowsOf(vecsDf, "vec_id", qs.map(_._1)), K)
              .collect()
          }
        }
        val perQuery = hits.groupBy(_.getAs[Long]("q_id"))
        ctx.check(perQuery.keySet.subsetOf(qs.map(_._1).toSet) &&
          perQuery.values.forall(_.length <= K) && hits.forall { h =>
            val (q, n) = (h.getAs[Long]("q_id"), h.getAs[Long]("n_id"))
            q != n && byId.contains(n) &&
              math.abs(h.getAs[Double]("sim_r") - cosine(byId(q), byId(n))) < 0.05
          }, "ivf top-k results")
      }
      val planted = truth(subset)
      (0 until Batches).foreach { b =>
        def mine(id: Long) = id % Batches == b
        val batch = kept.filter(pmod(col("doc_id"), lit(Batches.toLong)) === b)
        val survivors = Gen.docsFrame(spark, planted.filter(d => mine(d.id)))
        expected = targets.indices.map(i => plus(expected(i), digest(survivors, targets(i).keys)))
        val inputRows = subset.count(d => mine(d.id))
        val sinks = targets.zipWithIndex.map { case (t, i) =>
          val sink = ctx.op("write", s"sink_t$i") {
            val s = ctx.span("sink.resolve")(resolve(i, append = c > 0 || b > 0))
            ctx.span("sink.write") {
              PartitionedSink.write(batch, s.path, s.config)
              ctx.annotate(_.rows = planted.count(d => mine(d.id)))
            }
            val listed = ctx.span("sink.catalog") {
              PartitionCatalog.list(spark, s.path, t.keys.size)
            }
            ctx.check(listed.map(p => t.keys.map(p)).toSet == expected(i).keySet,
              s"partition listing of ${s.path}")
            s
          }
          ctx.refBytes += (inputRows * docRowBytes).toLong
          sink
        }
        sinks.zipWithIndex.foreach { case (s, i) => readBack(ctx, s, i) }
        sinks.zipWithIndex.foreach { case (s, i) =>
          val (files, dirs) = Io.filesAndDirs(java.nio.file.Paths.get(s.path))
          ctx.sampledFiles += files
          ctx.sampledPartitions += dirs
          ctx.op("maint", s"compact_t$i") {
            ctx.span("sink.compact") {
              PartitionedSink.compactInPlace(spark, s.path, targets(i).keys,
                s.config.format, 1, s.config.codec)
            }
          }
        }
      }
      ctx.rows += subset.size
      ctx.refBytes += (vsub.size * vecRowBytes).toLong
    } finally {
      Seq(exact, near, kept).filter(_ != null).foreach(_.unpersist(blocking = true))
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!keep.contains(id)) rdd.unpersist(blocking = true)
      }
      Io.deleteTree(java.nio.file.Paths.get(index))
    }
  }

  private def readBack(ctx: Ctx, s: SinkProperties.ResolvedSink, i: Int): Unit = {
    val got = ctx.op("read", s"readback_t$i") {
      ctx.span("sink.readback") {
        digest(PartitionedSink.readBack(ctx.spark, s.path, s.config.format), targets(i).keys)
      }
    }
    ctx.check(got == expected(i), s"readback of ${s.path}")
  }

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot, na, nb = 0.0
    a.indices.foreach { i => dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
    dot / math.sqrt(na * nb)
  }

  /** Checks every target after its last compaction and records the space
    * they take against their live rows written once as plain Parquet. */
  def finish(ctx: Ctx): Unit = {
    val spark = ctx.spark
    targets.zipWithIndex.foreach { case (t, i) =>
      val sink = resolve(i, append = true)
      val path = sink.path
      val live = PartitionedSink.readBack(spark, path, sink.config.format)
      ctx.check(digest(live, t.keys) == expected(i), s"final state of $path")
      val ref = ctx.work.resolve(s"data/ref_final_t$i")
      live.write.parquet(ref.toString)
      ctx.diskBytes += Io.diskBytes(java.nio.file.Paths.get(path))
      ctx.liveRefBytes += Io.dataBytes(ref)
    }
  }
}

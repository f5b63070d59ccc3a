package perfbench

import scala.collection.immutable.HashMap
import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, StructField}

import graft.sink.Snapshots
import perfbench.Gen.Order

/**
 * `snapshot_table`: a snapshot table seeded from 20k generated orders,
 * partitioned by `o_orderpriority`, with min/max stats and a Bloom filter
 * on `o_orderkey`. Each cycle runs five writes, nine reads and two
 * maintenance passes in closed loop:
 *  - the writes are one each of an append (a new key range), a SQL
 *    `MERGE INTO` upsert, a SQL `UPDATE`, a merge-on-read
 *    `Snapshots.mergeDeltas` batch and a SQL `DELETE`;
 *  - the reads are three pairs of point lookups by Zipf-drawn key (Bloom- and
 *    stat-prunable), a SQL partition scan, `asOf` time travel to the middle
 *    of the retained history, and `readAddedSince` over the newest retained
 *    append;
 *  - `Snapshots.maintain` keeps the last [[KeepLast]] snapshots; each
 *    cycle publishes seven or more, so history grows well past the manifest
 *    chain's rebase interval.
 * A driver-side key -> row model, built from the generated op mix alone,
 * checks every read and the end state.
 */
final class SnapshotWorkload extends Workload {
  /** the first cycle runs each DML path for the first time in the JVM,
    * the second runs it warm; both are measured */
  val cycles = 2
  val BaseRows = 20000
  val KeepLast = 16
  val LookupsPerSlot = 2
  private val table = "bench_snap"
  private val parts = Seq("o_orderpriority")
  private val writeKinds = Set("append", "merge", "delete", "update", "mor")

  private var root: String = _
  private var rng: java.util.Random = _
  private val keyZipf = new Gen.Zipf(BaseRows, 0.9)
  private var keyOfRank: Array[Int] = _
  private var model: HashMap[Long, Order] = HashMap.empty
  /** retained snapshot id -> model state, and ids published by appends */
  private val history = mutable.TreeMap.empty[Int, HashMap[Long, Order]]
  private val appended = mutable.HashMap.empty[Int, Seq[Order]]
  private var current = 0
  private var nextKey = 10000000L
  private var liveFiles = 0L
  private var rowBytes = 0.0

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    root = ctx.work.resolve("data/snap").toString
    rng = new java.util.Random(ctx.seed * 31 + 5)
    keyOfRank = Gen.permutation(BaseRows, rng)
    val df = Gen.orders(spark, ctx.seed, BaseRows)
    val base = df.collect().map(Gen.Order.of)
    val ref = ctx.work.resolve("data/ref_orders")
    df.write.parquet(ref.toString)
    rowBytes = Io.dataBytes(ref).toDouble / BaseRows
    ctx.inputs = s"$BaseRows orders, ${Io.dataBytes(ref)} B as plain snappy Parquet"
    // one file per partition: the layout every later maintenance pass
    // compacts back to, so both timed cycles start from the same shape
    Snapshots.write(df.repartition(Gen.OrderPriorities.size,
      col("o_orderpriority")), root, parts, statsColumns = Seq("o_orderkey"),
      bloomColumns = Seq("o_orderkey"))
    Snapshots.registerTable(spark, root, table)
    model = HashMap.from(base.map(o => o.key -> o))
    history.clear(); appended.clear()
    current = Snapshots.currentSnapshot(spark, root).get
    history(current) = model
    nextKey = 10000000L
    sampleLayout(ctx, sample = false)
  }

  /** Live files and partitions of the current snapshot, from its manifest. */
  private def sampleLayout(ctx: Ctx, sample: Boolean): Unit = {
    val stats = Snapshots.partitionStats(ctx.spark, root).collect()
    liveFiles = stats.map(_.getLong(1)).sum
    if (sample) {
      ctx.sampledFiles += liveFiles
      ctx.sampledPartitions += stats.length
    }
  }

  /** Run each read path once, untimed, so that the timed reads measure
    * lookups and scans rather than their first-use class loading and
    * code generation. Reads leave the table as set-up left it. */
  override def warmup(ctx: Ctx): Unit = Seq("point", "scan", "asof").foreach(read(ctx, _))

  /** Record every snapshot published since the last call as `model`. */
  private def published(ctx: Ctx): Unit = {
    val now = Snapshots.currentSnapshot(ctx.spark, root).get
    (current + 1 to now).foreach(history(_) = model)
    current = now
  }

  private def hotKey(): Long = keyOfRank(keyZipf.draw(rng)).toLong

  private def hotKeys(n: Int): Seq[Long] = {
    val s = mutable.LinkedHashSet.empty[Long]
    while (s.size < n) s += hotKey()
    s.toSeq
  }

  private def bumped(k: Long): Order = model.get(k) match {
    case Some(o) => o.copy(version = o.version + 1, price = o.price + 1.0)
    case None => Gen.order(k, 1, rng)
  }

  private def commit(ctx: Ctx, label: String, span: String, changed: Int)(
      body: => Unit): Unit = {
    ctx.op("write", label) {
      ctx.span(span) { body; ctx.annotate(_.rows = changed) }
    }
    ctx.rows += changed
    ctx.refBytes += (changed * rowBytes).toLong
  }

  private def write(ctx: Ctx, kind: String): Unit = {
    val spark = ctx.spark
    kind match {
      case "append" =>
        val batch = (0 until 1000).map(i => Gen.order(nextKey + i, 0, rng))
        nextKey += 1000
        commit(ctx, kind, "sink.snap_commit", batch.size) {
          Snapshots.write(Gen.frame(spark, batch), root, parts)
        }
        model ++= batch.map(o => o.key -> o)
        published(ctx)
        appended(current) = batch
      case "merge" =>
        val batch = hotKeys(300).map(bumped) ++
          (0 until 100).map(i => Gen.order(nextKey + i, 0, rng))
        nextKey += 100
        Gen.frame(spark, batch).createOrReplaceTempView("bench_snap_src")
        commit(ctx, kind, "sources.dml", batch.size) {
          spark.sql(
            s"""MERGE INTO $table t USING bench_snap_src s
               |ON t.o_orderkey = s.o_orderkey
               |WHEN MATCHED THEN UPDATE SET *
               |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
        }
        model ++= batch.map(o => o.key -> o)
      case "delete" =>
        val lo = hotKey()
        val gone = (lo until lo + 50).filter(model.contains)
        commit(ctx, kind, "sources.dml", gone.size) {
          spark.sql(s"DELETE FROM $table WHERE o_orderkey >= $lo AND o_orderkey <= ${lo + 49}").collect()
        }
        model --= gone
      case "update" =>
        val lo = hotKey()
        val hit = (lo until lo + 200).flatMap(model.get)
        commit(ctx, kind, "sources.dml", hit.size) {
          spark.sql(s"UPDATE $table SET o_version = o_version + 1 " +
            s"WHERE o_orderkey >= $lo AND o_orderkey <= ${lo + 199}").collect()
        }
        model ++= hit.map(o => o.key -> o.copy(version = o.version + 1))
      case "mor" =>
        val keys = hotKeys(300)
        val (dels, ups) = (keys.filter(model.contains).take(50), keys)
        val upserts = ups.filterNot(dels.contains).map(bumped)
        val rows = upserts.map(o => Row.fromSeq(o.row.toSeq :+ false)) ++
          dels.map(k => Row.fromSeq(model(k).row.toSeq :+ true))
        val schema = Gen.OrdersSchema.add(StructField("__del", BooleanType, nullable = false))
        val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        commit(ctx, kind, "sink.snap_commit", rows.size) {
          Snapshots.mergeDeltas(spark, root, df, parts, Seq("o_orderkey"),
            deleteCol = Some("__del"))
        }
        model = model ++ upserts.map(o => o.key -> o) -- dels
    }
    published(ctx)
    sampleLayout(ctx, sample = true)
  }

  private def maintain(ctx: Ctx): Unit = {
    val report = ctx.op("maint", "maintain") {
      ctx.span("sink.snap_maint") {
        Snapshots.maintain(ctx.spark, root, parts,
          Snapshots.MaintenancePolicy(keepLast = KeepLast))
      }
    }
    published(ctx)
    report.expired.foreach { id => history -= id; appended -= id }
    sampleLayout(ctx, sample = false)
  }

  /** (rows, sum of versions, sum of keys) of a model state. */
  private def digest(rows: Iterable[Order]): (Long, Long, Long) =
    rows.foldLeft((0L, 0L, 0L)) { case ((n, v, k), o) => (n + 1, v + o.version, k + o.key) }

  private def digestOf(df: org.apache.spark.sql.DataFrame): (Long, Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(col("o_version").cast("long")), lit(0L)),
      coalesce(sum(col("o_orderkey")), lit(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  private def read(ctx: Ctx, kind: String): Unit = {
    val spark = ctx.spark
    def traced[T](span: String)(body: => T): T = ctx.op("read", kind) {
      ctx.span(span) { ctx.annotate(_.liveFiles = liveFiles); body }
    }
    kind match {
      case "point" =>
        val k = hotKey()
        val got = traced("sink.snap_read") {
          Snapshots.read(spark, root, prune = Seq(Snapshots.StatRange(
            "o_orderkey", Some(k), Some(k)))).filter(col("o_orderkey") === k).collect()
        }.map(Order.of).toSeq
        ctx.check(got == model.get(k).toSeq, s"point lookup of $k: $got vs ${model.get(k)}")
      case "scan" =>
        val p = Gen.OrderPriorities(rng.nextInt(Gen.OrderPriorities.size))
        val got = traced("sources.scan") {
          digestOf(spark.table(table).filter(col("o_orderpriority") === p))
        }
        ctx.check(got == digest(model.values.filter(_.priority == p)), s"scan of $p")
      case "asof" =>
        // the middle of the retained history: the sequence is fixed, so
        // every run travels to a snapshot of the same age and shape
        val older = history.keys.filter(_ < current).toIndexedSeq
        val id = if (older.isEmpty) current else older(older.size / 2)
        val got = traced("sink.snap_read") { digestOf(Snapshots.read(spark, root, asOf = Some(id))) }
        ctx.check(got == digest(history(id).values), s"asOf s$id")
      case "added" =>
        // the newest append whose parent snapshot is still retained (one
        // lands every few writes, well inside the retention window)
        val id = appended.keys.filter(i => history.contains(i - 1)).max
        val got = traced("sink.snap_read") {
          Snapshots.readAddedSince(spark, root, id - 1, Some(id)).map(digestOf)
        }
        ctx.check(got.contains(digest(appended(id))), s"readAddedSince s${id - 1}..s$id")
    }
  }

  /** One cycle: every write kind once, reads between them, and a
    * maintenance pass after the third and after the last write (one pass
    * a cycle left the maintenance time to two samples a run, and one slow
    * call moved it by a third). The sequence is fixed, so every run
    * measures the same mix in the same table states; the seed draws the
    * batches, keys and partitions. Each point slot looks up
    * [[LookupsPerSlot]] keys: lookups are cheap and their cost varies with
    * the key drawn, so the read latency needs more of them than of
    * anything else. */
  private val sequence = Seq("append", "point", "merge", "point", "update", "maintain",
    "scan", "mor", "delete", "asof", "point", "added", "maintain")

  def cycle(ctx: Ctx): Unit = sequence.foreach {
    case "maintain" => maintain(ctx)
    case k if writeKinds.contains(k) => write(ctx, k)
    case k => (1 to (if (k == "point") LookupsPerSlot else 1)).foreach(_ => read(ctx, k))
  }

  def finish(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val live = Snapshots.read(spark, root)
    val byPart = live.groupBy("o_orderpriority").agg(count(lit(1)),
      sum(col("o_version").cast("long")), sum(col("o_orderkey"))).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val want = model.values.groupBy(_.priority).map { case (p, os) => p -> digest(os) }
    ctx.check(byPart == want, "final table state")
    val ref = ctx.work.resolve("data/ref_final")
    live.write.parquet(ref.toString)
    ctx.diskBytes += Io.diskBytes(java.nio.file.Paths.get(root))
    ctx.liveRefBytes += Io.dataBytes(ref)
  }
}

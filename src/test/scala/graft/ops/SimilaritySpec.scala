package graft.ops

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
    (1L, Array(0.0f, 1.0f, 0.0f, 0.0f)), // orthogonal to 0
    (2L, Array(0.9f, 0.1f, 0.0f, 0.0f)), // close to 0
    (3L, Array(1.0f, 0.0f, 0.0f, 0.0f)), // identical to 0
    (4L, Array(-1.0f, 0.0f, 0.0f, 0.0f)), // opposite of 0
  ).toDF("vec_id", "embedding")

  test("cosine algebra: identical=1, orthogonal=0, opposite=-1") {
    val d = vecs.select(col("vec_id"),
      Similarity.cosine(
        Similarity.toDouble(col("embedding")),
        typedlit(Seq(1.0, 0.0, 0.0, 0.0))).as("sim"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(d(3L) - 1.0) < 1e-12)
    assert(math.abs(d(1L)) < 1e-12)
    assert(math.abs(d(4L) + 1.0) < 1e-12)
    assert(d(2L) > 0.9 && d(2L) < 1.0)
  }

  test("brute-force top-k ranks identical vector first") {
    val res = Similarity.bruteForceTopK(
      vecs.filter(col("vec_id") === 0L), vecs, k = 2)
      .collect().sortBy(_.getAs[Int]("rnk"))
    assert(res.head.getAs[Long]("n_id") == 3L) // identical vector
    assert(res(1).getAs[Long]("n_id") == 2L) // then the close one
  }

  test("exact near-dup pairs finds identical pair and respects threshold") {
    // cos(0,2)=cos(2,3)=0.9939 — included at 0.99, excluded at 0.999
    val loose = Similarity.nearDupPairsExact(vecs, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(loose == Set((0L, 2L), (0L, 3L), (2L, 3L)))
    val tight = Similarity.nearDupPairsExact(vecs, threshold = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tight == Set((0L, 3L)))
  }

  test("LSH near-dup finds identical vectors (same bucket by construction)") {
    val pairs = Similarity.nearDupPairs(vecs, dim = 4, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 3L)))
  }

  test("LSH top-k finds planted high-similarity twins (its contract regime)") {
    // LSH's guarantee is for HIGH-similarity neighbors (collision prob
    // (1-θ/π)^planes). Plant an exact twin of each query in the corpus:
    // the twin must come back as that query's rank-1 neighbor.
    val e = Tables(spark, sf0001, "embeddings").select("vec_id", "embedding")
    val twins = e.filter(col("vec_id") < 10)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
    val corpus = e.unionByName(twins)
    val q = e.filter(col("vec_id") < 10)
    val top1 = Similarity.lshTopK(q, corpus, k = 1, dim = 64)
      .collect().map(r => r.getAs[Long]("q_id") -> r.getAs[Long]("n_id")).toMap
    (0L until 10L).foreach { qid =>
      assert(top1.get(qid).contains(qid + 10000),
        s"query $qid: expected twin ${qid + 10000}, got ${top1.get(qid)}")
    }
  }

  test("IVF top-k: planted twins found; recall vs brute force is substantial") {
    val e = Tables(spark, sf0001, "embeddings").select("vec_id", "embedding")
    val twins = e.filter(col("vec_id") < 10)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
    val corpus = e.unionByName(twins)
    val q = e.filter(col("vec_id") < 10)
    // identical twin lands in the same cell as its query -> always rank 1
    val top1 = Similarity.ivfTopK(q, corpus, k = 1, nCells = 8, nProbe = 2)
      .collect().map(r => r.getAs[Long]("q_id") -> r.getAs[Long]("n_id")).toMap
    (0L until 10L).foreach { qid =>
      assert(top1.get(qid).contains(qid + 10000), s"query $qid got ${top1.get(qid)}")
    }
    // probing half the cells recovers a large share of the true top-5
    val exact = Similarity.bruteForceTopK(q, e, k = 5)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    val ivf = Similarity.ivfTopK(q, e, k = 5, nCells = 8, nProbe = 4)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.4, s"IVF recall too low: $recall")
  }

  test("k-means-refined IVF: twins still found, recall not below the seeded variant") {
    val e = Tables(spark, sf0001, "embeddings").select("vec_id", "embedding")
    val twins = e.filter(col("vec_id") < 10)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
    val corpus = e.unionByName(twins)
    val q = e.filter(col("vec_id") < 10)
    val top1 = Similarity.ivfTopK(q, corpus, k = 1, nCells = 8, nProbe = 2,
      refineIters = 1, sampleSize = 128)
      .collect().map(r => r.getAs[Long]("q_id") -> r.getAs[Long]("n_id")).toMap
    (0L until 10L).foreach { qid =>
      assert(top1.get(qid).contains(qid + 10000), s"query $qid got ${top1.get(qid)}")
    }
    val exact = Similarity.bruteForceTopK(q, e, k = 5)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    def recall(refine: Int) = {
      val got = Similarity.ivfTopK(q, e, k = 5, nCells = 8, nProbe = 4,
        refineIters = refine, sampleSize = 128)
        .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
      (exact & got).size.toDouble / exact.size
    }
    val seeded = recall(0)
    val refined = recall(1)
    assert(refined >= 0.4, s"refined IVF recall too low: $refined")
    // Lloyd-balanced cells should not hurt recall on this data
    assert(refined >= seeded - 0.1, s"refined $refined vs seeded $seeded")
  }

  test("lsh bucket is deterministic across invocations") {
    val b1 = vecs.select(Similarity.lshBucket(
      Similarity.toDouble(col("embedding")), 4, 8).as("b")).collect().map(_.getLong(0))
    val b2 = vecs.select(Similarity.lshBucket(
      Similarity.toDouble(col("embedding")), 4, 8).as("b")).collect().map(_.getLong(0))
    assert(b1.sameElements(b2))
    // identical vectors share a bucket; opposite vectors do not
    assert(b1(0) == b1(3))
    assert(b1(0) != b1(4))
  }

  test("semantic dedup: min-id representative survives, near-dups drop, distinct vectors kept") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(1f, 0f, 0f, 0f)),
      (2L, Array(0.995f, 0.1f, 0f, 0f)),   // near-dup of 1 (cos ≈ 0.995)
      (3L, Array(0f, 1f, 0f, 0f)),          // orthogonal — must survive
      (4L, Array(0.99f, 0.12f, 0.01f, 0f)), // near-dup of 1 and 2
    ).toDF("vec_id", "embedding")
    val kept = Similarity.semanticDedup(df, threshold = 0.9, nCells = 1)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L)) // 2 and 4 dominated by min-id 1
    // high threshold: nothing is similar enough to drop
    val keptAll = Similarity.semanticDedup(df, threshold = 0.9999, nCells = 1)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(keptAll == Set(1L, 2L, 3L, 4L))
    // determinism: same input → same kept set and cells
    val again = Similarity.semanticDedup(df, threshold = 0.9, nCells = 1)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(again == kept)
  }

  test("int8 quantization: codes bounded, half-step reconstruction, zero vector") {
    val df = Seq(
      (1L, Seq(0.5f, -1.0f, 0.25f)),
      (2L, Seq(0.0f, 0.0f)),
      (3L, Seq(1e-8f))).toDF("vec_id", "embedding")
    val rows = Similarity.quantizeInt8(df, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getSeq[Long](2))).toMap
    val (s1, q1) = rows(1L)
    assert(s1 == 1.0 && q1 == Seq(64L, -127L, 32L))
    // codes clamp-free by construction: |x| <= scale → q in [-127, 127]
    assert(q1.forall(q => q >= -127 && q <= 127))
    // reconstruction q*scale/127 is within half a quantization step
    Seq(0.5, -1.0, 0.25).zip(q1).foreach { case (x, q) =>
      assert(math.abs(q * s1 / 127.0 - x) <= s1 / 254.0 + 1e-12)
    }
    assert(rows(2L) == (0.0, Seq(0L, 0L))) // zero vector: no div-by-zero
    assert(rows(3L)._2 == Seq(127L)) // tiny scale still spans full range
  }

  test("heap top-k: buffer equals naive sort under random adds and merges") {
    val rng = new scala.util.Random(7)
    (1 to 50).foreach { _ =>
      val n = rng.nextInt(40)
      val entries = Seq.fill(n)((rng.nextInt(10).toDouble, rng.nextLong().abs % 100))
      val k = 1 + rng.nextInt(8)
      // split into partial buffers and merge — the distributed shape
      val parts = entries.grouped(math.max(1, n / 3)).map { chunk =>
        val b = new graft.functions.TopKBuffer(k)
        chunk.foreach { case (s, id) => b.add(s, id) }
        b
      }.toSeq
      val merged = new graft.functions.TopKBuffer(k)
      parts.foreach(merged.merge)
      // the heap keeps multiplicity, so compare against the multiset sort
      val expect = entries
        .sortWith { case ((sa, ia), (sb, ib)) => sa > sb || (sa == sb && ia < ib) }
        .take(k)
      assert(merged.sortedBest.toSeq == expect, s"entries=$entries k=$k")
    }
  }

  test("heap top-k plans as an aggregate, not a window sort") {
    val e = Tables(spark, sf0001, "embeddings")
    val plan = Similarity.bruteForceTopKHeap(e.filter(col("vec_id") < 3), e, k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), s"expected heap aggregate:\n$plan")
    assert(!plan.contains("Window"), s"must not window-sort candidates:\n$plan")
  }

  test("quantized IVF top-k: recall contract vs float IVF; no cartesian, heap-ranked plan") {
    val e = Tables(spark, sf0001, "embeddings").select("vec_id", "embedding")
    val q = e.filter(col("vec_id") < 10)
    def sets(df: org.apache.spark.sql.DataFrame) = df
      .select("q_id", "n_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    // contract: quantization inside the SAME cell structure loses almost
    // nothing vs the float IVF path (the approximation being measured is
    // the 127-level rounding, not the cell pruning — hold cells fixed)
    val float = sets(Similarity.ivfTopK(q, e, k = 5, nCells = 16, nProbe = 4))
    val quant = sets(Similarity.ivfQuantizedTopK(q, e, k = 5, nCells = 16, nProbe = 4))
    val recalls = float.map { case (qid, fl) =>
      quant(qid).intersect(fl).size.toDouble / fl.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.85, s"int8-IVF mean top-5 recall $mean vs float IVF")
    // planted exact twins: identical codes land in the same cell, integer
    // self-dot is maximal → twin is rank 1
    val twins = e.filter(col("vec_id") < 10)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
    val top1 = Similarity.ivfQuantizedTopK(q, e.unionByName(twins), k = 1,
      nCells = 8, nProbe = 2)
      .collect().map(r => r.getAs[Long]("q_id") -> r.getAs[Long]("n_id")).toMap
    (0L until 10L).foreach { qid =>
      assert(top1.get(qid).contains(qid + 10000), s"query $qid got ${top1.get(qid)}")
    }
    // plan shape: bucketed cell join + bounded-heap ranking — the whole
    // point of the composition is that neither a cartesian nor a window
    // sort appears anywhere
    val plan = Similarity.ivfQuantizedTopK(q, e, k = 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"must not cross-join:\n$plan")
    assert(!plan.contains("Window"), s"must not window-sort candidates:\n$plan")
    assert(plan.contains("ObjectHashAggregate"), s"expected heap aggregate:\n$plan")
  }

  test("IVF-PQ/ADC: planted twins recalled, deterministic, no cartesian") {
    val e = Tables(spark, sf0001, "embeddings").select("vec_id", "embedding")
    val q = e.filter(col("vec_id") < 10)
    // planted exact twins: a twin shares its query's cell AND its PQ code,
    // so its ADC score equals the query's self-score — the maximum any
    // candidate can reach. Code collisions (16^8 code space) can tie other
    // vectors onto the same score, so the contract is twin ∈ top-k, the
    // same floor the SQ8 path guarantees via its integer self-dot.
    val twins = q.select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
    val topk = Similarity.ivfPqTopK(q, e.unionByName(twins), k = 5,
      nCells = 8, nProbe = 2)
      .collect().groupBy(_.getAs[Long]("q_id"))
      .view.mapValues(_.map(_.getAs[Long]("n_id")).toSet).toMap
    (0L until 10L).foreach { qid =>
      assert(topk(qid).contains(qid + 10000),
        s"query $qid lost its twin: ${topk(qid)}")
    }
    // deterministic across evaluations (md5 codebooks, fixed fold orders)
    val a = Similarity.ivfPqTopK(q, e, k = 5).collect().map(_.toString).sorted
    val b = Similarity.ivfPqTopK(q, e, k = 5).collect().map(_.toString).sorted
    assert(a.sameElements(b))
    // Raw 4-bit ADC on UNSTRUCTURED random embeddings is a candidate
    // GENERATOR, not a final ranker (16 sampled codebook entries per
    // 8-dim subspace cannot approximate isotropic noise — measured mean
    // top-5 recall ~0.26 vs float IVF): the floor pins it above chance.
    // The deployment-shape contract is the RERANK composition below —
    // exact floats over kCand ADC candidates recover float-IVF ranking.
    def sets(df: org.apache.spark.sql.DataFrame) = df
      .select("q_id", "n_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    def meanRecall(got: Map[Long, Set[Long]], ref: Map[Long, Set[Long]]) = {
      val rs = ref.map { case (qid, r) => got(qid).intersect(r).size.toDouble / r.size }
      rs.sum / rs.size
    }
    val float = sets(Similarity.ivfTopK(q, e, k = 5, nCells = 16, nProbe = 4))
    val pq = sets(Similarity.ivfPqTopK(q, e, k = 5, nCells = 16, nProbe = 4))
    assert(meanRecall(pq, float) >= 0.15,
      s"PQ candidate generation ${meanRecall(pq, float)} not above chance")
    // kCand is the recall knob: wider candidate lists approach the
    // probed-cell ceiling (kCand=20 measured 0.58, kCand=40 higher) at
    // rerank cost linear in kCand — exactly the PQ trade
    val pqRerank = sets(Similarity.ivfPqTopKRerank(q, e, k = 5, kCand = 40,
      nCells = 16, nProbe = 4))
    assert(meanRecall(pqRerank, float) >= meanRecall(pq, float),
      "exact rerank can only repair ADC ranking error within probed cells")
    assert(meanRecall(pqRerank, float) >= 0.65,
      s"PQ+rerank mean top-5 recall ${meanRecall(pqRerank, float)} vs float IVF")
    val plan = Similarity.ivfPqTopK(q, e, k = 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"must not cross-join:\n$plan")
  }

  test("residual IVF-PQ: twins recalled, deterministic, recall ≥ the direct-PQ floor") {
    val e = Tables(spark, sf0001, "embeddings").select("vec_id", "embedding")
    val q = e.filter(col("vec_id") < 10)
    // planted exact twins: a twin lands in its query's cell, so its
    // residual — hence its packed residual code — is identical too, and
    // its ADC-plus-centroid score equals the query's self-score (the
    // maximum). Same twin ∈ top-k floor as the direct variant.
    val twins = q.select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
    val topk = Similarity.ivfPqResidualTopK(q, e.unionByName(twins), k = 5,
      nCells = 8, nProbe = 2)
      .collect().groupBy(_.getAs[Long]("q_id"))
      .view.mapValues(_.map(_.getAs[Long]("n_id")).toSet).toMap
    (0L until 10L).foreach { qid =>
      assert(topk(qid).contains(qid + 10000),
        s"query $qid lost its twin: ${topk(qid)}")
    }
    // deterministic across evaluations (offset-sample residual codebook,
    // fixed fold orders)
    val a = Similarity.ivfPqResidualTopK(q, e, k = 5).collect().map(_.toString).sorted
    val b = Similarity.ivfPqResidualTopK(q, e, k = 5).collect().map(_.toString).sorted
    assert(a.sameElements(b))
    // recall contract vs float IVF: residual coding must hold the SAME
    // candidate-generation floor the direct variant pins (0.15, above
    // chance). It is NOT asserted to dominate direct PQ here: residual's
    // textbook advantage assumes TRAINED codebooks on clustered data
    // (within-cell displacements tighter than the whole space); with the
    // deterministic sampled codebook on isotropic synthetic embeddings,
    // residuals against random-sample centroids are not tighter (measured
    // 0.20 vs direct 0.26 at sf0.001), so the floor is the honest
    // contract — the rerank composition is the deployment shape either way
    def sets(df: org.apache.spark.sql.DataFrame) = df
      .select("q_id", "n_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    def meanRecall(got: Map[Long, Set[Long]], ref: Map[Long, Set[Long]]) = {
      val rs = ref.map { case (qid, r) => got(qid).intersect(r).size.toDouble / r.size }
      rs.sum / rs.size
    }
    val float = sets(Similarity.ivfTopK(q, e, k = 5, nCells = 16, nProbe = 4))
    val resid = sets(Similarity.ivfPqResidualTopK(q, e, k = 5, nCells = 16, nProbe = 4))
    assert(meanRecall(resid, float) >= 0.15,
      s"residual-PQ candidate generation ${meanRecall(resid, float)} below the direct-PQ floor")
    val plan = Similarity.ivfPqResidualTopK(q, e, k = 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"must not cross-join:\n$plan")
  }

  test("versioned index: one-pointer publish, reads stay consistent through swaps") {
    val e = Tables(spark, sf0001, "embeddings").select("vec_id", "embedding")
    val q = e.filter(col("vec_id") < 5)
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_ver").toString
    Similarity.writeIvfIndexVersioned(e, idx, nCells = 8)
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(idx, "MANIFEST")).trim == "v1")
    // layout equivalence: identical retrieval rows vs a flat tree
    val flat = java.nio.file.Files.createTempDirectory("graft_ivf_flat").toString
    Similarity.writeIvfIndex(e, flat, nCells = 8)
    val a = Similarity.ivfQuantizedTopKIndexed(idx, q, k = 5, nProbe = 2)
      .collect().map(_.toString).sorted
    val b = Similarity.ivfQuantizedTopKIndexed(flat, q, k = 5, nProbe = 2)
      .collect().map(_.toString).sorted
    assert(a.sameElements(b))
    // a reader that resolved v1 just before the swap must finish against a
    // complete immutable tree: rebuild publishes v2, v1 stays on disk
    val v1Cells = s"$idx/v1/cells"
    val preCount = spark.read.parquet(v1Cells).count()
    Similarity.rebuildIvfIndex(spark, idx)
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(idx, "MANIFEST")).trim == "v2")
    assert(spark.read.parquet(v1Cells).count() == preCount,
      "previous generation must survive one publish for in-flight readers")
    // new resolutions see the new generation transparently (same API)
    assert(Similarity.ivfQuantizedTopKIndexed(idx, q, k = 5, nProbe = 2).count() > 0)
    // appends resolve the live generation
    val batch = e.filter(col("vec_id") < 3)
      .select((col("vec_id") + 20000).as("vec_id"), col("embedding"))
    Similarity.appendToIvfIndex(batch, idx)
    assert(spark.read.parquet(s"$idx/v2/cells").count() == preCount + 3)
    assert(spark.read.parquet(v1Cells).count() == preCount, "v1 untouched by append")
    // the next publish retires v1 (only live + previous are retained)
    Similarity.rebuildIvfIndex(spark, idx)
    assert(!new java.io.File(s"$idx/v1").exists())
    assert(new java.io.File(s"$idx/v2").exists())
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(idx, "MANIFEST")).trim == "v3")
    // the rebuilt v3 carried the appended rows through
    assert(spark.read.parquet(s"$idx/v3/cells").count() == preCount + 3)
  }

  test("index rebuild heals a crashed prior swap before reading the tree") {
    val e = Tables(spark, sf0001, "embeddings").select("vec_id", "embedding")
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_heal").toString
    Similarity.writeIvfIndex(e, idx, nCells = 8)
    // simulate a crash between swapIn's two renames: cells/ retired, the
    // staging replacement never landed — the tree is unreadable until
    // healed, and the heal must run BEFORE the rebuild's corpus read
    java.nio.file.Files.move(
      java.nio.file.Paths.get(idx, "cells"),
      java.nio.file.Paths.get(idx, ".retired_cells"))
    Similarity.rebuildIvfIndex(spark, idx)
    val q = e.filter(col("vec_id") < 5)
    val out = Similarity.ivfQuantizedTopKIndexed(idx, q, k = 5, nProbe = 2)
    assert(out.count() > 0, "healed + rebuilt index must answer queries")
    assert(!new java.io.File(s"$idx/.retired_cells").exists())
  }

  test("int8 rerank: recall vs float IVF not below the int8-only path; no cartesian") {
    val e = Tables(spark, sf0001, "embeddings").select("vec_id", "embedding")
    val q = e.filter(col("vec_id") < 10)
    def sets(df: org.apache.spark.sql.DataFrame) = df
      .select("q_id", "n_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    def meanRecall(got: Map[Long, Set[Long]], ref: Map[Long, Set[Long]]) = {
      val rs = ref.map { case (qid, r) => got(qid).intersect(r).size.toDouble / r.size }
      rs.sum / rs.size
    }
    val float = sets(Similarity.ivfTopK(q, e, k = 5, nCells = 16, nProbe = 4))
    val int8 = sets(Similarity.ivfQuantizedTopK(q, e, k = 5, nCells = 16, nProbe = 4))
    val rerank = sets(Similarity.ivfQuantizedTopKRerank(q, e, k = 5, kCand = 20,
      nCells = 16, nProbe = 4))
    // the rerank stage rescores with EXACT float cosines, so within the
    // same probed cells it can only repair quantization ranking errors
    assert(meanRecall(rerank, float) >= meanRecall(int8, float),
      s"rerank ${meanRecall(rerank, float)} < int8-only ${meanRecall(int8, float)}")
    assert(meanRecall(rerank, float) >= 0.85)
    val plan = Similarity.ivfQuantizedTopKRerank(q, e, k = 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"must not cross-join:\n$plan")
  }

  test("persisted IVF index: row-identical to in-memory path; probe prunes partitions") {
    val e = Tables(spark, sf0001, "embeddings").select("vec_id", "embedding")
    val q = e.filter(col("vec_id") < 10)
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_idx_spec").toString
    Similarity.writeIvfIndex(e, idx, nCells = 8)
    val indexed = Similarity.ivfQuantizedTopKIndexed(idx, q, k = 5, nProbe = 2)
    val inMem = Similarity.ivfQuantizedTopK(q, e, k = 5, nCells = 8, nProbe = 2)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("q_id", "n_id", "sim_r", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(rows(indexed) == rows(inMem),
      "index path must reproduce the in-memory composition exactly")
    // the PQ lane of the same index: stored pq_code longs ADC-scored
    // through the sidecar codebook must reproduce the in-memory PQ
    // composition exactly (same md5 sample geometry)
    val pqIndexed = Similarity.ivfPqTopKIndexed(idx, q, k = 5, nProbe = 2)
    val pqInMem = Similarity.ivfPqTopK(q, e, k = 5, nCells = 8, nProbe = 2)
    assert(rows(pqIndexed) == rows(pqInMem),
      "PQ index path must reproduce the in-memory PQ composition exactly")
    val pqScan = pqIndexed.queryExecution.executedPlan.toString
    assert(pqScan.contains("PartitionFilters") && pqScan.contains("cell"),
      s"expected a partition-pruned PQ cells scan:\n$pqScan")
    // the indexed kCand rerank: identical ADC candidates (row-identical
    // ADC stage) rescored with the same exact cosines -> must equal the
    // in-memory PQ rerank composition
    assert(rows(Similarity.ivfPqTopKIndexed(idx, q, k = 5, nProbe = 2, kCand = 15)) ==
      rows(Similarity.ivfPqTopKRerank(q, e, k = 5, kCand = 15, nCells = 8, nProbe = 2)),
      "indexed PQ rerank must reproduce the in-memory PQ rerank exactly")
    // the probed-cell filter must reach the scan as a PARTITION filter —
    // unprobed cell directories are never read, which is the whole point
    // of laying the index out as cell=<i>/ partitions
    val scan = indexed.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("cell"),
      s"expected a partition-pruned cells scan:\n$scan")
    // directory layout really is one dir per cell
    val cellDirs = new java.io.File(s"$idx/cells").listFiles()
      .filter(_.getName.startsWith("cell=")).map(_.getName).sorted
    assert(cellDirs.nonEmpty && cellDirs.forall(_.matches("cell=\\d+")))

    // incremental append: exact twins of the queries land in the queries'
    // own cells (stored-centroid assignment) and become every query's new
    // rank-1 neighbor; centroid sidecar is untouched
    val centsBefore = spark.read.parquet(s"$idx/centroids")
      .orderBy("cell").collect().map(_.toString).toSeq
    val twins = q.select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
    Similarity.appendToIvfIndex(twins, idx)
    val centsAfter = spark.read.parquet(s"$idx/centroids")
      .orderBy("cell").collect().map(_.toString).toSeq
    assert(centsAfter == centsBefore, "append must not move centroids")
    val top1 = Similarity.ivfQuantizedTopKIndexed(idx, q, k = 1, nProbe = 2)
      .collect().map(r => r.getAs[Long]("q_id") -> r.getAs[Long]("n_id")).toMap
    (0L until 10L).foreach { qid =>
      assert(top1.get(qid).contains(qid + 10000), s"query $qid got ${top1.get(qid)}")
    }
    // replay idempotency: re-delivering the same batch must converge to
    // the same cells content, not duplicate the rows
    val cellCount = spark.read.parquet(s"$idx/cells").count()
    Similarity.appendToIvfIndex(twins, idx)
    assert(spark.read.parquet(s"$idx/cells").count() == cellCount,
      "replayed append duplicated index rows")

    // indexed rerank == in-memory rerank on the pre-append corpus shape:
    // same centroids, same candidates, same exact rescoring (build a fresh
    // index because the appended twins above changed this one)
    val idx2 = java.nio.file.Files.createTempDirectory("graft_ivf_idx_spec2").toString
    Similarity.writeIvfIndex(e, idx2, nCells = 16)
    val idxRerank = rows(Similarity.ivfQuantizedTopKIndexed(idx2, q, k = 5,
      nProbe = 4, kCand = 20))
    val memRerank = rows(Similarity.ivfQuantizedTopKRerank(q, e, k = 5,
      kCand = 20, nCells = 16, nProbe = 4))
    assert(idxRerank == memRerank,
      "indexed rerank must reproduce the in-memory rerank exactly")
  }

  test("IVF index health: full spine, exact occupancy, planted hot-cell append trips rebuild") {
    val e = Tables(spark, sf0001, "embeddings").select("vec_id", "embedding")
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_idx_health").toString
    Similarity.writeIvfIndex(e, idx, nCells = 8)
    val before = Similarity.ivfIndexHealth(spark, idx).collect()
    // the centroid sidecar is the spine: every cell reports, even at 0
    assert(before.length == 8)
    assert(before.map(_.getAs[Long]("n_rows")).sum == e.count())
    // skew_ratio is the global verdict (identical on every row) and is
    // exactly max(occupancy_ratio)
    val skewBefore = before.head.getAs[Double]("skew_ratio")
    assert(before.forall(_.getAs[Double]("skew_ratio") == skewBefore))
    assert(math.abs(skewBefore -
      before.map(_.getAs[Double]("occupancy_ratio")).max) < 1e-12)
    // drift: append ~2× the corpus as copies of ONE vector — the stored-
    // centroid assignment lands every copy in that vector's cell
    val hot = e.filter(col("vec_id") === 0L)
      .select(Similarity.toDouble(col("embedding"))).head.getSeq[Double](0)
    val n = e.count()
    val batch = spark.range(20000, 20000 + 2 * n)
      .select(col("id").as("vec_id"),
        typedlit(hot.map(_.toFloat)).as("embedding"))
    Similarity.appendToIvfIndex(batch, idx)
    val after = Similarity.ivfIndexHealth(spark, idx).collect()
    val skewAfter = after.head.getAs[Double]("skew_ratio")
    assert(after.map(_.getAs[Long]("n_rows")).sum == 3 * n)
    assert(skewAfter > skewBefore, s"hot append must raise skew: $skewBefore -> $skewAfter")
    assert(skewAfter >= Similarity.IvfRebuildSkewThreshold &&
      after.forall(_.getAs[Boolean]("rebuild_recommended")),
      s"skew $skewAfter must trip the documented rebuild threshold")
  }

  test("rebuildIfSkewed: drift trips the policy, rebuild re-balances and preserves retrieval") {
    val e = Tables(spark, sf0001, "embeddings").select("vec_id", "embedding")
    val q = e.filter(col("vec_id") < 10)
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_rebuild").toString
    Similarity.writeIvfIndex(e, idx, nCells = 8)
    def cents() = spark.read.parquet(s"$idx/centroids")
      .orderBy("cell").collect().map(_.toString).toSeq
    // no-op path: an unreachable threshold must not touch the tree
    val centsBefore = cents()
    assert(!Similarity.rebuildIfSkewed(spark, idx, threshold = 1e9))
    assert(cents() == centsBefore)
    // drift: a hot CLUSTER around one vector — per-row perturbations, NOT
    // identical copies (identical vectors land in one cell under ANY
    // geometry, so no rebuild could ever re-balance them; perturbation is
    // what lets re-sampled centroids split the hot region)
    val base = e.filter(col("vec_id") === 0L)
      .select(Similarity.toDouble(col("embedding"))).head.getSeq[Double](0).toArray
    val n = e.count()
    val hot = (0 until (2 * n).toInt).map { i =>
      val v = base.clone()
      v(i % v.length) += 1e-3 * ((i % 7) + 1)
      (20000L + i, v.map(_.toFloat).toSeq)
    }
    val batch = hot.toDF("vec_id", "embedding")
    Similarity.appendToIvfIndex(batch, idx)
    val skewBefore = Similarity.ivfIndexHealth(spark, idx)
      .select("skew_ratio").head().getDouble(0)
    assert(skewBefore >= Similarity.IvfRebuildSkewThreshold,
      s"planted drift must trip the policy (skew $skewBefore)")
    assert(Similarity.rebuildIfSkewed(spark, idx))
    val after = Similarity.ivfIndexHealth(spark, idx).collect()
    assert(after.map(_.getAs[Long]("n_rows")).sum == 3 * n, "rebuild must not lose rows")
    val skewAfter = after.head.getAs[Double]("skew_ratio")
    assert(skewAfter < skewBefore, s"rebuild must reduce skew: $skewBefore -> $skewAfter")
    // retrieval equivalence: the rebuilt index answers exactly like the
    // in-memory composition over the same grown corpus (identical
    // deterministic centroid derivation from identical rows)
    val union = e.unionByName(batch)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("q_id", "n_id", "sim_r", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(rows(Similarity.ivfQuantizedTopKIndexed(idx, q, k = 5, nProbe = 2)) ==
      rows(Similarity.ivfQuantizedTopK(q, union, k = 5, nCells = 8, nProbe = 2)),
      "rebuilt index must match the in-memory path over the grown corpus")
  }

  test("append-mode index equals a fresh rebuild over the union when centroids coincide") {
    // pins the stored-centroid contract (writeIvfIndex's sidecar is the
    // source of truth for appendToIvfIndex): when the union corpus's
    // md5-ordered centroid sample happens to equal the base corpus's,
    // append-then-query and fresh-rebuild-then-query are row-identical —
    // cell geometry, codes, and ranking all derive from the centroids
    val e = Tables(spark, sf0001, "embeddings").select("vec_id", "embedding")
    val q = e.filter(col("vec_id") < 10)
    val twins = q.select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
    val union = e.unionByName(twins)
    val idxA = java.nio.file.Files.createTempDirectory("graft_ivf_app_a").toString
    val idxB = java.nio.file.Files.createTempDirectory("graft_ivf_app_b").toString
    Similarity.writeIvfIndex(e, idxA, nCells = 8)
    Similarity.appendToIvfIndex(twins, idxA)
    Similarity.writeIvfIndex(union, idxB, nCells = 8)
    def cents(p: String) = spark.read.parquet(s"$p/centroids")
      .orderBy("cell").collect().map(_.toString).toSeq
    // precondition of the equivalence (not of the operator): none of the
    // twin ids md5-rank into the union's first-8 sample on this data — if
    // the synthetic data ever changes and breaks this, pick a different
    // twin id offset rather than weakening the row-identity assertion
    assert(cents(idxA) == cents(idxB),
      "twin ids entered the centroid sample — adjust the test's id offset")
    def rows(p: String) = Similarity
      .ivfQuantizedTopKIndexed(p, q, k = 5, nProbe = 2)
      .select("q_id", "n_id", "sim_r", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(rows(idxA) == rows(idxB),
      "append-mode index must be indistinguishable from a same-centroid rebuild")
  }

  test("streaming maintenance with health-gated rebuild: drift re-balances in the loop") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val e = Tables(spark, sf0001, "embeddings").select("vec_id", "embedding")
    val base = e.filter(col("vec_id") === 0L)
      .select(Similarity.toDouble(col("embedding"))).head.getSeq[Double](0).toArray
    val n = e.count()
    // perturbed hot cluster (see the rebuildIfSkewed test: identical
    // copies could never re-balance)
    val hot = (0 until (2 * n).toInt).map { i =>
      val v = base.clone()
      v(i % v.length) += 1e-3 * ((i % 7) + 1)
      (30000L + i, v.map(_.toFloat).toSeq)
    }
    // control: plain append, no rebuild in the loop
    val idxCtl = java.nio.file.Files.createTempDirectory("graft_ivf_sctl").toString
    Similarity.writeIvfIndex(e, idxCtl, nCells = 8)
    Similarity.appendToIvfIndex(hot.toDF("vec_id", "embedding"), idxCtl)
    val skewCtl = Similarity.ivfIndexHealth(spark, idxCtl)
      .select("skew_ratio").head().getDouble(0)
    assert(skewCtl >= Similarity.IvfRebuildSkewThreshold, "drift must trip")
    // streamed: same drift through the maintenance loop with the
    // health-gated rebuild wired in
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_srb").toString
    Similarity.writeIvfIndex(e, idx, nCells = 8)
    def cents() = spark.read.parquet(s"$idx/centroids")
      .orderBy("cell").collect().map(_.toString).toSeq
    val centsBefore = cents()
    val input = MemoryStream[(Long, Seq[Float])]
    input.addData(hot)
    val sq = Similarity.appendStreamToIvfIndex(
      input.toDF().toDF("vec_id", "embedding"), idx,
      rebuildCheckEvery = 1)
    sq.awaitTermination(60000)
    assert(cents() != centsBefore, "the gated rebuild must have run")
    val health = Similarity.ivfIndexHealth(spark, idx).collect()
    assert(health.map(_.getAs[Long]("n_rows")).sum == 3 * n, "no rows lost")
    val skew = health.head.getAs[Double]("skew_ratio")
    assert(skew < skewCtl, s"in-loop rebuild must beat the control: $skew vs $skewCtl")
  }

  test("streaming index append: micro-batched twins land in the index and rank first") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val e = Tables(spark, sf0001, "embeddings").select("vec_id", "embedding")
    val q = e.filter(col("vec_id") < 10)
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_idx_stream").toString
    Similarity.writeIvfIndex(e, idx, nCells = 8)
    // stream two micro-batches of exact twins of the queries
    val twins = q.collect().map(r =>
      (r.getLong(0) + 10000, r.getSeq[Float](1)))
    val input = MemoryStream[(Long, Seq[Float])]
    val stream = input.toDF().toDF("vec_id", "embedding")
    input.addData(twins.take(5).toSeq)
    input.addData(twins.drop(5).toSeq)
    val sq = Similarity.appendStreamToIvfIndex(stream, idx)
    sq.awaitTermination(60000)
    val top1 = Similarity.ivfQuantizedTopKIndexed(idx, q, k = 1, nProbe = 2)
      .collect().map(r => r.getAs[Long]("q_id") -> r.getAs[Long]("n_id")).toMap
    (0L until 10L).foreach { qid =>
      assert(top1.get(qid).contains(qid + 10000), s"query $qid got ${top1.get(qid)}")
    }
  }

  test("heap top-k: NaN scores rank first, matching Spark's window order") {
    import spark.implicits._
    // zero-norm vector → NaN cosine; the heap must keep it exactly where
    // row_number over (score desc) would: first
    val df = Seq(
      (1L, 10L, Double.NaN), (1L, 11L, 0.9), (1L, 12L, 0.8), (1L, 13L, 0.7)
    ).toDF("q_id", "n_id", "sim")
    val heap = df.groupBy("q_id")
      .agg(graft.functions.topk.top_k_by_score(col("sim"), col("n_id"), 3).as("top"))
      .select(posexplode(col("top")).as(Seq("pos", "entry")))
      .select(col("entry.id")).collect().map(_.getLong(0)).toSeq
    val window = df.withColumn("rnk",
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(col("sim").desc, col("n_id").asc)))
      .filter(col("rnk") <= 3).orderBy("rnk")
      .select("n_id").collect().map(_.getLong(0)).toSeq
    assert(heap == window && heap == Seq(10L, 11L, 12L))
    // buffer-level: NaN entering during the grow phase keeps the invariant
    val b = new graft.functions.TopKBuffer(2)
    b.add(Double.NaN, 5L); b.add(0.5, 6L); b.add(0.9, 7L); b.add(0.95, 8L)
    assert(b.sortedBest.toSeq.map(_._2) == Seq(5L, 8L))
    // SQL surface: float score / int id implicit-cast instead of crashing
    graft.functions.hashes.registerSql(spark)
    val viaSql = df.selectExpr("q_id", "cast(n_id as int) as n_id",
        "cast(sim as float) as sim")
      .groupBy("q_id")
      .agg(expr("top_k_by_score(sim, n_id, 3)").as("top"))
      .select(size(col("top"))).collect().head.getInt(0)
    assert(viaSql == 3)
  }

  test("int8 top-k recall contract vs the exact float path") {
    val e = Tables(spark, sf0001, "embeddings")
    val q = e.filter(col("vec_id") < 10)
    def sets(df: org.apache.spark.sql.DataFrame) = df
      .select("q_id", "n_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val exact = sets(Similarity.bruteForceTopK(q, e, k = 5))
    val quant = sets(Similarity.quantizedTopK(q, e, k = 5))
    val recalls = exact.map { case (qid, ex) =>
      quant(qid).intersect(ex).size.toDouble / ex.size
    }
    val mean = recalls.sum / recalls.size
    // 127-level codes on 64-dim unit-ish vectors: near-lossless ranking
    assert(mean >= 0.85, s"int8 mean top-5 recall $mean vs exact path")
  }

  test("JL projection: signs deterministic, planted twin still ranks first") {
    val e = Tables(spark, sf0001, "embeddings")
    // projection determinism + shape
    val p1 = Similarity.jlProject(e, outDim = 16).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val p2 = Similarity.jlProject(e, outDim = 16).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(p1 == p2 && p1.values.forall(_.length == 16))
    // a planted identical twin projects identically, so it must rank
    // first in the projected-space retrieval too
    val base = e.filter(col("vec_id") === 3L)
      .select(lit(100000L).as("vec_id"), col("embedding"))
    val corpus = e.select("vec_id", "embedding").unionByName(base)
    val top = Similarity.jlTopK(
      corpus.filter(col("vec_id") === 3L), corpus, k = 3)
      .filter(col("rnk") === 1).collect()
    assert(top.length == 1 && top.head.getAs[Long]("n_id") == 100000L,
      s"twin must rank first, got ${top.toSeq}")
    // the matrix itself: ±1 entries, both signs present per row
    val mat = Similarity.jlProjectionMatrix(64, 16)
    assert(mat.forall(_.forall(v => v == 1.0 || v == -1.0)))
    assert(mat.forall(row => row.exists(_ > 0) && row.exists(_ < 0)))
  }

  test("recall@k: hand fixture and full-probe-IVF ground truth") {
    // hand fixture: q1 hits 2 of 3, q2 hits 3 of 3
    val exact = Seq((1L, 10L), (1L, 11L), (1L, 12L),
      (2L, 20L), (2L, 21L), (2L, 22L)).toDF("q_id", "n_id")
    val approx = Seq((1L, 10L), (1L, 11L), (1L, 99L),
      (2L, 20L), (2L, 21L), (2L, 22L)).toDF("q_id", "n_id")
    val r = Similarity.recallAtK(approx, exact).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getDouble(3))).toMap
    assert(r(1L) == ((3L, 2L, 2.0 / 3.0)) && r(2L) == ((3L, 3L, 1.0)))
    // full-probe IVF must EQUAL brute force (every cell probed), so its
    // self-recall is exactly 1.0 on every query
    val e = Tables(spark, sf0001, "embeddings")
    val q = e.filter(col("vec_id") < 10)
    val full = Similarity.ivfTopK(q, e, k = 5, nCells = 16, nProbe = 16)
    val bf = Similarity.bruteForceTopK(q, e, k = 5)
    val self = Similarity.recallAtK(full, bf).collect()
    assert(self.nonEmpty && self.forall(_.getDouble(3) == 1.0),
      "full-probe IVF must match the exact ranking")
  }

  test("k-means separates well-separated blobs; stats and balance follow") {
    // two tight blobs far apart in 4-d; k=2 must recover the split
    val blob = (0 until 20).map { i =>
      val off = (i % 5) * 0.01f
      if (i < 10) (i.toLong, Array(10.0f + off, 10.0f, 0.0f, 0.0f))
      else (i.toLong, Array(-10.0f, -10.0f - off, 0.0f, 0.0f))
    }.toDF("vec_id", "embedding")
    val assign = Similarity.kmeansAssign(blob, k = 2, iters = 2, sampleSize = 20)
    val byCluster = assign.collect()
      .groupBy(_.getAs[Int]("cluster")).view
      .mapValues(_.map(_.getAs[Long]("vec_id")).toSet).toMap
    assert(byCluster.size == 2)
    assert(byCluster.values.toSet == Set((0L until 10L).toSet, (10L until 20L).toSet),
      s"blobs not separated: $byCluster")
    // members sit near their centroid: every distance far below the
    // inter-blob distance (~800 in squared L2)
    assert(assign.collect().forall(_.getAs[Double]("dist_r") < 10.0))
    // stats: counts add up, exact-integer inertia is non-negative
    val stats = Similarity.kmeansStats(assign).collect()
      .map(r => r.getAs[Int]("cluster") ->
        (r.getAs[Long]("n_members"), r.getAs[Long]("inertia_micro"))).toMap
    assert(stats.values.map(_._1).sum == 20L)
    assert(stats.values.forall(_._2 >= 0L))
    // balanced sample: exactly perCluster from each side, deterministic
    val sample = Similarity.clusterBalancedSample(blob, perCluster = 3,
      k = 2, iters = 2, sampleSize = 20)
    val s1 = sample.collect().map(r => (r.getLong(0), r.getAs[Int]("cluster")))
    assert(s1.length == 6 && s1.map(_._2).groupBy(identity).values.forall(_.length == 3))
    val s2 = Similarity.clusterBalancedSample(blob, perCluster = 3,
      k = 2, iters = 2, sampleSize = 20)
      .collect().map(r => (r.getLong(0), r.getAs[Int]("cluster")))
    assert(s1.toSet == s2.toSet)
  }

  test("hardNegatives: same-label twin excluded, best different-label mined first") {
    import spark.implicits._
    // query 0 (label 0): its NEAREST vector is the same-label twin 1 —
    // which must never surface as a negative; the best different-label
    // vector is 2, then 3; 4 is the far different-label distractor
    val d = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(1.0f, 0.01f), 0),  // same-label near-twin: excluded
      (2L, Array(0.95f, 0.2f), 1),  // hard negative
      (3L, Array(0.5f, 0.8f), 1),
      (4L, Array(-1.0f, 0.1f), 1)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.hardNegatives(
      d.filter(col("vec_id") === 0L), d, k = 3, nCells = 8, nProbe = 8)
      .collect().sortBy(_.getAs[Int]("rnk"))
      .map(r => r.getAs[Long]("n_id"))
    assert(!got.contains(1L), "same-label twin must not be mined")
    assert(got.toSeq == Seq(2L, 3L, 4L),
      s"negatives must rank by similarity, got ${got.toSeq}")
    // all cells probed (nProbe = nCells) → exhaustive over different labels
    assert(got.length == 3)
  }

  test("OPQ rotation: inner products preserved exactly; twins recalled; deterministic") {
    val e = Tables(spark, sf0001, "embeddings").select("vec_id", "embedding")
    val q = e.filter(col("vec_id") < 10)
    val d = e.select(size(col("embedding"))).head().getInt(0)
    val rot = graft.ops.Pca.fit(e, d)
    assert(rot.nComponents == d, "full-rank rotation")
    // orthogonal change of basis: rotated dot == raw dot (to fp wobble)
    val raw = e.limit(5).collect().map(_.getSeq[Float](1).map(_.toDouble).toArray)
    def rotArr(x: Array[Double]) =
      rot.components.map(c => c.zip(x).map { case (a, b) => a * b }.sum)
    for (i <- raw.indices; j <- raw.indices) {
      val dRaw = raw(i).zip(raw(j)).map { case (a, b) => a * b }.sum
      val rI = rotArr(raw(i)); val rJ = rotArr(raw(j))
      val dRot = rI.zip(rJ).map { case (a, b) => a * b }.sum
      assert(math.abs(dRaw - dRot) < 1e-9 * math.max(1.0, math.abs(dRaw)),
        s"rotation broke dot($i,$j): $dRaw vs $dRot")
    }
    // planted twin: identical vector → identical rotation → identical
    // cell and PQ code → self-score maximum, same floor as direct PQ
    val twins = q.select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
    val topk = Similarity.ivfPqOpqTopK(q, e.unionByName(twins), k = 5,
      rotation = rot, nCells = 8, nProbe = 2)
      .collect().groupBy(_.getAs[Long]("q_id"))
      .view.mapValues(_.map(_.getAs[Long]("n_id")).toSet).toMap
    (0L until 10L).foreach { qid =>
      assert(topk(qid).contains(qid + 10000),
        s"query $qid lost its twin: ${topk(qid)}")
    }
    // deterministic across evaluations
    val a = Similarity.ivfPqOpqTopK(q, e, k = 5, rotation = rot)
      .collect().map(_.toString).sorted
    val b = Similarity.ivfPqOpqTopK(q, e, k = 5, rotation = rot)
      .collect().map(_.toString).sorted
    assert(a.sameElements(b))
    // truncated rotation must be rejected, not silently lossy
    intercept[IllegalArgumentException] {
      Similarity.ivfPqOpqTopK(q, e, k = 5, rotation = graft.ops.Pca.fit(e, 8))
    }
  }

  test("hardNegatives with a distinct label per row returns exactly ivfTopK's rows") {
    // every label differs, so the label filter drops nothing beyond the
    // self-match ivfTopK already drops: the two lanes share the probe and
    // the scorer, and must agree row for row
    val e = Tables(spark, sf0001, "embeddings").select("vec_id", "embedding")
      .withColumn("label", col("vec_id"))
    val q = e.filter(col("vec_id") < 10)
    val ivf = Similarity.ivfTopK(q, e, k = 5, nCells = 8, nProbe = 2)
      .collect().map(_.toString).sorted
    val neg = Similarity.hardNegatives(q, e, k = 5, nCells = 8, nProbe = 2)
      .collect().map(_.toString).sorted
    assert(ivf.nonEmpty)
    assert(neg.sameElements(ivf))
  }

  test("semanticDedup cells equal kmeansAssign clusters with zero refinement") {
    val e = Tables(spark, sf0001, "embeddings").select("vec_id", "embedding")
    val kept = Similarity.semanticDedup(e, threshold = 0.4, nCells = 8)
      .collect().map(r => r.getLong(0) -> r.getAs[Int]("cell")).toMap
    val clusters = Similarity.kmeansAssign(e, k = 8, iters = 0)
      .collect().map(r => r.getLong(0) -> r.getAs[Int]("cluster")).toMap
    assert(kept.nonEmpty)
    kept.foreach { case (id, cell) =>
      assert(clusters(id) == cell, s"id $id: dedup cell $cell, k-means ${clusters(id)}")
    }
  }

  test("rebuildIvfIndex keeps the stored cell count") {
    val e = Tables(spark, sf0001, "embeddings").select("vec_id", "embedding")
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_cells").toString
    Similarity.writeIvfIndex(e, idx, nCells = 8)
    Similarity.rebuildIvfIndex(spark, idx)
    assert(spark.read.parquet(s"$idx/centroids").count() == 8)
    assert(Similarity.ivfIndexHealth(spark, idx).count() == 8)
  }
}

package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/**
 * Similarity search over an embedding column (`Array[Float]`).
 *
 * Two paths:
 *  - [[bruteForceTopK]] — exact cosine top-k via a blocked cross join +
 *    per-query heap (window rank). O(|Q|·|C|): the correctness baseline,
 *    and the right choice when |Q| is small (the common "probe a few
 *    queries" case) because the corpus scan parallelizes perfectly.
 *  - [[lshTopK]] / [[nearDupPairs]] — random-hyperplane LSH: bucket by
 *    sign-pattern of `numPlanes` fixed pseudo-random hyperplanes, search
 *    only within colliding buckets (multi-probe over all 1-bit flips for
 *    recall). Candidates scale with bucket occupancy, not corpus size —
 *    the 100 TB path.
 *
 * All vector math is `zip_with`/`aggregate` over the array column in
 * double precision — codegen'd, left-to-right accumulation (deterministic
 * and bit-identical to DuckDB's `list_cosine_similarity` on DOUBLE[],
 * which the oracle relies on).
 */
object Similarity {

  /** Sequential dot product of two double-array columns — native
    * [[graft.functions.DotProduct]] expression (the `zip_with`+`aggregate`
    * formulation allocates an intermediate product array per pair, which
    * dominates similarity-join cost; same left-to-right double
    * accumulation, bit-identical results). */
  def dot(a: Column, b: Column): Column =
    graft.functions.vectors.dot_product(a, b)

  /** L2 norm of a double-array column (sequential fold, then sqrt). */
  def norm(v: Column): Column = sqrt(dot(v, v))

  /** Cosine similarity between two double-array columns. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Cast a float-array embedding column to double (element-exact). */
  def toDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /**
   * Exact cosine top-k: for each query vector, the k nearest corpus vectors
   * (self-match excluded). Norms are precomputed on both sides so the join
   * does one fused multiply-add pass per pair. Ranking is on the cosine
   * rounded to 6 decimals with an id tiebreak — deterministic across
   * engines (near-duplicate vectors produce cosine values equal to ~1e-15;
   * an unrounded order would be ULP-sensitive).
   */
  def bruteForceTopK(
      queries: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("q_id"), toDouble(col(vecCol)).as("q_vec"))
      .withColumn("q_norm", norm(col("q_vec")))
    val c = corpus.select(col(idCol).as("n_id"), toDouble(col(vecCol)).as("n_vec"))
      .withColumn("n_norm", norm(col("n_vec")))
    val sims = q.crossJoin(c)
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        (dot(col("q_vec"), col("n_vec")) / (col("q_norm") * col("n_norm")))
          .as("sim"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(round(col("sim"), 6).desc, col("n_id").asc)
    sims.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("n_id"), round(col("sim"), 6).as("sim_r"), col("rnk"))
  }

  /**
   * [[bruteForceTopK]] with the bounded-heap aggregate instead of a
   * window: same scores, same (score desc, id asc) order, EXACTLY the
   * same rows (shared oracle) — but the plan is an ObjectHashAggregate
   * with O(k) state per query key and map-side partial combine, where
   * the window formulation shuffles and fully sorts every candidate row
   * per key. At 10⁹ candidates per query the sort IS the job; the heap
   * makes it a streaming scan.
   */
  def bruteForceTopKHeap(
      queries: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("q_id"), toDouble(col(vecCol)).as("q_vec"))
      .withColumn("q_norm", norm(col("q_vec")))
    val c = corpus.select(col(idCol).as("n_id"), toDouble(col(vecCol)).as("n_vec"))
      .withColumn("n_norm", norm(col("n_vec")))
    val sims = q.crossJoin(c)
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        round(dot(col("q_vec"), col("n_vec")) / (col("q_norm") * col("n_norm")), 6)
          .as("sim_r"))
    sims.groupBy("q_id")
      .agg(graft.functions.topk.top_k_by_score(col("sim_r"), col("n_id"), k)
        .as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "entry")))
      .select(col("q_id"), col("entry.id").as("n_id"),
        col("entry.score").as("sim_r"), (col("pos") + 1).cast("int").as("rnk"))
  }

  /** Deterministic pseudo-random hyperplane coefficients (seeded
    * `java.util.Random` Gaussians — the LCG is specified, so coefficients
    * are reproducible across JVMs with no stored model). */
  def planeCoefs(dim: Int, numPlanes: Int, seed: Long): Array[Array[Double]] =
    Array.tabulate(numPlanes) { p =>
      val rng = new java.util.Random(seed * 1000003L + p)
      Array.fill(dim)(rng.nextGaussian())
    }

  /** Sign-pattern LSH bucket id from `numPlanes` pseudo-random hyperplanes:
    * bit p of the bucket = sign of the projection onto plane p. Planes are
    * embedded as literal arrays; each projection is one `zip_with` fold. */
  def lshBucket(vec: Column, dim: Int, numPlanes: Int, seed: Long = 42L): Column = {
    val bits = planeCoefs(dim, numPlanes, seed).zipWithIndex.map { case (coefs, p) =>
      when(dot(vec, typedlit(coefs.toSeq)) > 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce(_ bitwiseOR _)
  }

  /** Multi-probe bucket list: the exact bucket plus all 1-bit flips
    * (recall boost — near neighbors differing on one hyperplane side are
    * still found). */
  private def probeBuckets(bucket: Column, numPlanes: Int): Column =
    array((bucket +: (0 until numPlanes).map(p =>
      bucket.bitwiseXOR(lit(1L << p)))): _*)

  /**
   * Approximate cosine top-k via hyperplane LSH: assign every vector to a
   * bucket, probe each query's bucket plus its 1-bit neighbors, score only
   * colliding candidates, keep top-k. At scale the bucket join replaces the
   * cross join: cost is Σ bucket sizes along probed buckets.
   */
  def lshTopK(
      queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
      numPlanes: Int = 12, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("n_id"), toDouble(col(vecCol)).as("n_vec"))
      .withColumn("n_norm", norm(col("n_vec")))
      .withColumn("bucket", lshBucket(col("n_vec"), dim, numPlanes, seed))
    val q = queries.select(col(idCol).as("q_id"), toDouble(col(vecCol)).as("q_vec"))
      .withColumn("q_norm", norm(col("q_vec")))
      .withColumn("bucket",
        explode(probeBuckets(lshBucket(col("q_vec"), dim, numPlanes, seed), numPlanes)))
    val sims = q.join(c, Seq("bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        (dot(col("q_vec"), col("n_vec")) / (col("q_norm") * col("n_norm")))
          .as("sim"))
      .groupBy("q_id", "n_id").agg(max(col("sim")).as("sim")) // dedup multi-probe hits
    rankTopK(sims, k)
  }

  /** Final ranking stage shared by the ANN variants: bounded-heap top-k
    * per query key (O(k) state, map-side combine, no per-key sort — see
    * [[bruteForceTopKHeap]]); row-identical to the window formulation
    * `row_number over (partition by q_id order by round(sim,6) desc,
    * n_id asc) <= k` that the oracles express. */
  private def rankTopK(sims: DataFrame, k: Int): DataFrame =
    sims.groupBy("q_id")
      .agg(graft.functions.topk.top_k_by_score(
        round(col("sim"), 6), col("n_id"), k).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "entry")))
      .select(col("q_id"), col("entry.id").as("n_id"),
        col("entry.score").as("sim_r"), (col("pos") + 1).cast("int").as("rnk"))

  /**
   * IVF (inverted-file) approximate top-k: partition the corpus into
   * `nCells` Voronoi cells around deterministic centroids (the md5-order
   * sample of the corpus — reproducible, no trained model to store),
   * assign each vector to its nearest centroid, and search only the
   * `nProbe` cells nearest to each query. The classic ANN trade:
   * cost ≈ (nProbe/nCells) of the corpus per query. Centroids are tiny
   * (nCells × dim doubles) and ride along as a broadcast literal; cell
   * assignment is one native-dot argmin per row.
   *
   * @param refineIters optional k-means (Lloyd) iterations over the
   *   md5-ordered `sampleSize`-vector sample to rebalance the centroid
   *   seed — driver-side, bounded, and order-deterministic, so the refined
   *   coefficients stay oracle-reproducible (see `sim_topk_ivf_refined`)
   */
  /** Sequential dot product on driver-side arrays — same left-to-right
    * accumulation as the native expression (bit-parity matters: refined
    * centroids must be reproducible by the SQL oracle). */
  private def dotArr(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Nearest cell by the shared ranking d = -(v·c - |c|²/2), lower cell on
    * ties — identical to the distributed assignment and the SQL oracle. */
  private def nearestCell(v: Array[Double], cents: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var j = 0
    while (j < cents.length) {
      val d = -(dotArr(v, cents(j)) - dotArr(cents(j), cents(j)) / 2)
      if (d < bestD) { bestD = d; best = j }
      j += 1
    }
    best
  }

  /** Deterministic IVF centroids: first `nCells` corpus vectors in
    * md5(id) order (reproducible, no trained model to store). With
    * refineIters > 0, Lloyd iterations run DRIVER-SIDE over the first
    * `sampleSize` vectors in the same md5 order — sample-based k-means is
    * the textbook scale play (the sample is bounded regardless of corpus
    * size), and the strictly-ordered sequential accumulation keeps every
    * refined coefficient bit-reproducible (ordinary distributed avg() is
    * not: partial-sum order is nondeterministic in IEEE doubles). */
  private def ivfCentroids(
      corpus: DataFrame, nCells: Int, refineIters: Int, sampleSize: Int,
      idCol: String, vecCol: String): Array[(Int, Array[Double])] = {
    val nSample = if (refineIters > 0) math.max(nCells, sampleSize) else nCells
    val sample: Array[Array[Double]] = corpus
      .select(col(idCol).cast("string").as("sid"), toDouble(col(vecCol)).as("v"))
      .withColumn("__o", md5(col("sid").cast("binary")))
      .orderBy(col("__o")).limit(nSample)
      .select("v").collect()
      .map(_.getSeq[Double](0).toArray)
    var cents: Array[Array[Double]] = sample.take(nCells)
    for (_ <- 0 until refineIters) {
      val dims = cents(0).length
      val sums = Array.fill(nCells)(new Array[Double](dims))
      val counts = new Array[Long](nCells)
      sample.foreach { v =>
        val cell = nearestCell(v, cents)
        val s = sums(cell)
        var i = 0
        while (i < dims) { s(i) += v(i); i += 1 }
        counts(cell) += 1
      }
      cents = Array.tabulate(nCells)(j =>
        if (counts(j) == 0) cents(j) // empty cell keeps its seed
        else sums(j).map(_ / counts(j)))
    }
    cents.zipWithIndex.map(_.swap)
  }

  /** Cells ranked nearest-first for a vector column: argmin over squared
    * distance to each centroid ≡ argmax of (dot - |c|²/2); evaluated as a
    * struct array sort so `element_at(..,1)` is the assignment and
    * `slice(..,1,nProbe)` is the probe list. */
  private def cellRankCol(vec: Column, centroids: Array[(Int, Array[Double])]): Column = {
    val scored = centroids.map { case (i, c) =>
      val dist = -(dot(vec, typedlit(c.toSeq)) - lit(c.map(x => x * x).sum / 2))
      struct(dist.as("d"), lit(i).as("cell"))
    }
    array_sort(array(scored.toIndexedSeq: _*))
  }

  def ivfTopK(
      queries: DataFrame, corpus: DataFrame, k: Int,
      nCells: Int = 16, nProbe: Int = 4,
      refineIters: Int = 0, sampleSize: Int = 1024,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val centroids = ivfCentroids(corpus, nCells, refineIters, sampleSize, idCol, vecCol)
    def cellRank(vec: Column): Column = cellRankCol(vec, centroids)

    val c = corpus.select(col(idCol).as("n_id"), toDouble(col(vecCol)).as("n_vec"))
      .withColumn("n_norm", norm(col("n_vec")))
      .withColumn("cell", element_at(cellRank(col("n_vec")), 1)("cell"))
    val q = queries.select(col(idCol).as("q_id"), toDouble(col(vecCol)).as("q_vec"))
      .withColumn("q_norm", norm(col("q_vec")))
      .withColumn("cell", explode(transform(
        slice(cellRank(col("q_vec")), 1, nProbe), s => s("cell"))))
    val sims = q.join(c, Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        (dot(col("q_vec"), col("n_vec")) / (col("q_norm") * col("n_norm"))).as("sim"))
      .groupBy("q_id", "n_id").agg(max(col("sim")).as("sim"))
    rankTopK(sims, k)
  }

  /**
   * Hard-negative mining — the contrastive-training data-prep step
   * (retrieval/embedding training à la DPR/SimCSE): for each query vector,
   * the top-k most-similar corpus vectors whose label DIFFERS from the
   * query's. High-similarity different-label neighbors are exactly the
   * negatives that carry gradient signal; random negatives are trivially
   * separable.
   *
   * Scale posture: identical to [[ivfTopK]] — candidates come from the
   * `nProbe` nearest Voronoi cells (cell-bucketed join, no cross join),
   * the label-mismatch filter applies inside the probe join before the
   * bounded-heap ranking, and centroids ride as broadcast literals. The
   * mined set is approximate in exactly the IVF sense (a hard negative in
   * an unprobed cell is missed) — acceptable by construction for negative
   * SAMPLING, and deterministic end-to-end so the full algorithm carries a
   * SQL oracle.
   */
  def hardNegatives(
      queries: DataFrame, corpus: DataFrame, k: Int,
      nCells: Int = 16, nProbe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    val centroids = ivfCentroids(corpus, nCells, 0, 1024, idCol, vecCol)
    def cellRank(vec: Column): Column = cellRankCol(vec, centroids)
    val c = corpus.select(col(idCol).as("n_id"),
        toDouble(col(vecCol)).as("n_vec"), col(labelCol).as("n_label"))
      .withColumn("n_norm", norm(col("n_vec")))
      .withColumn("cell", element_at(cellRank(col("n_vec")), 1)("cell"))
    val q = queries.select(col(idCol).as("q_id"),
        toDouble(col(vecCol)).as("q_vec"), col(labelCol).as("q_label"))
      .withColumn("q_norm", norm(col("q_vec")))
      .withColumn("cell", explode(transform(
        slice(cellRank(col("q_vec")), 1, nProbe), s => s("cell"))))
    val sims = q.join(c, Seq("cell"))
      .filter(col("q_id") =!= col("n_id") && col("q_label") =!= col("n_label"))
      .select(col("q_id"), col("n_id"),
        (dot(col("q_vec"), col("n_vec")) / (col("q_norm") * col("n_norm")))
          .as("sim"))
      .groupBy("q_id", "n_id").agg(max(col("sim")).as("sim"))
    rankTopK(sims, k)
  }

  /**
   * SemDeDup-style semantic deduplication: partition the corpus into
   * `nCells` Voronoi cells around the SAME deterministic md5-order
   * centroids as [[ivfTopK]], then WITHIN each cell drop every vector that
   * has a lower-id member at cosine ≥ `threshold` (keep-the-min-id
   * representative, the standard greedy eps-dedup). Cross-cell near-dups
   * are intentionally not compared — that locality is exactly what makes
   * the method linear-ish instead of quadratic (Abbas et al.'s SemDeDup
   * trades a little recall for cluster-local pair generation).
   *
   * Scale shape: pair generation joins on the cell id, so cost is
   * Σ cell² — pick nCells so cells fit comfortably (at 100 TB: tens of
   * thousands of cells from a refined sample, same seeding discipline).
   * Fully deterministic (centroid pick, argmin assignment, id tiebreak),
   * so the DuckDB oracle replicates the whole algorithm.
   *
   * Returns the KEPT rows as (idCol, cell).
   */
  def semanticDedup(
      df: DataFrame, threshold: Double, nCells: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // deterministic centroid seed — identical to ivfTopK's (refineIters=0)
    val cents: Array[(Int, Array[Double])] = df
      .select(col(idCol).cast("string").as("sid"), toDouble(col(vecCol)).as("v"))
      .withColumn("__o", md5(col("sid").cast("binary")))
      .orderBy(col("__o")).limit(nCells)
      .select("v").collect()
      .map(_.getSeq[Double](0).toArray).zipWithIndex.map(_.swap)
    def cellOf(vec: Column): Column = {
      val scored = cents.map { case (i, c) =>
        val dist = -(dot(vec, typedlit(c.toSeq)) - lit(c.map(x => x * x).sum / 2))
        struct(dist.as("d"), lit(i).as("cell"))
      }
      element_at(array_sort(array(scored.toIndexedSeq: _*)), 1)("cell")
    }
    // materialized once: the assignment (nCells dots per row over the
    // parquet scan) feeds three plan branches (both pair sides + the
    // anti-join base); released at exit via the localCheckpoint pattern
    val v = df.select(col(idCol).as("vid"), toDouble(col(vecCol)).as("vec"))
      .withColumn("vnorm", norm(col("vec")))
      .withColumn("cell", cellOf(col("vec")))
      .cache()
    val a = v.select(col("cell"), col("vid").as("a_id"),
      col("vec").as("a_vec"), col("vnorm").as("a_norm"))
    val b = v.select(col("cell"), col("vid").as("b_id"),
      col("vec").as("b_vec"), col("vnorm").as("b_norm"))
    val dominated = a.join(b, Seq("cell"))
      .filter(col("a_id") < col("b_id"))
      .filter((dot(col("a_vec"), col("b_vec")) / (col("a_norm") * col("b_norm")))
        >= threshold)
      .select(col("b_id").as("vid")).distinct()
    val out = v.join(dominated, Seq("vid"), "left_anti")
      .select(col("vid").as(idCol), col("cell"))
      .localCheckpoint()
    v.unpersist(blocking = true)
    out
  }

  // ------------------------------------------------ dimensionality reduction

  /** Deterministic Rademacher (±1) random-projection matrix (`outDim`
    * rows × `inDim` cols): the sign of coefficient (i, j) comes from the
    * md5 of `"i:j"` — cross-engine re-derivable, no RNG state to store.
    * Unscaled ±1 entries: the downstream metric is COSINE, which is
    * invariant to the 1/√k JL scale factor. */
  def jlProjectionMatrix(inDim: Int, outDim: Int): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(outDim) { j =>
      Array.tabulate(inDim) { i =>
        md.reset()
        val h = java.lang.Long.parseLong(
          md.digest(s"$i:$j".getBytes("UTF-8"))
            .take(4).map(b => f"${b & 0xff}%02x").mkString, 16)
        if (h % 2 == 0) 1.0 else -1.0
      }
    }
  }

  /**
   * Johnson–Lindenstrauss random projection of an embedding column:
   * `outDim` native sequential dots per row against the
   * [[jlProjectionMatrix]] plan literal — zero shuffle, distances
   * approximately preserved (the JL lemma), bandwidth and downstream ANN
   * cost cut by inDim/outDim. Returns (idCol, proj).
   */
  def jlProject(
      df: DataFrame, outDim: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding",
      inDim: Int = 0): DataFrame = {
    val d = if (inDim > 0) inDim
            else df.select(size(col(vecCol))).head(1).headOption
              .map(_.getInt(0))
              .getOrElse(throw new IllegalArgumentException(
                "jlProject: empty input and no explicit inDim"))
    val mat = jlProjectionMatrix(d, outDim)
    df.withColumn("__v", toDouble(col(vecCol)))
      .select(col(idCol),
        array(mat.toIndexedSeq.map(row =>
          dot(col("__v"), typedlit(row.toSeq))): _*).as("proj"))
  }

  /**
   * Top-k retrieval in JL-projected space: project queries and corpus to
   * `outDim` dims, then run [[ivfTopK]] there — the standard
   * reduce-then-index recipe (projection shrinks every downstream
   * centroid dot and cell scan by inDim/outDim). Deterministic
   * projection + deterministic IVF keep the full composition
   * oracle-reproducible; recall-vs-exact is contract-tested in
   * `SimilaritySpec` (a planted identical twin projects identically, so
   * it must still rank first).
   */
  def jlTopK(
      queries: DataFrame, corpus: DataFrame, k: Int, outDim: Int = 16,
      nCells: Int = 16, nProbe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val inDim = corpus.select(size(col(vecCol))).head(1).headOption
      .map(_.getInt(0))
      .getOrElse(throw new IllegalArgumentException("jlTopK: empty corpus"))
    // materialize the projected corpus once: ivfTopK reads it for the
    // centroid sample AND the cell-assignment scan, and without the
    // checkpoint each read would recompute the outDim-dot projection pass
    val pc = jlProject(corpus, outDim, idCol, vecCol, inDim).localCheckpoint()
    ivfTopK(
      jlProject(queries, outDim, idCol, vecCol, inDim), pc,
      k, nCells, nProbe, idCol = idCol, vecCol = "proj")
  }

  // ----------------------------------------------------------- evaluation

  /**
   * Recall@k of an approximate top-k result against a ground-truth
   * top-k result (both in the (q_id, n_id, sim_r, rnk) shape every
   * retrieval op here emits): per query, |approx ∩ exact| / |exact| —
   * the measure-then-tune loop for ANN parameters (probe counts, code
   * budgets, projection dims) run as a first-class query over a sampled
   * query set. Exact integer counts + one final division — engine-exact,
   * no rounding needed. The join is keyed on (q_id, n_id): ≤ k rows per
   * query on either side, so cost is bounded by the toplist sizes, never
   * the corpus.
   */
  def recallAtK(approx: DataFrame, exact: DataFrame): DataFrame =
    exact.select(col("q_id"), col("n_id"))
      .join(approx.select(col("q_id"), col("n_id")).withColumn("__hit", lit(1L)),
        Seq("q_id", "n_id"), "left")
      .groupBy(col("q_id")).agg(
        count(lit(1)).as("n_exact"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
      .withColumn("recall",
        col("n_hit").cast("double") / col("n_exact"))

  // ----------------------------------------------------------- clustering

  /**
   * K-means cluster ASSIGNMENTS over an embedding corpus — clustering as
   * a first-class curation output (the SemDeDup/data-pruning preparation
   * step: partition the corpus semantically, then sample, dedup, or
   * re-weight per cluster). Centroids come from [[ivfCentroids]]: the
   * md5-ordered corpus sample seeds k cells, `iters` Lloyd iterations
   * run DRIVER-SIDE over the first `sampleSize` sample vectors —
   * sample-based k-means is the textbook scale play (the sample is
   * bounded regardless of corpus size) and the strictly-ordered
   * sequential accumulation keeps every refined coefficient
   * bit-reproducible by the SQL oracle (the `sim_topk_ivf_refined`
   * precedent). Assignment is one native-dot argmin per row — a single
   * zero-shuffle pass with the k×dim centroid matrix as a plan literal.
   *
   * Returns (idCol, cluster, dist_r) with dist_r = round(‖v − c‖², 6) —
   * the member's squared L2 distance to its centroid.
   */
  def kmeansAssign(
      df: DataFrame, k: Int = 16, iters: Int = 2, sampleSize: Int = 256,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cents = ivfCentroids(df, k, iters, sampleSize, idCol, vecCol)
    require(cents.nonEmpty, "kmeansAssign: empty corpus")
    val v = col("__v")
    df.withColumn("__v", toDouble(col(vecCol)))
      .withColumn("__best", element_at(cellRankCol(v, cents), 1))
      .select(col(idCol),
        col("__best")("cell").as("cluster"),
        // ‖v−c‖² = ‖v‖² + 2·d where d is the ranking key −(v·c − ‖c‖²/2)
        round(dot(v, v) + lit(2.0) * col("__best")("d"), 6).as("dist_r"))
  }

  /**
   * Per-cluster quality stats over a [[kmeansAssign]] result: member
   * count and integer-micro inertia (Σ round(dist·10⁶) — exact-integer
   * accumulation, so the sum is order-independent and engine-exact; the
   * CoreQueries integer-cents discipline). The k-row output is the
   * measure-then-act loop's input: oversized or high-inertia clusters
   * are the re-balance / deeper-dedup candidates.
   */
  def kmeansStats(assign: DataFrame): DataFrame =
    assign.groupBy(col("cluster")).agg(
      count(lit(1)).as("n_members"),
      sum(round(col("dist_r") * 1e6).cast("long")).as("inertia_micro"))

  /**
   * Cluster-balanced sample: `perCluster` members per k-means cluster in
   * md5(id) order (deterministic pseudo-random within cluster) — the
   * diversity-preserving selection used by cluster-based data pruning:
   * uniform-per-cluster draws flatten the corpus's semantic density
   * instead of oversampling its dense modes. Window partitioned BY
   * CLUSTER — bounded partitions, no single-partition funnel.
   */
  def clusterBalancedSample(
      df: DataFrame, perCluster: Int, k: Int = 16, iters: Int = 2,
      sampleSize: Int = 256, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    clusterBalancedSampleFrom(
      kmeansAssign(df, k, iters, sampleSize, idCol, vecCol),
      perCluster, idCol)

  /** The composing form over an EXISTING [[kmeansAssign]] result — the
    * natural pipeline (assign once, then [[kmeansStats]] + sample from
    * the SAME assignment) pays the clustering exactly once. */
  def clusterBalancedSampleFrom(
      assign: DataFrame, perCluster: Int,
      idCol: String = "vec_id"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster"))
      .orderBy(md5(col(idCol).cast("string").cast("binary")).asc,
        col(idCol).asc)
    assign.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= perCluster)
      .select(col(idCol), col("cluster"))
  }

  /** Exact embedding near-duplicate pairs: all pairs with cosine >=
    * threshold via blocked cross join — the correctness baseline for
    * [[nearDupPairs]] and the oracle-checked variant. */
  def nearDupPairsExact(
      df: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val v = df.select(col(idCol).as("vid"), toDouble(col(vecCol)).as("vec"))
      .withColumn("vnorm", norm(col("vec")))
    val a = v.select(col("vid").as("a_id"), col("vec").as("a_vec"), col("vnorm").as("a_norm"))
    val b = v.select(col("vid").as("b_id"), col("vec").as("b_vec"), col("vnorm").as("b_norm"))
    a.crossJoin(b).filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        (dot(col("a_vec"), col("b_vec")) / (col("a_norm") * col("b_norm"))).as("sim"))
      .filter(col("sim") >= threshold)
      .select(col("a_id"), col("b_id"), round(col("sim"), 6).as("sim_r"))
  }

  /** Embedding near-duplicate pairs: cosine >= threshold, found via LSH
    * bucket collisions (exact bucket only — near-identical vectors agree on
    * every hyperplane with overwhelming probability, plus 1-bit probes). */
  def nearDupPairs(
      df: DataFrame, dim: Int, threshold: Double = 0.995,
      numPlanes: Int = 12, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val v = df.select(col(idCol).as("vid"), toDouble(col(vecCol)).as("vec"))
      .withColumn("vnorm", norm(col("vec")))
      .withColumn("bucket0", lshBucket(col("vec"), dim, numPlanes, seed))
    val probed = v.withColumn("bucket",
      explode(probeBuckets(col("bucket0"), numPlanes)))
    val a = probed.select(col("bucket"), col("vid").as("a_id"),
      col("vec").as("a_vec"), col("vnorm").as("a_norm"))
    val b = v.select(col("bucket0").as("bucket"), col("vid").as("b_id"),
      col("vec").as("b_vec"), col("vnorm").as("b_norm"))
    a.join(b, Seq("bucket")).filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        (dot(col("a_vec"), col("b_vec")) / (col("a_norm") * col("b_norm")))
          .as("sim"))
      .groupBy("a_id", "b_id").agg(max(col("sim")).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /**
   * Symmetric max-abs int8 quantization of an embedding column — the
   * standard 4× memory/bandwidth cut for ANN indexes at scale (float32
   * vectors of a 100 TB corpus shrink to a quarter; recall loss at 127
   * levels is sub-percent for cosine). Per vector: `scale = max|x_i|`,
   * `q_i = ⌊x_i·127/scale + 0.5⌋` (zero vector → all-zero codes).
   * Row-local array expressions, zero shuffle; the double math is one
   * fixed-shape expression over exactly-widened floats, so any IEEE
   * engine reproduces the identical codes (full DuckDB oracle).
   */
  /**
   * Retrieval over the int8 codes end-to-end: integer dot products —
   * exact in ANY engine, so the whole approximate-scoring path is
   * oracle-checkable, unusual for ANN — dequantized by
   * `scale_q·scale_c/127²`, top-k per query by (score desc, id asc).
   * Same plan shape as [[bruteForceTopK]] but the corpus side carries 4×
   * fewer vector bytes through the join — at 100 TB the scan and shuffle
   * are memory-bandwidth-bound, which is the whole point of quantizing.
   * Recall vs the float path is pinned by a contract test in
   * `SimilaritySpec`.
   */
  def quantizedTopK(
      queries: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // codes held as integer-valued DOUBLE arrays (cast once per row, not
    // per pair) so the allocation-free DotProduct kernel scores each pair;
    // integer-valued double sums are exact, so qdot is still an exact long
    val qq = quantizeInt8(queries, idCol, vecCol).select(
      col(idCol).as("q_id"), col("scale").as("q_scale"),
      transform(col("qvec"), _.cast("double")).as("q_q"))
    val cc = quantizeInt8(corpus, idCol, vecCol).select(
      col(idCol).as("n_id"), col("scale").as("n_scale"),
      transform(col("qvec"), _.cast("double")).as("n_q"))
    val scored = qq.crossJoin(cc)
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("qdot",
        graft.functions.vectors.dot_product(col("q_q"), col("n_q")).cast("long"))
      .withColumn("score",
        (col("qdot").cast("double") * col("q_scale") * col("n_scale"))
          / lit(16129.0))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("n_id").asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("n_id"), col("qdot"), col("score"), col("rnk"))
  }

  /**
   * Quantized IVF retrieval — the 100 TB composition of the two tricks
   * above: int8 codes are scored INSIDE the IVF probe cells and ranked
   * with the bounded-heap aggregate, so the per-query cost is
   * (nProbe/nCells) of the corpus at a quarter of the vector bandwidth
   * with O(k) ranking state — no cross join, no window sort anywhere
   * (contrast [[quantizedTopK]], the labeled exact-scoring baseline).
   *
   * Cell geometry stays in float space (assignment = nCells native dots
   * on the widened vector, same deterministic md5-order centroids as
   * [[ivfTopK]]); scoring uses the max-abs int8 codes of
   * [[quantizeInt8]] held as integer-valued DOUBLE arrays so the
   * allocation-free DotProduct kernel applies. Integer dots are exact in
   * any IEEE engine and the dequantize `qdot·scale_q·scale_c/127²` is
   * one fixed-shape double expression, so the whole approximate path is
   * hash-verifiable by the DuckDB oracle (rare for ANN). Each (query,
   * neighbor) pair arises at most once — the corpus row lives in exactly
   * one cell and probe cells are distinct — so ranking needs no
   * pair-dedup shuffle first.
   */
  def ivfQuantizedTopK(
      queries: DataFrame, corpus: DataFrame, k: Int,
      nCells: Int = 16, nProbe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val centroids = ivfCentroids(corpus, nCells, refineIters = 0,
      sampleSize = nCells, idCol = idCol, vecCol = vecCol)
    // max-abs int8 codes, computed inline on the widened vector so one
    // projection yields both the cell assignment and the codes (exactly
    // quantizeInt8's arithmetic: scale = max|x|, q = ⌊x·127/scale + 0.5⌋,
    // zero vector → all-zero codes) — then PACKED to binary, one signed
    // byte per component: the join/shuffle carries dim bytes per vector,
    // not dim doubles, which is where the 4× bandwidth claim becomes real
    def codes(vec: Column, scale: Column): Column =
      graft.functions.vectors.int8_pack(
        when(scale === lit(0.0), transform(vec, _ => lit(0L)))
          .otherwise(transform(vec, v =>
            floor(v * lit(127.0) / scale + lit(0.5)).cast("long"))))

    val c = corpus.select(col(idCol).as("n_id"), toDouble(col(vecCol)).as("n_vec"))
      .withColumn("cell", element_at(cellRankCol(col("n_vec"), centroids), 1)("cell"))
      .withColumn("n_scale", array_max(transform(col("n_vec"), v => abs(v))))
      .select(col("cell"), col("n_id"), col("n_scale"),
        codes(col("n_vec"), col("n_scale")).as("n_q"))
    val q = queries.select(col(idCol).as("q_id"), toDouble(col(vecCol)).as("q_vec"))
      .withColumn("cell", explode(transform(
        slice(cellRankCol(col("q_vec"), centroids), 1, nProbe), s => s("cell"))))
      .withColumn("q_scale", array_max(transform(col("q_vec"), v => abs(v))))
      .select(col("cell"), col("q_id"), col("q_scale"),
        codes(col("q_vec"), col("q_scale")).as("q_q"))
    // integer byte dot, exact; dequantized by the same fixed-shape double
    // expression the oracle replicates
    val sims = q.join(c, Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        ((graft.functions.vectors.int8_dot(col("q_q"), col("n_q")).cast("double")
          * col("q_scale")) * col("n_scale") / lit(16129.0)).as("sim"))
    rankTopK(sims, k)
  }

  /**
   * [[ivfQuantizedTopK]] plus the standard quantized-ANN rerank stage:
   * the int8 path generates `kCand` (default 4k) candidates per query,
   * then ONLY those survivors are rescored with exact float cosines and
   * re-ranked to the final k. This recovers the quantization's ranking
   * error at negligible cost — the rerank joins a |Q|·kCand id list
   * (driver-bounded, broadcast at scale) back to the corpus, so the full
   * float vectors are touched for a few dozen rows per query instead of
   * every candidate in the probed cells. Every stage is deterministic
   * (integer candidate dots, rounded rerank cosines, id tiebreaks), so
   * the composition keeps a full-algorithm DuckDB oracle.
   */
  /** @param kCand candidate-list size; ≤ 0 (the default) resolves to 4·k. */
  def ivfQuantizedTopKRerank(
      queries: DataFrame, corpus: DataFrame, k: Int,
      kCand: Int = -1, nCells: Int = 16, nProbe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val kc = if (kCand <= 0) 4 * k else kCand
    require(kc >= k, s"kCand $kc must be >= k $k")
    val cand = ivfQuantizedTopK(queries, corpus, kc, nCells, nProbe,
      idCol, vecCol).select(col("q_id"), col("n_id"))
    exactRerank(cand, queries, corpus, k, idCol, vecCol)
  }

  /** Shared rerank stage: exact float cosines over a (q_id, n_id)
    * candidate list only — the list is driver-bounded (|Q|·kCand), so the
    * join back to the corpus broadcasts at scale. */
  private def exactRerank(
      cand: DataFrame, queries: DataFrame, corpus: DataFrame, k: Int,
      idCol: String, vecCol: String): DataFrame = {
    val q = queries.select(col(idCol).as("q_id"), toDouble(col(vecCol)).as("q_vec"))
      .withColumn("q_norm", norm(col("q_vec")))
    val c = corpus.select(col(idCol).as("n_id"), toDouble(col(vecCol)).as("n_vec"))
      .withColumn("n_norm", norm(col("n_vec")))
    val sims = cand.join(q, Seq("q_id")).join(c, Seq("n_id"))
      .select(col("q_id"), col("n_id"),
        (dot(col("q_vec"), col("n_vec")) / (col("q_norm") * col("n_norm")))
          .as("sim"))
    rankTopK(sims, k)
  }

  /** [[ivfPqTopK]] plus the exact-rerank stage — the standard IVF-PQ
    * deployment: 4-bit ADC GENERATES `kCand` candidates per query (the
    * compression is for candidate generation bandwidth, not final
    * ranking), then only those survivors are rescored with exact float
    * cosines. Same two-stage contract as [[ivfQuantizedTopKRerank]]. */
  def ivfPqTopKRerank(
      queries: DataFrame, corpus: DataFrame, k: Int,
      kCand: Int = -1, nCells: Int = 16, nProbe: Int = 4,
      m: Int = 8, kSub: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val kc = if (kCand <= 0) 4 * k else kCand
    require(kc >= k, s"kCand $kc must be >= k $k")
    val cand = ivfPqTopK(queries, corpus, kc, nCells, nProbe, m, kSub,
      idCol, vecCol).select(col("q_id"), col("n_id"))
    exactRerank(cand, queries, corpus, k, idCol, vecCol)
  }

  /**
   * IVF-PQ retrieval with asymmetric-distance scoring (ADC) — the memory
   * rung BELOW int8 SQ ([[ivfQuantizedTopK]]): each corpus vector is
   * stored inside its probe cell as `m` 4-bit codebook indices packed
   * into one long (dim=64 → 4 bytes per vector vs 64 int8 bytes vs 512
   * float64 bytes), and queries score candidates through per-subspace
   * inner-product LOOKUP TABLES — `m` table probes per candidate, never
   * touching original vectors inside the cells. This is the classic
   * IVF-PQ/ADC composition (Jégou et al., "Product Quantization for
   * Nearest Neighbor Search", direct non-residual variant).
   *
   * Determinism end-to-end, so the WHOLE approximate path keeps a
   * full-algorithm DuckDB oracle (the [[ivfQuantizedTopK]] precedent):
   * the per-subspace codebooks are the md5-ordered corpus sample (the
   * same bounded-sample trick as the cell centroids — no trained model),
   * sub-code assignment uses the shared `-(x·c - |c|²/2)` ranking with
   * lowest-code tie-break, and the ADC sum folds subspaces in fixed
   * j = 0..m-1 order — every double op sequence is mirrored by the SQL.
   *
   * Scale posture: the shuffle/scan inside probe cells carries
   * (cell, id, one long) per candidate; the per-query LUT is m·kSub
   * doubles computed once per probed query row from the literal
   * codebook (no join); ranking is the bounded-heap aggregate. The
   * codebook/centroid collects are bounded (kSub, nCells rows).
   */
  /** md5-ordered PQ codebook sample: kSub full-dim corpus vectors (each
    * subspace's codebook is its slice — one bounded collect serves all
    * m subspaces). */
  private def pqCodebook(
      corpus: DataFrame, kSub: Int, idCol: String, vecCol: String): Array[Array[Double]] =
    ivfCentroids(corpus, kSub, refineIters = 0, sampleSize = kSub,
      idCol = idCol, vecCol = vecCol).map(_._2)

  private def pqSub(v: Column, j: Int, dsub: Int): Column =
    slice(v, j * dsub + 1, dsub)

  /** Packed PQ code: per-subspace nearest codebook entry under the shared
    * -(x·c - |c|²/2) ranking (lowest code on ties — the cellRank
    * formulation scoped to the subvector), m 4-bit codes in one long. */
  private def pqPackedCodeCol(
      vec: Column, codebook: Array[Array[Double]], m: Int): Column = {
    val dim = codebook(0).length
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val dsub = dim / m
    def subCode(j: Int): Column = {
      val scored = codebook.indices.map { c =>
        val cb = codebook(c).slice(j * dsub, (j + 1) * dsub)
        val d = -(dot(pqSub(vec, j, dsub), typedlit(cb.toSeq)) -
          lit(cb.map(v => v * v).sum / 2))
        struct(d.as("d"), lit(c).as("code"))
      }
      element_at(array_sort(array(scored: _*)), 1)("code")
    }
    (0 until m).map(j => subCode(j).cast("long") * lit(1L << (4 * j)))
      .reduce(_ + _)
  }

  /** Per-query ADC lookup table: lut[j][c] = q_subj · codebook[j][c]. */
  private def pqLutCol(
      vec: Column, codebook: Array[Array[Double]], m: Int): Column = {
    val dsub = codebook(0).length / m
    array((0 until m).map(j =>
      array(codebook.indices.map(c =>
        dot(pqSub(vec, j, dsub),
          typedlit(codebook(c).slice(j * dsub, (j + 1) * dsub).toSeq))): _*)): _*)
  }

  /** ADC score: unpack nibble j, probe lut[j], fold j = 0..m-1
    * left-to-right (the fixed order the SQL oracle mirrors). */
  private def pqAdcScore(lut: Column, code: Column, m: Int): Column =
    (0 until m).map(j => element_at(element_at(lut, j + 1),
      shiftright(code, 4 * j).bitwiseAND(lit(15L)).cast("int") + lit(1)))
      .reduce(_ + _)

  def ivfPqTopK(
      queries: DataFrame, corpus: DataFrame, k: Int,
      nCells: Int = 16, nProbe: Int = 4, m: Int = 8, kSub: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(kSub >= 2 && kSub <= 16, "kSub must be in [2, 16] (4-bit packed codes)")
    require(m >= 1 && m <= 15, "m must be in [1, 15] (m nibbles in one long)")
    val centroids = ivfCentroids(corpus, nCells, refineIters = 0,
      sampleSize = nCells, idCol = idCol, vecCol = vecCol)
    // kSub == nCells ⇒ the codebook IS the centroid sample (same
    // md5-ordered first-k) — skip the second corpus orderBy/collect
    val codebook =
      if (kSub == nCells) centroids.map(_._2)
      else pqCodebook(corpus, kSub, idCol, vecCol)
    val c = corpus.select(col(idCol).as("n_id"), toDouble(col(vecCol)).as("n_vec"))
      .withColumn("cell", element_at(cellRankCol(col("n_vec"), centroids), 1)("cell"))
      .withColumn("code", pqPackedCodeCol(col("n_vec"), codebook, m))
      .select(col("cell"), col("n_id"), col("code"))
    val q = queries.select(col(idCol).as("q_id"), toDouble(col(vecCol)).as("q_vec"))
      // ADC lookup table FIRST (m·kSub dots per query row, from the
      // literal codebook), THEN the probe-cell explode — the other order
      // would recompute the table nProbe times per query
      .withColumn("lut", pqLutCol(col("q_vec"), codebook, m))
      .withColumn("cell", explode(transform(
        slice(cellRankCol(col("q_vec"), centroids), 1, nProbe), s => s("cell"))))
      .select(col("cell"), col("q_id"), col("lut"))
    val sims = q.join(c, Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        pqAdcScore(col("lut"), col("code"), m).as("sim"))
    rankTopK(sims, k)
  }

  /** Residual-PQ codebook: the md5-ordered corpus sample AFTER the
    * centroid sample (offset nCells — the centroid rows themselves would
    * residualize to the zero vector and collapse the codebook), each
    * residualized against its nearest centroid. Driver-side and bounded
    * (nCells + kSub rows), deterministic, and SQL-re-derivable. */
  private def pqResidualCodebook(
      corpus: DataFrame, centroids: Array[(Int, Array[Double])], kSub: Int,
      idCol: String, vecCol: String): Array[Array[Double]] = {
    val nCells = centroids.length
    val cents = centroids.map(_._2)
    corpus
      .select(col(idCol).cast("string").as("sid"), toDouble(col(vecCol)).as("v"))
      .withColumn("__o", md5(col("sid").cast("binary")))
      .orderBy(col("__o")).limit(nCells + kSub)
      .select("v").collect()
      .map(_.getSeq[Double](0).toArray)
      .drop(nCells)
      .map { v =>
        val c = cents(nearestCell(v, cents))
        Array.tabulate(v.length)(i => v(i) - c(i))
      }
  }

  /**
   * Residual IVF-PQ/ADC — [[ivfPqTopK]] encoding each corpus vector as
   * its RESIDUAL `x − centroid[cell(x)]` rather than raw `x` (Jégou et
   * al. §IV): with trained codebooks on clustered data the codebook only
   * has to cover the tighter within-cell displacement distribution — the
   * classic recall improvement at the same code budget. (With this
   * module's deterministic SAMPLED codebook on isotropic data the two
   * variants measure comparably — the spec pins the shared floor; the
   * structural win needs real cluster structure.)
   * Scoring decomposes exactly: `q·x = q·centroid[cell] + q·residual` —
   * the first term is one dot against the literal centroid matrix computed
   * at probe time (per probed (query, cell) pair, BEFORE the candidate
   * join), the second is the same m-probe ADC lookup as the direct
   * variant, now over the residual codebook.
   *
   * Determinism end-to-end (the [[ivfPqTopK]] oracle contract): centroids
   * are the md5-ordered first-nCells sample; the residual codebook is the
   * NEXT kSub vectors in the same order, residualized driver-side with the
   * shared tie-break ([[pqResidualCodebook]]); the score folds the cell
   * term first, then subspaces in fixed j = 0..m-1 order — every double op
   * sequence is mirrored by the SQL oracle.
   */
  def ivfPqResidualTopK(
      queries: DataFrame, corpus: DataFrame, k: Int,
      nCells: Int = 16, nProbe: Int = 4, m: Int = 8, kSub: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(kSub >= 2 && kSub <= 16, "kSub must be in [2, 16] (4-bit packed codes)")
    require(m >= 1 && m <= 15, "m must be in [1, 15] (m nibbles in one long)")
    val centroids = ivfCentroids(corpus, nCells, refineIters = 0,
      sampleSize = nCells, idCol = idCol, vecCol = vecCol)
    val codebook = pqResidualCodebook(corpus, centroids, kSub, idCol, vecCol)
    val centMat = typedlit(centroids.map(_._2.toSeq).toSeq)
    def centOf(cell: Column): Column = element_at(centMat, cell + lit(1))
    val c = corpus.select(col(idCol).as("n_id"), toDouble(col(vecCol)).as("n_vec"))
      .withColumn("cell", element_at(cellRankCol(col("n_vec"), centroids), 1)("cell"))
      // materialize the residual once — pqPackedCodeCol slices it m·kSub times
      .withColumn("__res", zip_with(col("n_vec"), centOf(col("cell")), (a, b) => a - b))
      .withColumn("code", pqPackedCodeCol(col("__res"), codebook, m))
      .select(col("cell"), col("n_id"), col("code"))
    val q = queries.select(col(idCol).as("q_id"), toDouble(col(vecCol)).as("q_vec"))
      // LUT over the RAW query against the residual codebook (q·r term),
      // hoisted above the probe explode like the direct variant
      .withColumn("lut", pqLutCol(col("q_vec"), codebook, m))
      .withColumn("cell", explode(transform(
        slice(cellRankCol(col("q_vec"), centroids), 1, nProbe), s => s("cell"))))
      // per-(query, probed cell) centroid term — computed before the
      // candidate join, so it prices at |Q|·nProbe, not per candidate
      .withColumn("coff", dot(col("q_vec"), centOf(col("cell"))))
      .select(col("cell"), col("q_id"), col("lut"), col("coff"))
    val sims = q.join(c, Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        (col("coff") + pqAdcScore(col("lut"), col("code"), m)).as("sim"))
    rankTopK(sims, k)
  }

  /**
   * OPQ-style rotated IVF-PQ/ADC — [[ivfPqTopK]] run in the corpus's
   * PCA eigenbasis (the non-parametric OPQ initialization of Ge et al.,
   * CVPR 2013 §4: an orthogonal rotation before the subspace split).
   * Rotation by a FULL-RANK orthogonal matrix preserves every inner
   * product exactly — the exact ranking is unchanged — but it
   * decorrelates coordinates, so the m fixed contiguous subspaces each
   * carry a coherent variance slice instead of whatever axis-aligned
   * split the raw embedding happened to have: the standard recall
   * improvement at the same code budget when embeddings have
   * correlated axes.
   *
   * Everything downstream is the [[ivfPqTopK]] machinery verbatim over
   * the rotated frames; the rotated corpus is localCheckpointed once so
   * the centroid sample, cell assignment, and code passes don't re-run
   * the d² rotation dots. Determinism: the rotation is the
   * deterministic Jacobi eigenbasis ([[Pca.fit]] canonical signs), and
   * the oracle replays it from the side-exported model — the
   * list_inner_product/sequential-dot parity that already pins
   * `sim_topk_pca`.
   */
  def ivfPqOpqTopK(
      queries: DataFrame, corpus: DataFrame, k: Int,
      rotation: Pca.PcaModel,
      nCells: Int = 16, nProbe: Int = 4, m: Int = 8, kSub: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(rotation.nComponents == rotation.dim,
      "OPQ needs a FULL-RANK rotation (nComponents == dim) — a truncated " +
        "basis would silently drop score mass instead of re-axing it")
    val rc = Pca.rotate(corpus, rotation, idCol, vecCol).localCheckpoint()
    val rq = Pca.rotate(queries, rotation, idCol, vecCol)
    ivfPqTopK(rq, rc, k, nCells, nProbe, m, kSub, idCol = idCol, vecCol = "rot")
  }

  /**
   * Persist an IVF index: the production shape for repeated retrieval
   * over a fixed corpus. Cells become PARQUET PARTITION DIRECTORIES
   * (`cells/cell=<i>/`), each row carrying the packed int8 code, its
   * scale, and the original float vector (for rerank); the deterministic
   * centroids go to a tiny `centroids/` sidecar. The index build — the
   * only pass that touches every vector — is amortized across all later
   * query batches, and a query batch's probed cells turn into a
   * DIRECTORY-PRUNED scan (`cell IN (...)` is a partition filter, so
   * unprobed cells are never read from storage at all — cheaper than any
   * post-scan filter, and exactly how a 100 TB corpus avoids touching
   * (nCells - nProbe)/nCells of its bytes).
   */
  def writeIvfIndex(
      corpus: DataFrame, path: String, nCells: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding",
      pqM: Int = 8, pqKSub: Int = 16): Unit = {
    // same bounds the in-memory PQ path enforces — out-of-range values
    // would silently pack overlapping nibbles into stored pq_codes
    require(pqKSub >= 2 && pqKSub <= 16, "pqKSub must be in [2, 16] (4-bit packed codes)")
    require(pqM >= 1 && pqM <= 15, "pqM must be in [1, 15] (m nibbles in one long)")
    val spark = corpus.sparkSession
    import spark.implicits._
    val centroids = ivfCentroids(corpus, nCells, refineIters = 0,
      sampleSize = nCells, idCol = idCol, vecCol = vecCol)
    centroids.map { case (i, c) => (i, c.toSeq) }.toSeq
      .toDF("cell", "coefs").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/centroids")
    // PQ codebook sidecar: like the centroids, the stored sample is the
    // source of truth — appends must encode with the SAME codebook or
    // stored codes would stop being comparable (frozen geometry, same
    // caveat and same rebuild remedy as cell centroids). When the
    // geometries coincide the codebook IS the centroid sample — skip the
    // second md5-ordered corpus scan
    val codebook =
      if (pqKSub == nCells) centroids.map(_._2)
      else pqCodebook(corpus, pqKSub, idCol, vecCol)
    codebook.zipWithIndex.map { case (cb, i) => (i, cb.toSeq, pqM) }.toSeq
      .toDF("c", "coefs", "m").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/pqcodebook")
    indexRows(corpus, centroids, codebook, pqM, idCol, vecCol)
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/cells")
  }

  /** Resolve the index tree's LIVE root through the optional MANIFEST
    * generation pointer ([[graft.sink.FsOps.publishGeneration]] layout):
    * `<path>/<liveVersion>` for a versioned tree, `path` itself for a flat
    * legacy tree. One tiny-file read — no directory listing. Every
    * operation must resolve ONCE and derive all its subtree paths from
    * that single result: per-subtree resolution could straddle a
    * concurrent publish and silently mix generations (v1 centroids
    * scoring v2 codes). */
  private def liveIndexRoot(
      spark: org.apache.spark.sql.SparkSession, path: String): String = {
    val (hfs, root) = graft.sink.FsOps.fs(spark, path)
    graft.sink.FsOps.readManifest(hfs, root)
      .map(v => s"$path/$v").getOrElse(path)
  }

  /** Read the stored PQ codebook sidecar: (codebook rows in c order, m).
    * Fails with an actionable message on trees persisted before the PQ
    * sidecar existed. */
  /** @param resolvedRoot the LIVE root from [[liveIndexRoot]] — callers
    *   pass their operation's single resolution, never re-resolve here. */
  private def readPqCodebook(
      spark: org.apache.spark.sql.SparkSession, resolvedRoot: String): (Array[Array[Double]], Int) = {
    val sidecar = new org.apache.hadoop.fs.Path(s"$resolvedRoot/pqcodebook")
    val fs = sidecar.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(sidecar)) throw new IllegalStateException(
      s"index at $resolvedRoot has no pqcodebook/ sidecar (persisted by an older " +
        "build) — run writeIvfIndex over its cells/ to migrate")
    val rows = spark.read.parquet(sidecar.toString).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray, r.getInt(2)))
      .sortBy(_._1)
    (rows.map(_._2), rows.head._3)
  }

  /**
   * Append a batch to an existing [[writeIvfIndex]] tree WITHOUT
   * rebuilding: new vectors are assigned with the index's STORED
   * centroids (the sidecar is the source of truth — cell geometry must
   * stay fixed or every existing row would need reassignment) and their
   * rows land as new files inside the matching `cell=<i>/` directories.
   * The streaming-corpus posture at scale: daily batches append in one
   * bounded pass each, queries keep pruning by the same directories, and
   * a periodic full [[writeIvfIndex]] rebuild re-balances cells when
   * drift warrants it (the small-file story is the sink's `compact`).
   */
  def appendToIvfIndex(
      batch: DataFrame, path: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val spark = batch.sparkSession
    // ONE generation resolution for the whole append: a publish landing
    // between a per-subtree centroid read and the cells write would
    // append old-geometry rows into the new generation
    val live = liveIndexRoot(spark, path)
    val centroids: Array[(Int, Array[Double])] =
      spark.read.parquet(s"$live/centroids").collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    val (codebook, m) = readPqCodebook(spark, live)
    val rows = indexRows(batch, centroids, codebook, m, idCol, vecCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // exactly-once posture (the mergeStream/appendToDupGraph discipline):
    // a foreachBatch re-delivery must converge, not duplicate rows — ids
    // already present are dropped via an anti-join against ONLY the cell
    // directories this batch lands in (an `isin` partition filter: the
    // batch's cell set is ≤ nCells driver-bounded values, so the stored
    // side is a pruned id-column scan, never the whole index). Appends
    // are insert-only: a re-sent id with a CHANGED vector is dropped
    // (rebuild to re-encode), matching the frozen-geometry contract.
    val cells = rows.select("cell").distinct().collect().map(_.getInt(0))
    val existing = spark.read.parquet(s"$live/cells")
      .filter(col("cell").isin(cells.toIndexedSeq: _*))
      .select(col(idCol))
    val fresh = rows.join(existing, Seq(idCol), "left_anti").localCheckpoint()
    rows.unpersist(blocking = false)
    fresh.write.mode("append").partitionBy("cell")
      .parquet(s"$live/cells")
  }

  /**
   * Continuous index maintenance: every micro-batch of an embedding
   * stream appends into an existing [[writeIvfIndex]] tree through
   * [[appendToIvfIndex]] (stored-centroid assignment, bounded one-pass
   * batch work — the same stateless-foreachBatch posture as the
   * incremental-dedup stream: no streaming state store, the INDEX is the
   * state). Queries against the index see each batch as soon as its
   * files land; cell geometry never moves, so concurrent readers keep
   * pruning by the same directories.
   *
   * @param rebuildCheckEvery when > 0, every Nth micro-batch runs
   *   [[rebuildIfSkewed]] after its append — the health-gated rebuild
   *   wired into the maintenance loop itself. The foreachBatch worker IS
   *   the index's single writer, so the swap happens where the
   *   single-writer discipline already lives; the footer-priced health
   *   read keeps the common (balanced) case nearly free, and a drifting
   *   stream re-balances without an external operator in the loop.
   */
  def appendStreamToIvfIndex(
      stream: DataFrame, path: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      rebuildCheckEvery: Int = 0, nCells: Int = 16,
      rebuildThreshold: Double = IvfRebuildSkewThreshold)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        appendToIvfIndex(batch.toDF(), path, idCol, vecCol)
        if (rebuildCheckEvery > 0 && (id + 1) % rebuildCheckEvery == 0)
          rebuildIfSkewed(batch.sparkSession, path, nCells, idCol, vecCol,
            rebuildThreshold): Unit
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  /** Shared index-row projection: cell assignment + scale + packed int8
    * code + packed PQ code (one pass over the batch; exactly
    * [[quantizeInt8]]'s / [[pqPackedCodeCol]]'s arithmetic). */
  private def indexRows(
      corpus: DataFrame, centroids: Array[(Int, Array[Double])],
      codebook: Array[Array[Double]], pqM: Int,
      idCol: String, vecCol: String): DataFrame = {
    val packed = when(col("__scale") === lit(0.0),
      graft.functions.vectors.int8_pack(transform(col("__v"), _ => lit(0L))))
      .otherwise(graft.functions.vectors.int8_pack(transform(col("__v"), x =>
        floor(x * lit(127.0) / col("__scale") + lit(0.5)).cast("long"))))
    corpus.select(col(idCol), col(vecCol))
      .withColumn("__v", toDouble(col(vecCol)))
      .withColumn("cell", element_at(cellRankCol(col("__v"), centroids), 1)("cell"))
      .withColumn("__scale", array_max(transform(col("__v"), v => abs(v))))
      .select(col(idCol), col(vecCol), col("cell"),
        col("__scale").as("scale"), packed.as("code"),
        pqPackedCodeCol(col("__v"), codebook, pqM).as("pq_code"))
  }

  /**
   * Quantized retrieval over a [[writeIvfIndex]] tree. The query batch's
   * probed-cell union (≤ nCells values — driver-bounded by construction)
   * becomes an `isin` literal on the partition column, so the scan is
   * directory-pruned before any row is read; scoring and ranking are
   * identical to [[ivfQuantizedTopK]] (same centroids, same codes — the
   * two paths return the same rows, which the equivalence test and the
   * shared oracle pin).
   */
  /** @param kCand when > k, the int8 stage keeps `kCand` candidates per
    *   query and ONLY those are rescored with exact float cosines against
    *   the vectors STORED IN THE INDEX (still just the pruned cell
    *   directories — no second corpus pass), mirroring
    *   [[ivfQuantizedTopKRerank]]. 0 (default) = no rerank. */
  def ivfQuantizedTopKIndexed(
      indexPath: String, queries: DataFrame, k: Int, nProbe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding",
      kCand: Int = 0): DataFrame = {
    val spark = queries.sparkSession
    val live = liveIndexRoot(spark, indexPath) // one resolution per op
    val centroids: Array[(Int, Array[Double])] =
      spark.read.parquet(s"$live/centroids").collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    val q0 = queries.select(col(idCol).as("q_id"), toDouble(col(vecCol)).as("q_vec"))
    val q = q0
      .withColumn("cell", explode(transform(
        slice(cellRankCol(col("q_vec"), centroids), 1, nProbe), s => s("cell"))))
      .withColumn("q_scale", array_max(transform(col("q_vec"), v => abs(v))))
      .withColumn("q_q", when(col("q_scale") === lit(0.0),
        graft.functions.vectors.int8_pack(transform(col("q_vec"), _ => lit(0L))))
        .otherwise(graft.functions.vectors.int8_pack(transform(col("q_vec"), x =>
          floor(x * lit(127.0) / col("q_scale") + lit(0.5)).cast("long")))))
      .select(col("cell"), col("q_id"), col("q_scale"), col("q_q"))
    // the batch's probe-cell union: bounded by nCells, so the collect is a
    // handful of ints — it exists precisely to become a partition filter
    val probedCells = q.select("cell").distinct().collect().map(_.getInt(0)).sorted
    val cells = spark.read.parquet(s"$live/cells")
      .filter(col("cell").isin(probedCells.toIndexedSeq.map(_.asInstanceOf[Any]): _*))
    val c = cells.select(col("cell"), col(idCol).as("n_id"),
      col("scale").as("n_scale"), col("code").as("n_q"))
    val sims = q.join(c, Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        ((graft.functions.vectors.int8_dot(col("q_q"), col("n_q")).cast("double")
          * col("q_scale")) * col("n_scale") / lit(16129.0)).as("sim"))
    if (kCand <= k) rankTopK(sims, k)
    else {
      val cand = rankTopK(sims, kCand).select(col("q_id"), col("n_id"))
      val qv = q0.withColumn("q_norm", norm(col("q_vec")))
      val nv = cells.select(col(idCol).as("n_id"), toDouble(col(vecCol)).as("n_vec"))
        .withColumn("n_norm", norm(col("n_vec")))
      val exact = cand.join(qv, Seq("q_id")).join(nv, Seq("n_id"))
        .select(col("q_id"), col("n_id"),
          (dot(col("q_vec"), col("n_vec")) / (col("q_norm") * col("n_norm")))
            .as("sim"))
      rankTopK(exact, k)
    }
  }

  /**
   * PQ/ADC retrieval over a [[writeIvfIndex]] tree — the stored `pq_code`
   * longs scored through per-query lookup tables built from the
   * `pqcodebook/` sidecar. Same directory-pruned scan as
   * [[ivfQuantizedTopKIndexed]] (the probe set is an `isin` partition
   * filter), but the candidate pass reads 4 BYTES of code per vector
   * instead of the dim-byte int8 code — the bandwidth rung a 100 TB
   * corpus scan cares about. Row-identical to [[ivfPqTopK]] over the same
   * corpus by construction (same md5 centroid sample, same codebook, same
   * fold orders — the shared-oracle pattern of the int8 indexed path).
   *
   * @param kCand when > k: ADC keeps kCand candidates and ONLY those are
   *   rescored with exact float cosines from the vectors stored in the
   *   pruned cell directories (mirrors [[ivfPqTopKRerank]]).
   */
  def ivfPqTopKIndexed(
      indexPath: String, queries: DataFrame, k: Int, nProbe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding",
      kCand: Int = 0): DataFrame = {
    val spark = queries.sparkSession
    val live = liveIndexRoot(spark, indexPath) // one resolution per op
    val centroids: Array[(Int, Array[Double])] =
      spark.read.parquet(s"$live/centroids").collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    val (codebook, m) = readPqCodebook(spark, live)
    val q0 = queries.select(col(idCol).as("q_id"), toDouble(col(vecCol)).as("q_vec"))
    val q = q0
      .withColumn("lut", pqLutCol(col("q_vec"), codebook, m))
      .withColumn("cell", explode(transform(
        slice(cellRankCol(col("q_vec"), centroids), 1, nProbe), s => s("cell"))))
      .select(col("cell"), col("q_id"), col("lut"))
    val probedCells = q.select("cell").distinct().collect().map(_.getInt(0)).sorted
    val cells = spark.read.parquet(s"$live/cells")
      .filter(col("cell").isin(probedCells.toIndexedSeq.map(_.asInstanceOf[Any]): _*))
    val c = cells.select(col("cell"), col(idCol).as("n_id"), col("pq_code"))
    val sims = q.join(c, Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        pqAdcScore(col("lut"), col("pq_code"), m).as("sim"))
    if (kCand <= k) rankTopK(sims, k)
    else {
      val cand = rankTopK(sims, kCand).select(col("q_id"), col("n_id"))
      val qv = q0.withColumn("q_norm", norm(col("q_vec")))
      val nv = cells.select(col(idCol).as("n_id"), toDouble(col(vecCol)).as("n_vec"))
        .withColumn("n_norm", norm(col("n_vec")))
      val exact = cand.join(qv, Seq("q_id")).join(nv, Seq("n_id"))
        .select(col("q_id"), col("n_id"),
          (dot(col("q_vec"), col("n_vec")) / (col("q_norm") * col("n_norm")))
            .as("sim"))
      rankTopK(exact, k)
    }
  }

  /**
   * Skew ratio above which [[ivfIndexHealth]] recommends a full
   * [[writeIvfIndex]] rebuild. [[appendToIvfIndex]] keeps cell geometry
   * fixed forever, so a drifting corpus concentrates appends into a few
   * cells; once the hottest cell holds ≥ 4× its fair share, any probe
   * touching it scans ≥ 4× the bytes the (nProbe/nCells) cost model
   * promises — the pruning win the index exists for is gone for exactly
   * the queries that land there. 4 is the standard "hot partition"
   * alarm line (same order as AQE's skew-join factor of 5); rebuilds
   * re-sample centroids over the grown corpus and re-balance every cell.
   */
  val IvfRebuildSkewThreshold: Double = 4.0

  /**
   * Index health over a [[writeIvfIndex]] tree: per-cell occupancy plus
   * the skew ratio driving the documented rebuild policy — the
   * queryable-metadata posture of the reference's partition catalog
   * (`DynamicPartitionedFilesetSinkTest.java:155-162`: partitions are a
   * first-class queryable surface, not opaque directories).
   *
   * Cost model at 100 TB: the occupancy count is one count-star
   * aggregate grouped on the PARTITION column — column-pruned to
   * zero data columns, answered from parquet footer row counts per
   * `cell=<i>/` directory, no vector bytes read. The centroid sidecar
   * (≤ nCells rows) is the spine so cells emptied by drift still report
   * `n_rows = 0` instead of vanishing; every window below runs over
   * ≤ nCells aggregated rows, not corpus rows.
   *
   * Returns one row per cell: (cell, n_rows, occupancy_ratio = n/mean,
   * skew_ratio = max/mean — identical on every row, it is the global
   * verdict, rebuild_recommended = skew_ratio ≥
   * [[IvfRebuildSkewThreshold]]).
   */
  def ivfIndexHealth(
      spark: org.apache.spark.sql.SparkSession, indexPath: String): DataFrame = {
    val live = liveIndexRoot(spark, indexPath) // one resolution per op
    val spine = spark.read.parquet(s"$live/centroids").select("cell")
    val occ = spark.read.parquet(s"$live/cells")
      .groupBy("cell").agg(count(lit(1)).as("n_rows"))
    val full = spine.join(occ, Seq("cell"), "left")
      .select(col("cell").cast("int").as("cell"),
        coalesce(col("n_rows"), lit(0L)).as("n_rows"))
    val w = Window.partitionBy().rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val meanRows = sum(col("n_rows")).over(w).cast("double") /
      count(lit(1)).over(w).cast("double")
    full
      .withColumn("occupancy_ratio", col("n_rows").cast("double") / meanRows)
      .withColumn("skew_ratio", max(col("n_rows")).over(w).cast("double") / meanRows)
      .withColumn("rebuild_recommended",
        col("skew_ratio") >= lit(IvfRebuildSkewThreshold))
  }

  /**
   * Full rebuild of a [[writeIvfIndex]] tree over its CURRENT contents
   * (original rows + every appended batch): re-sample centroids from the
   * grown corpus, rewrite every cell balanced, swap in place. This is
   * the HOW to [[ivfIndexHealth]]'s WHEN — the operational loop is
   * append continuously, read the health row, rebuild once
   * `rebuild_recommended` trips.
   *
   * The new tree is written COMPLETELY into a sibling staging directory
   * before any destructive step (the corpus read out of the old cells
   * finishes during that write). The publish step depends on the layout:
   *
   *  - FLAT tree (the [[writeIvfIndex]] default): the old
   *    `cells/`+`centroids/`+`pqcodebook/` are swapped out via directory
   *    renames — metadata operations through the Hadoop FileSystem API,
   *    so the vulnerable window is rename-sized, not rewrite-sized, and a
   *    crashed swap self-heals on the next run (`FsOps.swapIn`). Correct
   *    on any FS with directory rename; on object stores renames are
   *    copy-sized — use the versioned layout there.
   *  - VERSIONED tree ([[writeIvfIndexVersioned]]): the staging dir
   *    becomes generation `v<N+1>` and the MANIFEST pointer flips in ONE
   *    small-file write — atomic on object stores, and all three subtrees
   *    change generation together (the flat path's three sequential swaps
   *    cannot mix generations here by construction).
   */
  def rebuildIvfIndex(
      spark: org.apache.spark.sql.SparkSession, path: String, nCells: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    import org.apache.hadoop.fs.Path
    val (hfs, root) = graft.sink.FsOps.fs(spark, path)
    val versioned = graft.sink.FsOps.readManifest(hfs, root).isDefined
    // heal a crashed prior FLAT swap BEFORE reading the tree — a crash
    // between swapIn's two renames leaves cells/ (or a sidecar) retired
    // with no replacement, and reading it first would throw before any
    // heal ran. (The versioned layout has no such state: an interrupted
    // publish leaves only an unreferenced generation dir.)
    if (!versioned) Seq("cells", "centroids", "pqcodebook").foreach(d =>
      graft.sink.FsOps.healSwap(hfs, new Path(root, d)))
    val live = liveIndexRoot(spark, path) // one resolution per rebuild
    val corpus = spark.read.parquet(s"$live/cells")
      .select(col(idCol), col(vecCol))
    // carry the index's PQ geometry (m, kSub) through the rebuild — the
    // codebook itself is re-sampled over the grown corpus, like centroids
    val (oldCodebook, oldM) = readPqCodebook(spark, live)
    val staging = new Path(root, ".rebuild")
    graft.sink.FsOps.deleteIfExists(hfs, staging)
    writeIvfIndex(corpus, staging.toString, nCells, idCol, vecCol,
      pqM = oldM, pqKSub = oldCodebook.length)
    if (versioned) { graft.sink.FsOps.publishGeneration(hfs, root, staging): Unit }
    else {
      Seq("cells", "centroids", "pqcodebook").foreach(d =>
        graft.sink.FsOps.swapIn(hfs, new Path(staging, d), new Path(root, d)))
      graft.sink.FsOps.deleteIfExists(hfs, staging)
    }
  }

  /**
   * [[writeIvfIndex]] in the VERSIONED generation layout — the
   * object-store-safe shape: the whole generation
   * (`cells/`+`centroids/`+`pqcodebook/`) is staged as one immutable
   * directory and published by [[graft.sink.FsOps.publishGeneration]] —
   * `v<N+1>/` plus a one-small-file MANIFEST flip (a single PUT where
   * directory rename is a key-by-key copy). Every reader and
   * [[appendToIvfIndex]] resolve the manifest first, so queries, appends,
   * health reads, and [[rebuildIvfIndex]] all work unchanged on either
   * layout; the previous generation stays on disk until the NEXT publish,
   * so a reader that resolved just before a flip finishes its scan
   * against a complete, immutable tree.
   */
  def writeIvfIndexVersioned(
      corpus: DataFrame, path: String, nCells: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding",
      pqM: Int = 8, pqKSub: Int = 16): Unit = {
    import org.apache.hadoop.fs.Path
    val spark = corpus.sparkSession
    val (hfs, root) = graft.sink.FsOps.fs(spark, path)
    hfs.mkdirs(root)
    val staging = new Path(root, ".gen_staging")
    graft.sink.FsOps.deleteIfExists(hfs, staging)
    writeIvfIndex(corpus, staging.toString, nCells, idCol, vecCol, pqM, pqKSub)
    graft.sink.FsOps.publishGeneration(hfs, root, staging): Unit
  }

  /** Read the index's skew verdict and rebuild only if it breaches
    * `threshold` (default [[IvfRebuildSkewThreshold]] — the documented
    * policy). Returns whether a rebuild ran. The health read costs
    * parquet footers; the rebuild costs one full index pass — which is
    * the point of gating it. */
  def rebuildIfSkewed(
      spark: org.apache.spark.sql.SparkSession, path: String, nCells: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding",
      threshold: Double = IvfRebuildSkewThreshold): Boolean = {
    val skew = ivfIndexHealth(spark, path)
      .select("skew_ratio").head().getDouble(0)
    if (skew >= threshold) { rebuildIvfIndex(spark, path, nCells, idCol, vecCol); true }
    else false
  }

  /** [[quantizeInt8]] with the code vector PACKED to binary (exactly dim
    * bytes per vector — the representation [[ivfQuantizedTopK]] ships
    * through shuffles/broadcasts; score packed codes with
    * `graft.functions.vectors.int8_dot`). */
  def quantizeInt8Packed(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    quantizeInt8(df, idCol, vecCol).select(col(idCol), col("scale"),
      graft.functions.vectors.int8_pack(col("qvec")).as("code"))

  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val x = col(vecCol)
    val scale = array_max(transform(x, v => abs(v.cast("double"))))
    df.select(col(idCol),
      scale.as("scale"),
      when(scale === lit(0.0), transform(x, _ => lit(0L)))
        .otherwise(transform(x, v =>
          floor(v.cast("double") * lit(127.0) / scale + lit(0.5))))
        .as("qvec"))
  }
}

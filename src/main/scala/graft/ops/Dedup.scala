package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/**
 * Deduplication operators for large-scale training-data pipelines: exact,
 * MinHash+LSH, SimHash, and n-gram Jaccard. All are pure
 * `DataFrame => DataFrame` transforms built from codegen'd
 * `org.apache.spark.sql.functions` — no UDFs, no driver-side row handling —
 * so every stage is a shuffle-bounded distributed job that scales with
 * partition count.
 *
 * Scale notes (100 TB posture):
 *  - candidate generation is always blocking/banded (LSH bands, shared
 *    n-grams) — never an all-pairs cross join;
 *  - inverted-index joins cap posting-list length (`maxDocFreq`) so a stop
 *    n-gram cannot produce a quadratic pair explosion;
 *  - clustering is iterative min-label propagation (bounded sweeps of
 *    hash-partitioned joins), not a driver-side union-find.
 */
object Dedup {

  /** Canonical text normalization shared by all text-dedup operators:
    * lowercase, trim, collapse runs of whitespace to single spaces. */
  def normalize(c: Column): Column = regexp_replace(lower(trim(c)), "\\s+", " ")

  /**
   * Skew-safe per-posting document frequency: attach `__df` = number of
   * documents containing each gram. Two-level aggregate + equi-join rather
   * than `count(1) OVER (PARTITION BY gram)`: the window form lands a
   * stop-gram's ENTIRE posting list in one window partition (a straggler no
   * planner can split), while the aggregate does map-side partial counts
   * (each task emits one row per local gram) and the subsequent join on
   * gram is an ordinary shuffle join that AQE skew-handling CAN split —
   * the count row is replicated across the split partitions. `posted`
   * should be backed by a cache when it feeds other branches.
   */
  private def withGramDocFreq(posted: DataFrame): DataFrame = {
    val gramDf = posted.groupBy(col("gram")).agg(count(lit(1)).as("__df"))
    posted.join(gramDf, Seq("gram"))
  }

  // ---------------------------------------------------------------- exact

  /** Exact dedup by content hash: one row per distinct value of `textCol`
    * with the minimal `idCol` as the surviving representative and the
    * duplicate count. A single hash-partitioned aggregation. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol).cast("binary")).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Surviving rows after exact dedup (keep the min-id row per distinct
    * text). Equivalent to dropDuplicates with a deterministic winner.
    * Two-level aggregate + semi-join rather than
    * `row_number() OVER (PARTITION BY text)`: a heavily-duplicated document
    * puts its whole group in one window partition (unsplittable straggler),
    * while the aggregate partial-combines map-side and the semi-join is
    * AQE-splittable. Both the aggregate and the join key on a fixed-width
    * 16-byte `md5(text)` digest, never the raw text — a kilobytes-per-row
    * text column as a shuffle key would move the full corpus text through
    * BOTH shuffles (this exact mistake cost a measured 5× at sf0.1; md5
    * identity is already what [[exact]] trusts). Assumes `idCol` is unique
    * per row (as an id is). */
  def exactSurvivors(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val digest = md5(col(textCol).cast("binary"))
    val winners = df.select(digest.as("__win_h"), col(idCol).as("__win_id"))
      .groupBy(col("__win_h")).agg(min(col("__win_id")).as("__win_id"))
    df.withColumn("__h", digest)
      .join(winners, col("__h") === col("__win_h") &&
        col(idCol) === col("__win_id"), "left_semi")
      .select(df.columns.toIndexedSeq.map(col): _*)
  }

  /**
   * Representative-selection policy over near-dup clusters: keep, per
   * cluster, the member with the HIGHEST score (ties → smallest id) — the
   * quality-weighted alternative to min-id survivorship that production
   * dedup pipelines prefer (drop the boilerplate copy, keep the clean
   * one). `clusters` is (idCol, clusterCol) e.g. from [[minhashDedup]];
   * `scores` is (idCol, scoreCol) e.g. from
   * [[TextAnalysis.qualityScore]].
   *
   * One id-keyed join plus one window partitioned by cluster id — group
   * size is bounded by cluster size (near-dup clusters are tiny), so no
   * skew cliff at scale.
   */
  def keepBest(
      clusters: DataFrame, scores: DataFrame,
      idCol: String, clusterCol: String, scoreCol: String): DataFrame = {
    val joined = clusters.join(scores, Seq(idCol))
    val w = Window.partitionBy(col(clusterCol))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    joined.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  // ---------------------------------------------------- n-gram Jaccard

  /** Distinct, sorted word n-grams of normalized text, joined by single
    * spaces — native [[graft.functions.WordNgrams]] expression (the
    * declarative `array_distinct(transform(...))` pipeline costs ~1 ms/doc
    * in interpreter overhead; the native pass is ~30 µs). Empty array when
    * the text has fewer than `n` tokens. */
  def wordNgrams(text: Column, n: Int): Column =
    graft.functions.hashes.word_ngrams(text, n)

  /**
   * Exact n-gram Jaccard similarity pairs via an inverted-index join:
   * explode distinct n-grams, join postings on the n-gram (so only pairs
   * sharing at least one n-gram are ever materialized), count shared grams,
   * and compute |A∩B| / (|A|+|B|-|A∩B|) >= threshold.
   *
   * @param maxDocFreq drop n-grams appearing in more than this many docs
   *   (posting-list cap — bounds the join fan-out; pairs whose similarity
   *   rests only on stop-grams are not near-duplicates anyway). Pass
   *   Int.MaxValue for exact semantics (required for oracle parity).
   */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8,
      maxDocFreq: Int = Int.MaxValue): DataFrame = {
    val grams = df
      .select(col(idCol).as("doc_id"), wordNgrams(col(textCol), n).as("g"))
      .filter(size(col("g")) > 0) // native wordNgrams: empty when tokens < n
      .select(col("doc_id"), col("g"), size(col("g")).as("n_grams"))
    val postings0 = grams.select(col("doc_id"), col("n_grams"),
      explode(col("g")).as("gram"))
    val postings =
      if (maxDocFreq == Int.MaxValue) postings0
      else {
        // doc-frequency cap via two-level aggregate + join (skew-safe: a
        // window count over the gram would serialize a stop-gram's full
        // posting list into one partition); cache the postings so the
        // n-gram pipeline is evaluated once across both branches
        val cached = postings0.cache()
        withGramDocFreq(cached)
          .filter(col("__df") <= maxDocFreq).drop("__df")
      }
    val a = postings.select(col("gram"), col("doc_id").as("a_id"), col("n_grams").as("la"))
    val b = postings.select(col("gram"), col("doc_id").as("b_id"), col("n_grams").as("lb"))
    a.join(b, Seq("gram")).filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id", "la", "lb")
      .agg(count(lit(1)).as("common"))
      .withColumn("jac",
        col("common").cast("double") / (col("la") + col("lb") - col("common")))
      .filter(col("jac") >= threshold)
      .select("a_id", "b_id", "common", "la", "lb", "jac")
  }

  /** Size-dispatched exact n-gram Jaccard pairs: the naive inverted index
    * below `prefixFilterMinDocs` documents (fewer shuffles — measured
    * crossover ~10k docs), the PPJoin-style prefix filter
    * ([[ngramJaccardPairsPrefix]]) above it. Results are identical on
    * either path (both exact). */
  def ngramJaccardPairsAuto(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8,
      prefixFilterMinDocs: Long = 10000L): DataFrame =
    if (df.count() < prefixFilterMinDocs)
      ngramJaccardPairs(df, idCol, textCol, n, threshold)
    else
      ngramJaccardPairsPrefix(df, idCol, textCol, n, threshold)

  /**
   * N-gram CONTAINMENT pairs — the decontamination primitive: find document
   * pairs where one side's gram set is mostly inside the other's
   * (containment(A→B) = |A∩B|/|A|), regardless of relative lengths.
   * Catches benchmark leakage / quote inclusion that symmetric Jaccard
   * misses (a short doc embedded in a long one has low Jaccard but high
   * containment). Same inverted-index join shape as [[ngramJaccardPairs]].
   */
  def ngramContainmentPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.9,
      prefixFilterMinDocs: Long = 10000L): DataFrame = {
    def grams = df
      .select(col(idCol).as("doc_id"), wordNgrams(col(textCol), n).as("g"))
      .filter(size(col("g")) > 0) // native wordNgrams: empty when tokens < n
      .select(col("doc_id"), col("g"), size(col("g")).as("n_grams"))
    // Size-based dispatch (measured crossover ~10k docs at bench scale):
    // the asymmetric prefix filter saves candidate volume asymptotically but
    // costs two extra shuffles (gram-df join + per-doc rank window) plus the
    // verify join — below the threshold the single-shuffle naive inverted
    // index is strictly faster. The dispatch count reads only the id column
    // (no text processing — parquet column-pruned scan).
    if (df.count() < prefixFilterMinDocs)
      containmentNaive(grams, threshold) // lazy; gram pipeline is cheap at this n
    else {
      // cached: the gram arrays feed three plan branches (postings, verify
      // side A, verify side B); released once the (tiny) result is
      // materialized
      val g = grams.cache()
      val out = containmentPrefix(g, threshold).localCheckpoint()
      g.unpersist(blocking = true)
      out
    }
  }

  /** Naive containment: full inverted-index self-join; common counted
    * directly from shared-gram postings — one shuffle join + one agg. */
  private def containmentNaive(grams: DataFrame, threshold: Double): DataFrame = {
    val posted = grams.select(col("doc_id"), col("n_grams"),
      explode(col("g")).as("gram"))
    val a = posted.select(col("gram"), col("doc_id").as("a_id"), col("n_grams").as("la"))
    val b = posted.select(col("gram"), col("doc_id").as("b_id"), col("n_grams").as("lb"))
    a.join(b, Seq("gram")).filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id", "la", "lb")
      .agg(count(lit(1)).as("common"))
      .withColumn("cont_a", col("common").cast("double") / col("la"))
      .withColumn("cont_b", col("common").cast("double") / col("lb"))
      .filter(greatest(col("cont_a"), col("cont_b")) >= threshold)
      .select("a_id", "b_id", "common", "la", "lb", "cont_a", "cont_b")
  }

  /** Prefix-filtered containment — the corpus-scale path. Asymmetric prefix
    * filter: containment(X→Y) >= t needs overlap >= t·|X|, so X must share
    * a gram within its own ⌊(1-t)|X|⌋+1 rarest grams with Y — candidates
    * come from prefix(X) ⋈ full-postings(Y) (both orientations via the a<b
    * symmetrization below), then exact verification against the full sorted
    * gram sets. Same +1e-9 FP guard as the Jaccard prefix join. */
  private def containmentPrefix(grams: DataFrame, threshold: Double): DataFrame = {
    val posted = grams.select(col("doc_id"), col("n_grams"),
      explode(col("g")).as("gram"))
    val prefixes = withGramDocFreq(posted)
      .withColumn("__rank", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("__df").asc, col("gram").asc)))
      .filter(col("__rank") <=
        floor(lit(1.0 - threshold) * col("n_grams") + lit(1e-9)).cast("int") + 1)
      .select(col("gram"), col("doc_id").as("x_id"))
    val full = posted.select(col("gram"), col("doc_id").as("y_id"))
    val cands = prefixes.join(full, Seq("gram"))
      .filter(col("x_id") =!= col("y_id"))
      .select(least(col("x_id"), col("y_id")).as("a_id"),
        greatest(col("x_id"), col("y_id")).as("b_id"))
      .distinct()
    val ga = grams.select(col("doc_id").as("a_id"), col("g").as("ga"),
      col("n_grams").as("la"))
    val gb = grams.select(col("doc_id").as("b_id"), col("g").as("gb"),
      col("n_grams").as("lb"))
    cands.join(ga, Seq("a_id")).join(gb, Seq("b_id"))
      .withColumn("common",
        graft.functions.vectors.sorted_intersect_count(col("ga"), col("gb")))
      .withColumn("cont_a", col("common").cast("double") / col("la"))
      .withColumn("cont_b", col("common").cast("double") / col("lb"))
      .filter(greatest(col("cont_a"), col("cont_b")) >= threshold)
      .select("a_id", "b_id", "common", "la", "lb", "cont_a", "cont_b")
  }

  /**
   * Cross-corpus decontamination report: for every (corpus doc, benchmark
   * item) pair sharing n-grams, the containment of the BENCHMARK item in
   * the corpus document (|ref∩doc| / |ref| — "how much of this eval item
   * leaked into this training doc"). The benchmark side is small by nature
   * (eval sets are thousands of items, the corpus is the 100 TB side), so
   * its exploded gram index is explicitly `broadcast()`: the corpus scan
   * streams map-side against it — no shuffle of the big side at all.
   * Self-pairs (same id) are excluded.
   *
   * Size-dispatched: the broadcast only happens when the exploded benchmark
   * index is small enough (`maxBroadcastGramRows`, counted with one pass
   * over the benchmark — the cheap side by definition). A large eval-suite
   * union (100k+ items × dozens of grams each) would exceed the broadcast
   * ceiling and OOM the driver; above the threshold the join falls back to
   * an ordinary shuffle hash join on the gram — the corpus side still
   * shuffles only (doc_id, gram) pairs, never text.
   */
  def decontaminationReport(
      corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8,
      maxBroadcastGramRows: Long = 2000000L): DataFrame = {
    val cposted = corpus
      .select(col(idCol).as("doc_id"), wordNgrams(col(textCol), n).as("g"))
      .filter(size(col("g")) > 0)
      .select(col("doc_id"), explode(col("g")).as("gram"))
    val rposted0 = benchmark
      .select(col(idCol).as("ref_id"), wordNgrams(col(textCol), n).as("g"))
      .filter(size(col("g")) > 0)
      .select(col("ref_id"), size(col("g")).as("r_grams"),
        explode(col("g")).as("gram"))
      .cache() // one count pass + the join read; released by caller/clearCache
    val rposted =
      if (rposted0.count() <= maxBroadcastGramRows) broadcast(rposted0)
      else rposted0
    cposted.join(rposted, Seq("gram"))
      .filter(col("doc_id") =!= col("ref_id"))
      .groupBy("doc_id", "ref_id", "r_grams")
      .agg(count(lit(1)).as("common"))
      .withColumn("containment", col("common").cast("double") / col("r_grams"))
      .filter(col("containment") >= threshold)
      .select("doc_id", "ref_id", "common", "r_grams", "containment")
  }

  /**
   * Incremental MinHash dedup — the production shape at 100 TB: dedup a NEW
   * batch against an already-signed historical corpus without re-signing
   * history. Joins the new batch's LSH bands against the historical band
   * index; returns (new_id, existing_id, est_jaccard) matches. The
   * historical side is `minhashSignatures` output persisted from prior
   * runs (at scale: a bucketed table keyed by band hash).
   */
  def incrementalMinhashMatches(
      newDocs: DataFrame, idCol: String, textCol: String,
      corpusSigs: DataFrame,
      numHashes: Int = 64, shingleLen: Int = 5,
      bands: Int = 16, threshold: Double = 0.7): DataFrame = {
    require(numHashes % bands == 0)
    val r = numHashes / bands
    // id-only banded sides (the corpus band index would otherwise carry the
    // 64-lane signature through the big join — see minhashCandidatePairs);
    // signatures are fetched per UNIQUE candidate pair afterwards. At
    // production scale corpusSigs is a persisted table, so the two
    // id-keyed fetch joins read it where it rests.
    def banded(sigs: DataFrame, side: String) = sigs.select(
      col("doc_id").as(s"${side}_id"),
      posexplode(transform(
        sequence(lit(0), lit(bands - 1)),
        bnd => xxhash64(slice(col("sig"), bnd * r + 1, lit(r))))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_hash")
    // new-batch signatures cached: they feed the band index and the fetch
    // join (the native signature pass is the expensive part). The corpus
    // side is ALSO read twice now — materialize it only if the caller
    // hasn't (a persisted/at-rest signature table, the production shape,
    // must not be cache-thrashed or unpersisted out from under the caller)
    val newSigs = minhashSignatures(newDocs, idCol, textCol, numHashes, shingleLen)
      .cache()
    val corpusUnpersisted =
      corpusSigs.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    val cs = if (corpusUnpersisted) corpusSigs.cache() else corpusSigs
    val cands = banded(newSigs, "new")
      .join(banded(cs, "old"), Seq("band", "band_hash"))
      .select(col("new_id"), col("old_id")).distinct()
    val result = cands
      .join(newSigs.select(col("doc_id").as("new_id"), col("sig").as("new_sig")),
        Seq("new_id"))
      .join(cs.select(col("doc_id").as("old_id"), col("sig").as("old_sig")),
        Seq("old_id"))
      .select(col("new_id"), col("old_id"),
        (size(filter(zip_with(col("new_sig"), col("old_sig"), (x, y) => x === y),
          bit => bit)).cast("double") / numHashes).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
    val out = result.localCheckpoint()
    newSigs.unpersist(blocking = true)
    if (corpusUnpersisted) cs.unpersist(blocking = true)
    out
  }

  /**
   * Bloom-filter incremental EXACT dedup — accept from a new batch only the
   * documents whose text does not already exist in the corpus. The corpus
   * compresses to one Bloom sketch (`BloomFilterAggregate` over
   * `xxhash64(text)` — the same machinery Spark's runtime row-level join
   * filtering uses), built in a single distributed aggregate; the new batch
   * is then filtered MAP-SIDE against the sketch, and only the tiny
   * might-contain slice (true duplicates + the fpp·|batch| false positives)
   * pays an exact verification anti-join on md5 digests. The result is
   * EXACT — the sketch only prunes the join input, false positives are
   * eliminated by the verify step — so novel-doc acceptance is
   * oracle-checkable as a plain anti-join.
   *
   * 100 TB posture: the sketch is ~`1.2·n·ln(1/fpp)` bits (e.g. 10⁹ corpus
   * docs at fpp 0.01 ≈ 1.2 GB) held on the driver and shipped once per
   * executor as a literal — the corpus itself is never joined against,
   * and the definite-miss fraction (≥ 1−fpp of a mostly-novel batch) never
   * shuffles at all. Persist the sketch bytes between runs to skip the
   * corpus aggregate entirely (the production shape, mirroring
   * [[incrementalMinhashMatches]]'s persisted signatures).
   */
  def bloomNovelDocs(
      newDocs: DataFrame, idCol: String, textCol: String,
      corpus: DataFrame, fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graft.{GraftSqlBridge => Bridge}
    import org.apache.spark.sql.types.BinaryType
    val nItems = math.max(corpus.count(), 1L)
    val nBits = org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(nItems, fpp)
    val sketchCol = Bridge.column(
      new BloomFilterAggregate(
        Bridge.expression(xxhash64(col(textCol))),
        Literal(nItems), Literal(nBits)).toAggregateExpression())
    val sketch = corpus.agg(sketchCol.as("bf")).head().getAs[Array[Byte]](0)
    if (sketch == null) return newDocs // empty corpus: everything is novel
    val might = Bridge.column(BloomFilterMightContain(
      Literal(sketch, BinaryType),
      Bridge.expression(xxhash64(col(textCol)))))
    val definiteNovel = newDocs.filter(!might)
    // exact verify for the might-contain slice only: anti-join on fixed-width
    // digests (never the raw text — see exactSurvivors)
    val corpusDigests = corpus
      .select(md5(col(textCol).cast("binary")).as("__corpus_h"))
    val confirmedNovel = newDocs.filter(might)
      .withColumn("__h", md5(col(textCol).cast("binary")))
      .join(corpusDigests, col("__h") === col("__corpus_h"), "left_anti")
      .select(newDocs.columns.toIndexedSeq.map(col): _*)
    definiteNovel.union(confirmedNovel)
  }

  /**
   * EXACT n-gram Jaccard pairs via prefix filtering (PPJoin-style) — the
   * 100 TB path. Theorem: if jaccard(A,B) >= t, then A and B must share at
   * least one gram within the first ⌊(1-t)·|X|⌋+1 grams of each set under
   * any consistent global ordering. So: order grams globally by ascending
   * document frequency (rarest first — smallest posting lists), index ONLY
   * each document's prefix, generate candidates from the prefix index, and
   * verify candidates against the full gram sets with `array_intersect`.
   * Candidate volume shrinks ~((1-t))² versus the full inverted index while
   * the result stays exactly equal to [[ngramJaccardPairs]].
   */
  def ngramJaccardPairsPrefix(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8): DataFrame =
    prefixFilteredPairs(df, idCol, textCol, n, threshold, probeIds = None)

  /**
   * The PPJoin core behind [[ngramJaccardPairsPrefix]], with an optional
   * PROBE RESTRICTION — the incremental-append primitive: when `probeIds`
   * is set, only pairs with AT LEAST ONE endpoint in the probe set are
   * emitted (canonicalized `a_id < b_id`, exact — the prefix theorem
   * needs the shared gram in BOTH prefixes, so restricting ONE join side
   * to the probe docs' prefixes still finds every qualifying
   * probe-touching pair while the candidate join's probe side shrinks to
   * the new-batch slice). `df` must contain the probe docs (the global
   * document-frequency ordering is corpus-wide either way — any
   * consistent order is correct; using the current corpus's keeps the
   * prefixes minimal).
   */
  private[graft] def prefixFilteredPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, probeIds: Option[DataFrame]): DataFrame = {
    // materialized once — the gram arrays feed three plan branches
    // (posting list, verify-side A, verify-side B); without caching the
    // tokenize+ngram pipeline would be recomputed per branch (measured 3×
    // the whole query's cost via tools/NgramProfile). Arrays kept SORTED so
    // verification can use the O(n+m) merge-count expression.
    val grams = df
      .select(col(idCol).as("doc_id"), wordNgrams(col(textCol), n).as("g"))
      .filter(size(col("g")) > 0) // native wordNgrams is already sorted
      .withColumn("n_grams", size(col("g")))
      .cache()
    // global order: (document frequency asc, gram) — computed once, via the
    // skew-safe two-level aggregate (see withGramDocFreq)
    val posted = grams.select(col("doc_id"), col("n_grams"),
      explode(col("g")).as("gram"))
    // per-doc prefix: sort this doc's grams by the global order, keep
    // floor((1-t)*|g|)+1 of them. The +1e-9 guard matters for correctness:
    // (1-0.8) is 0.19999999999999996 in binary, so floor((1-t)*90) would be
    // 17 instead of the mathematically-exact 18 — a one-short prefix that
    // can MISS a qualifying pair (observed: 255 vs 256 pairs at sf0.1).
    val prefixes = withGramDocFreq(posted)
      .withColumn("__rank", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("__df").asc, col("gram").asc)))
      .filter(col("__rank") <=
        floor(lit(1.0 - threshold) * col("n_grams") + lit(1e-9)).cast("int") + 1)
      .select(col("gram"), col("doc_id"), col("n_grams"), col("__rank"))
    // candidates, with two exact prune rules applied during the join:
    //  - length filter: jac >= t requires t·max(|A|,|B|) <= min(|A|,|B|)
    //  - PPJoin positional filter: a gram matched at (1-based) positions
    //    (pa, pb) of the globally-sorted gram lists bounds the overlap by
    //    1 + min(la-pa, lb-pb), which must reach the Jaccard-equivalent
    //    overlap threshold t/(1+t)·(la+lb)
    // both with the 1e-9 guard so exact-ratio pairs never drop to FP error
    val a0 = prefixes.select(col("gram"), col("doc_id").as("a_id"),
      col("n_grams").as("la"), col("__rank").as("pa"))
    // probe restriction: only the probe docs' prefixes enter the hot
    // join's left side (an id-keyed semi-join — the probe set is a new
    // batch, small relative to the corpus posting lists)
    val a = probeIds.fold(a0) { ids =>
      // resolve the probe id by the caller's idCol name when present;
      // a positional columns.head grab on a multi-column frame whose
      // first column is NOT the id would silently compute a wrong
      // (likely empty) probe set instead of failing
      val probeCol =
        if (ids.columns.contains(idCol)) idCol
        else {
          require(ids.columns.length == 1,
            s"probeIds must contain '$idCol' or be a single-column frame; " +
              s"got [${ids.columns.mkString(", ")}]")
          ids.columns.head
        }
      a0.join(ids.select(col(probeCol).as("a_id")), Seq("a_id"), "left_semi")
    }
    val b = prefixes.select(col("gram"), col("doc_id").as("b_id"),
      col("n_grams").as("lb"), col("__rank").as("pb"))
    // unrestricted: a < b halves the join output (each unordered pair
    // found once per shared prefix gram, canonical order free). Restricted:
    // the probe side must see BOTH orientations (probe-old pairs have the
    // probe on the a side only), so pair order is canonicalized after the
    // filters — the length and positional prunes are symmetric in
    // (la,pa)/(lb,pb), so filtering before the swap is exact.
    val ordered = if (probeIds.isEmpty) col("a_id") < col("b_id")
                  else col("a_id") =!= col("b_id")
    val cands0 = a.join(b, Seq("gram"))
      .filter(ordered
        && col("la") >= lit(threshold) * col("lb") - lit(1e-9)
        && col("lb") >= lit(threshold) * col("la") - lit(1e-9)
        && (lit(1) + least(col("la") - col("pa"), col("lb") - col("pb")))
          .cast("double") >=
          lit(threshold / (1.0 + threshold)) * (col("la") + col("lb")) - lit(1e-9))
    val cands = (if (probeIds.isEmpty) cands0.select(col("a_id"), col("b_id"))
                 else cands0.select(
                   least(col("a_id"), col("b_id")).as("a_id"),
                   greatest(col("a_id"), col("b_id")).as("b_id")))
      .distinct()
    // verify with the full (sorted) gram sets — merge-count, no hash sets
    val ga = grams.select(col("doc_id").as("a_id"), col("g").as("ga"),
      col("n_grams").as("la"))
    val gb = grams.select(col("doc_id").as("b_id"), col("g").as("gb"),
      col("n_grams").as("lb"))
    val result = cands.join(ga, Seq("a_id")).join(gb, Seq("b_id"))
      .withColumn("common",
        graft.functions.vectors.sorted_intersect_count(col("ga"), col("gb")))
      .withColumn("jac",
        col("common").cast("double") / (col("la") + col("lb") - col("common")))
      .filter(col("jac") >= threshold)
      .select("a_id", "b_id", "common", "la", "lb", "jac")
    // materialize the (tiny) pair result so the grams cache is released at
    // operator exit instead of living until session cache-clear
    val out = result.localCheckpoint()
    grams.unpersist(blocking = true)
    out
  }

  // ------------------------------------------------- dup-graph index

  /**
   * Persist the near-duplicate EDGE LIST as an on-disk index — the
   * "index is the state" posture ([[graft.ops.Similarity.writeIvfIndex]],
   * [[graft.ops.TextAnalysis.writeTextIndex]]) applied to the duplicate
   * graph: at 100 TB the PPJoin candidate join is the expensive pass, and
   * every graph analytic (components, PageRank and its seeded/weighted
   * variants, triangles) consumes the SAME edge set — so the edges are
   * computed once per corpus snapshot and every analytic reads stored
   * edges instead of re-deriving them per query.
   *
   * Layout: `edges/jband=<0..9>/` parquet, partitioned by the similarity
   * DECILE (`jband = min(⌊jac·10⌋, 9)`) — the natural pruning dimension
   * for graph analytics, which routinely re-run over only-strong edges
   * (cluster at 0.9 after building at 0.8): a `minJaccard` read turns
   * into a DIRECTORY-PRUNED scan, never touching the weaker deciles'
   * bytes. A `params/` sidecar freezes (n, threshold) so appends probe
   * with the exact same geometry (the stored-centroid discipline of the
   * IVF tree).
   */
  def writeDupGraph(
      df: DataFrame, idCol: String, textCol: String, path: String,
      n: Int = 3, threshold: Double = 0.8): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    ngramJaccardPairsPrefix(df, idCol, textCol, n, threshold)
      .withColumn("jband",
        least(floor(col("jac") * lit(10)).cast("int"), lit(9)))
      .write.mode("overwrite").partitionBy("jband").parquet(s"$path/edges")
    Seq((n, threshold)).toDF("n", "threshold").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/params")
  }

  /**
   * Read the stored duplicate graph: `(a_id, b_id, common, la, lb, jac)`
   * exactly as [[ngramJaccardPairsPrefix]] emits it. `minJaccard > 0`
   * prunes by the decile PARTITION column first (`jband ≥ ⌊minJ·10⌋` is a
   * directory filter — a superset by construction since
   * jac ≥ minJ ⇒ ⌊jac·10⌋ ≥ ⌊minJ·10⌋) and refines with the exact
   * per-row `jac ≥ minJ` predicate.
   */
  def readDupGraph(
      spark: org.apache.spark.sql.SparkSession, path: String,
      minJaccard: Double = 0.0): DataFrame = {
    val e = spark.read.parquet(s"$path/edges")
    val pruned =
      if (minJaccard > 0)
        // the band floor is capped at 9 to mirror the writer's
        // `least(floor(jac*10), 9)`: exact duplicates (jac == 1.0) live in
        // jband=9, so an uncapped ⌊1.0·10⌋ = 10 filter would return zero rows
        e.filter(col("jband") >=
            lit(math.min(math.floor(minJaccard * 10).toInt, 9))
          && col("jac") >= lit(minJaccard))
      else e
    pruned.select("a_id", "b_id", "common", "la", "lb", "jac")
  }

  /**
   * Edge-volume health for a [[writeDupGraph]] tree — the index-health
   * read every persisted index here exposes
   * ([[graft.ops.Similarity.ivfIndexHealth]]'s occupancy,
   * [[graft.ops.TextAnalysis.postingsHealth]]'s stop-gram report): per
   * similarity decile, the stored edge count and its share of the graph.
   * A mass shifted toward weak deciles after many appends is the signal
   * to re-run analytics at a higher floor (one pruned read — the decile
   * layout's point) or rebuild at a tighter threshold. Cost: the
   * grouping key IS the partition column, so the aggregate is satisfied
   * from file metadata plus partition values — no edge payload columns
   * are read.
   */
  def dupGraphHealth(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val e = spark.read.parquet(s"$path/edges")
    val withN = e.groupBy(col("jband").cast("int").as("jband"))
      .agg(count(lit(1)).as("n_edges"))
    // global window over the POST-AGG frame — bounded by the 10-decile
    // domain, the ivfIndexHealth discipline (≤ nCells there)
    val w = Window.partitionBy().rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    withN
      .withColumn("share_r",
        round(col("n_edges").cast("double") / sum(col("n_edges")).over(w), 6))
      .orderBy(col("jband"))
  }

  /**
   * Append a NEW batch of documents' edges to an existing
   * [[writeDupGraph]] tree without rebuilding: the probe-restricted
   * PPJoin ([[prefixFilteredPairs]]) emits exactly the qualifying pairs
   * touching at least one new document — new↔new and new↔old, never
   * old↔old (those are already stored) — and the rows land as new files
   * inside the matching `jband=<d>/` directories. (n, threshold) come
   * from the stored `params/` sidecar, never from the caller: an append
   * probing at a different threshold would silently mix edge semantics.
   *
   * `allDocs` must be the FULL corpus (old ∪ new): the prefix ordering is
   * corpus-wide document frequency, and old docs' gram sets are needed to
   * verify new↔old candidates. At scale this is one bounded candidate
   * join per batch — the probe side is the new slice, not the corpus.
   *
   * Exactly-once posture (the [[graft.streaming.EventStream.mergeStream]]
   * discipline): foreachBatch can re-deliver a batch after a failure, so
   * the computed pairs are anti-joined against the edges already stored
   * before landing — a replay converges to the same tree instead of
   * duplicating rows (and duplicated edges would corrupt degree-weighted
   * analytics like PageRank, not just waste bytes). The anti-join's
   * right side is one column-pruned (a_id, b_id) scan of the edge list,
   * which is corpus-duplication-rate-sized, not corpus-sized.
   */
  def appendToDupGraph(
      allDocs: DataFrame, newIds: DataFrame, path: String,
      idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val spark = allDocs.sparkSession
    val params = spark.read.parquet(s"$path/params").head()
    val (n, threshold) = (params.getInt(0), params.getDouble(1))
    // materialized BEFORE the write: the anti-join reads the same tree
    // the append lands in, so the batch-bounded fresh set is pinned first
    // rather than racing the scan against its own output files
    prefixFilteredPairs(allDocs, idCol, textCol, n, threshold, Some(newIds))
      .join(spark.read.parquet(s"$path/edges").select("a_id", "b_id"),
        Seq("a_id", "b_id"), "left_anti")
      .localCheckpoint()
      .withColumn("jband",
        least(floor(col("jac") * lit(10)).cast("int"), lit(9)))
      .write.mode("append").partitionBy("jband").parquet(s"$path/edges")
  }

  // ----------------------------------------------------------- MinHash

  /**
   * MinHash signatures: `numHashes` independent min-hash lanes over the
   * character-shingle set, computed by the native
   * [[graft.functions.MinHashSignature]] Catalyst expression (one pass
   * over the shingles; a `functions._`-composed nested-lambda formulation
   * re-evaluates normalization per hash lane and is ~100× slower).
   */
  def minhashSignatures(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 64, shingleLen: Int = 5): DataFrame =
    df.select(
      col(idCol).as("doc_id"),
      graft.functions.hashes.minhash_signature(col(textCol), numHashes, shingleLen)
        .as("sig"))

  /**
   * Banded LSH candidate pairs: split each signature into `bands` bands of
   * `numHashes/bands` rows, hash each band, and self-join on
   * (band index, band hash) — two docs collide iff they agree on an entire
   * band. Estimated Jaccard = fraction of agreeing signature positions.
   */
  def minhashCandidatePairs(
      sigs: DataFrame, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.7): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val r = numHashes / bands
    // materialized once: the upstream is typically the native minhash
    // signature over the full text — without the cache the banded index and
    // both signature-fetch joins below would each recompute it. Only cache
    // (and later unpersist) when the CALLER hasn't persisted: unpersisting
    // a caller-managed signature table out from under them would force
    // recomputation on their next use (same guard as
    // incrementalMinhashMatches' corpus side).
    val callerUnpersisted =
      sigs.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    val sigsC = if (callerUnpersisted) sigs.cache() else sigs
    // the banded self-join carries ONLY (band, band_hash, id) — 24 bytes a
    // row. Shuffling the 64-lane signatures through the candidate join
    // (the old shape) multiplies the big shuffle's width ~20×; instead the
    // few UNIQUE candidate pairs fetch their two signatures afterwards from
    // the cached signature table (id-keyed joins whose probe side is the
    // candidate list, which is tiny relative to the banded index).
    val banded = sigsC.select(
      col("doc_id"),
      posexplode(transform(
        sequence(lit(0), lit(bands - 1)),
        b => xxhash64(slice(col("sig"), b * r + 1, lit(r))))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_hash")
    val a = banded.select(col("band"), col("band_hash"), col("doc_id").as("a_id"))
    val b = banded.select(col("band"), col("band_hash"), col("doc_id").as("b_id"))
    // dedup multi-band collisions BEFORE scoring: est_jaccard is a pure
    // function of the pair, so the 64-lane agreement count runs once per
    // unique pair instead of once per colliding band
    val cands = a.join(b, Seq("band", "band_hash"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id")).distinct()
    val result = cands
      .join(sigsC.select(col("doc_id").as("a_id"), col("sig").as("a_sig")), Seq("a_id"))
      .join(sigsC.select(col("doc_id").as("b_id"), col("sig").as("b_sig")), Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        (size(filter(zip_with(col("a_sig"), col("b_sig"), (x, y) => x === y),
          bit => bit)).cast("double") / numHashes).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
    // materialize the (tiny) pair result so the signature cache is released
    // at operator exit instead of living until session cache-clear
    val out = result.localCheckpoint()
    if (callerUnpersisted) sigsC.unpersist(blocking = true)
    out
  }

  /** End-to-end MinHash dedup: signatures → banded candidates → connected
    * components (iterative min-label propagation) → (doc_id, cluster_id)
    * where cluster_id is the smallest doc id in the component. */
  def minhashDedup(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 64, shingleLen: Int = 5,
      bands: Int = 16, threshold: Double = 0.7,
      maxIterations: Int = 10): DataFrame = {
    val sigs = minhashSignatures(df, idCol, textCol, numHashes, shingleLen)
    // minhashCandidatePairs already materializes its result (localCheckpoint
    // cuts the lineage), so the propagation loop's repeated reads can never
    // recompute the signatures — no second cache needed here
    val pairs = minhashCandidatePairs(sigs, numHashes, bands, threshold)
      .select("a_id", "b_id")
    connectedComponents(df.select(col(idCol).as("doc_id")), pairs, maxIterations)
  }

  /**
   * Min-label propagation over an undirected edge list. Each sweep joins
   * every node's current label with its neighbors' and takes the min —
   * O(diameter) sweeps, each a pair of hash joins; near-dup components are
   * tiny (pairs/triples), so this converges in 2-3 sweeps in practice.
   *
   * Scale design: propagation runs ONLY over the edge-induced subgraph —
   * the nodes that appear in at least one pair. Near-dup components are a
   * sparse fraction of any real corpus, so the iterative joins touch a
   * frame bounded by 2·|pairs|, not |corpus|; untouched nodes are appended
   * as self-labeled singletons with one lazy anti-join at the end (a
   * filter like `doc_id != cluster_id` prunes that branch entirely).
   *
   * Cache/lineage hygiene (the 100 TB posture for any iterative Spark
   * algorithm): each sweep REFERENCES the previous sweep's labels more than
   * once (neighbor join + convergence diff), so composing sweeps as one
   * lazy plan grows the logical tree ~3^sweeps — a 9-hop chain OOMs the
   * driver on plan stringification alone. Each sweep therefore materializes
   * its labels to an explicitly persisted RDD and restarts the plan from a
   * scan of it: plan depth is O(1) per sweep, and the superseded sweep's
   * blocks are unpersisted deterministically (RDD handle in hand — unlike
   * `localCheckpoint` blocks, which only the GC-driven ContextCleaner can
   * reclaim). The returned member labels scan their own persisted RDD, so
   * callers can release the pairs cache immediately after this returns.
   *
   * @throws IllegalStateException if the propagation has not converged
   *   after `maxIterations` sweeps — a silently-split cluster is a
   *   correctness bug, not a degraded answer
   */
  def connectedComponents(
      nodes: DataFrame, pairs: DataFrame, maxIterations: Int = 10,
      localEdgeThreshold: Long = 1000000L): DataFrame = {
    val spark = nodes.sparkSession
    // The candidate-pair plan (typically an expensive banded LSH join) is
    // referenced by BOTH the size dispatch and whichever branch wins, so it
    // is persisted FIRST: the count below is the single materialization,
    // and every later reference scans the cached blocks.
    val p = pairs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Size-based dispatch: a near-dup edge list is tiny even for a huge
    // corpus (it IS the duplication rate), so below the threshold the
    // components are solved with a driver-side union-find — zero iterative
    // Spark jobs, exact, no convergence bound. 1M edges ≈ 32 MB on the
    // driver. The distributed propagation below remains for adversarial
    // pair volumes.
    if (p.count() <= localEdgeThreshold) {
      val out = localComponents(nodes, p) // collects eagerly inside
      p.unpersist(blocking = true)
      return out
    }
    // symmetrized edge list, bounded by 2·|pairs| — a lazy projection pair
    // over the cached pairs (each sweep re-derives it from cache blocks;
    // a second cache of the same bytes would buy nothing)
    val edges = pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
      .union(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("cluster_id"))
    var labelsRdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = null
    var converged = false
    var iter = 0
    while (!converged && iter < maxIterations) {
      val neighborMin = edges
        .join(labels, edges("dst") === labels("doc_id"))
        .groupBy(col("src")).agg(min(col("cluster_id")).as("nbr_min"))
      // carry the old label through the sweep so convergence is a plain
      // filter-count over the materialized result — no extra join per sweep
      val nextRaw = labels.join(neighborMin, labels("doc_id") === neighborMin("src"), "left")
        .select(col("doc_id"),
          least(col("cluster_id"), coalesce(col("nbr_min"), col("cluster_id")))
            .as("new_id"),
          col("cluster_id").as("old_id"))
      // materialize this sweep and restart the plan from a scan of it
      val nextRdd = nextRaw.rdd
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val next = spark.createDataFrame(nextRdd, nextRaw.schema)
      // full (no-limit) count scans every partition → nextRdd is fully
      // materialized before the superseded sweep's blocks are dropped
      val changed = next.filter(col("new_id") =!= col("old_id")).count()
      if (labelsRdd != null) labelsRdd.unpersist(blocking = true)
      labels = next.select(col("doc_id"), col("new_id").as("cluster_id"))
      labelsRdd = nextRdd
      converged = changed == 0
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge after $maxIterations sweeps — " +
          "raise maxIterations (long-chain components present)")
    p.unpersist(blocking = true)
    // untouched nodes are self-labeled singletons; the anti-join's right
    // side is the (small, RDD-backed) member label set → broadcast anti-join
    // at scale, and a `doc_id != cluster_id` filter prunes this branch out
    val singles = nodes.select(col("doc_id"))
      .join(labels.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("cluster_id"))
    labels.unionByName(singles)
  }

  /** Driver-side union-find over a bounded edge list (union-by-min-root,
    * path compression — the component root is the min id by construction).
    * Non-member nodes are appended as self-labeled singletons with the
    * same lazy anti-join as the distributed path. */
  private def localComponents(nodes: DataFrame, pairs: DataFrame): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    pairs.select(col("a_id").cast("long"), col("b_id").cast("long"))
      .collect().foreach { row =>
        val a = row.getLong(0); val b = row.getLong(1)
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val ra = find(a); val rb = find(b)
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
    val memberLabels = parent.keys.toSeq.sorted.map(x => (x, find(x)))
      .toDF("doc_id", "cluster_id")
    val singles = nodes.select(col("doc_id"))
      .join(memberLabels.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("cluster_id"))
    memberLabels.unionByName(singles)
  }

  // ----------------------------------- incremental connected components

  /**
   * Fold a batch of NEW edges (and new, possibly edgeless, nodes) into an
   * existing component labeling WITHOUT recomputing over the full edge
   * set — the incremental twin of [[connectedComponents]], matching the
   * maintenance posture of the IVF and BM25 indexes (the labeling IS the
   * state; a batch updates it in one bounded pass).
   *
   * Contraction argument for exactness: every stored component is
   * connected, so collapsing each old node to its stored label preserves
   * the connectivity classes of (old edges ∪ new edges). Min-label
   * components over the CONTRACTED batch graph — nodes are the touched
   * stored labels plus new node ids, edges are the new edges with
   * endpoints mapped through the stored labeling — therefore yield
   * exactly the merged labeling: a stored label is the min member id of
   * its component, so the min over a contracted component equals the min
   * doc id over the union of the merged components' member sets.
   *
   * Scale posture: the contracted graph is bounded by |newEdges|, never
   * by corpus size (old↔old edges already inside one component contract
   * to self-loops and drop); the only corpus-wide work is ONE join of
   * the stored labels against the batch-bounded relabel map — broadcast
   * by construction. Re-delivered batches are idempotent: merging the
   * same edges twice is a no-op and re-sent nodes are anti-joined away.
   *
   * @param stored   existing labeling `(doc_id, cluster_id)` — complete
   *                 over every old node `newEdges` references
   * @param newNodes new document ids entering the corpus (edgeless ones
   *                 become self-labeled singletons); endpoints of
   *                 `newEdges` absent from `stored` are treated as new
   *                 nodes whether or not listed here
   * @param newEdges new `(a_id, b_id)` pairs — new↔new, new↔old, or
   *                 late-arriving old↔old merges
   */
  def appendToComponents(
      stored: DataFrame, newNodes: DataFrame, newEdges: DataFrame,
      maxIterations: Int = 10,
      localEdgeThreshold: Long = 1000000L): DataFrame = {
    val s = stored.select(col("doc_id"), col("cluster_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val la = s.select(col("doc_id").as("a_id"), col("cluster_id").as("__la"))
    val lb = s.select(col("doc_id").as("b_id"), col("cluster_id").as("__lb"))
    // contract endpoints to stored labels (new nodes keep their own id),
    // drop intra-component self-loops, canonicalize for the distinct
    val contracted = newEdges.select(col("a_id"), col("b_id"))
      .join(la, Seq("a_id"), "left").join(lb, Seq("b_id"), "left")
      .select(coalesce(col("__la"), col("a_id")).as("u"),
        coalesce(col("__lb"), col("b_id")).as("v"))
      .filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("a_id"),
        greatest(col("u"), col("v")).as("b_id"))
      .distinct()
    val touched = contracted.select(col("a_id").as("doc_id"))
      .union(contracted.select(col("b_id").as("doc_id"))).distinct()
    // batch-bounded components over the contracted graph → relabel map
    val relabel = connectedComponents(
      touched, contracted, maxIterations, localEdgeThreshold)
      .select(col("doc_id").as("__old"), col("cluster_id").as("__new"))
    // old rows remap through the bounded map; unmatched labels unchanged
    val updatedOld = s.join(broadcast(relabel),
        s("cluster_id") === col("__old"), "left")
      .select(s("doc_id"),
        coalesce(col("__new"), s("cluster_id")).as("cluster_id"))
    // genuinely-new nodes: declared new ∪ unseen edge endpoints; labeled
    // by the relabel map, self-labeled when edgeless
    val fresh = newNodes.select(col("doc_id"))
      .unionByName(newEdges.select(col("a_id").as("doc_id")))
      .unionByName(newEdges.select(col("b_id").as("doc_id")))
      .distinct()
      .join(s.select(col("doc_id")), Seq("doc_id"), "left_anti")
    val newLabeled = fresh.join(broadcast(relabel),
        fresh("doc_id") === col("__old"), "left")
      .select(fresh("doc_id"),
        coalesce(col("__new"), fresh("doc_id")).as("cluster_id"))
    // materialize so the stored-labels cache is released at operator exit
    val out = updatedOld.unionByName(newLabeled).localCheckpoint()
    s.unpersist(blocking = true)
    out
  }

  /**
   * Persist a component labeling as a VERSIONED generation tree
   * (`v<N>/labels/` parquet + one-small-file MANIFEST flip via
   * [[graft.sink.FsOps.publishGeneration]] — the [[graft.ops.Similarity.writeIvfIndexVersioned]]
   * layout): readers that resolved just before a flip finish against a
   * complete immutable generation, and an incremental update can read the
   * live generation while writing the next one — no read-overwrite
   * hazard on the same directory.
   */
  def writeComponentsIndex(labels: DataFrame, path: String): Unit = {
    import org.apache.hadoop.fs.Path
    val spark = labels.sparkSession
    val (hfs, root) = graft.sink.FsOps.fs(spark, path)
    hfs.mkdirs(root): Unit
    val staging = new Path(root, ".gen_staging")
    graft.sink.FsOps.deleteIfExists(hfs, staging)
    labels.select(col("doc_id"), col("cluster_id"))
      .write.mode("overwrite").parquet(s"$staging/labels")
    graft.sink.FsOps.publishGeneration(hfs, root, staging): Unit
  }

  /** Read the LIVE generation's labeling from a [[writeComponentsIndex]]
    * tree: `(doc_id, cluster_id)`. */
  def readComponentsIndex(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val (hfs, root) = graft.sink.FsOps.fs(spark, path)
    val live = graft.sink.FsOps.readManifest(hfs, root)
      .map(v => s"$path/$v").getOrElse(path)
    spark.read.parquet(s"$live/labels").select("doc_id", "cluster_id")
  }

  /**
   * One incremental maintenance step against a [[writeComponentsIndex]]
   * tree: read the live labeling, fold the batch in with
   * [[appendToComponents]], publish the result as the next generation.
   * The caller is the tree's single writer (the foreachBatch worker in
   * the streaming wiring) — concurrent readers keep resolving whichever
   * generation was live when they started.
   */
  def appendToComponentsIndex(
      path: String, newNodes: DataFrame, newEdges: DataFrame,
      maxIterations: Int = 10,
      localEdgeThreshold: Long = 1000000L): Unit = {
    val spark = newNodes.sparkSession
    val merged = appendToComponents(
      readComponentsIndex(spark, path), newNodes, newEdges,
      maxIterations, localEdgeThreshold)
    writeComponentsIndex(merged, path)
  }

  // ----------------------------------------------------------- SimHash

  /** 64-bit SimHash over the normalized token multiset (native
    * [[graft.functions.SimHash64]] expression: one hash per token, 64-bit
    * vote accumulation in a single pass). Near-duplicates land within
    * small Hamming distance. */
  def simhash64(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"),
      graft.functions.hashes.simhash64(col(textCol)).as("simhash"))

  /** SimHash near-dup pairs: block on 16-bit quarters (any pair within
    * Hamming distance 3 of a 64-bit hash must agree on at least one of the
    * four quarters — pigeonhole), then verify exact Hamming distance with
    * `bit_count(xor)`.
    *
    * Skew guard: templated/short corpora collapse many documents onto few
    * simhash values, so one popular (quarter, block) would otherwise turn
    * the self-join into a single quadratic straggler task that no planner
    * can split (AQE splits shuffle partitions, not a single join key).
    * Blocks with more than `blockCap` rows are split into
    * `ceil(count/blockCap)` sub-buckets by a hash of the doc id, and the
    * self-join covers the upper triangle of (sub_i ≤ sub_j) bucket pairs —
    * the exact same candidate set, but each join task now holds ~blockCap
    * rows a side (cap² candidates) instead of count². Total work over a
    * clique is still O(count²) — that is the output's own size — but it is
    * spread over count²/cap² parallel tasks instead of one. Over-cap blocks
    * number at most 4·N/blockCap and in practice a handful, so the split
    * table is broadcast (no extra shuffle of the blocked rows). */
  def simhashPairs(sigs: DataFrame, maxHamming: Int = 3,
      blockCap: Int = 8192): DataFrame = {
    // the blocked rows feed three branches (block counts + both join
    // sides); cache the upstream — typically a native simhash over full
    // text — unless the caller already persisted it (same guard as
    // minhashCandidatePairs)
    val callerUnpersisted =
      sigs.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    val sigsC = if (callerUnpersisted) sigs.cache() else sigs
    val split = simhashBlockSplits(sigsC, blockCap)
    val a = split.select(col("quarter"), col("block"), col("sub").as("i"),
      explode(sequence(col("sub"), col("nsplits") - lit(1))).as("j"),
      col("doc_id").as("a_id"), col("simhash").as("a_sim"))
    val b = split.select(col("quarter"), col("block"), col("sub").as("j"),
      explode(sequence(lit(0), col("sub"))).as("i"),
      col("doc_id").as("b_id"), col("simhash").as("b_sim"))
    // Role coverage: a pair with subs (sa, sb) meets as (a, b) only when
    // sa ≤ sb, so the smaller DOC ID can land on either side. Same-bucket
    // tasks (i = j, which is every pair of an unsplit block) see both
    // orientations — keep one by id order, exactly the unguarded shape.
    // Cross-bucket tasks see exactly one orientation — keep it whatever
    // the id order, and canonicalize with least/greatest.
    val result = a.join(b, Seq("quarter", "block", "i", "j"))
      .filter(col("i") =!= col("j") || col("a_id") < col("b_id"))
      .filter(col("a_id") =!= col("b_id"))
      .select(least(col("a_id"), col("b_id")).as("a_id"),
        greatest(col("a_id"), col("b_id")).as("b_id"),
        bit_count(col("a_sim").bitwiseXOR(col("b_sim"))).as("hamming"))
      // hamming is a pure function of the pair, so filtering BEFORE the
      // multi-quarter-collision dedup shrinks the distinct's input from
      // every block collision to just the near-dup survivors
      .filter(col("hamming") <= maxHamming)
      .distinct()
    val out = result.localCheckpoint()
    if (callerUnpersisted) sigsC.unpersist(blocking = true)
    out
  }

  /** Quarter-blocked simhash rows with skew-split assignment: one row per
    * (doc, quarter) carrying the block's split count (`nsplits`, 1 for
    * blocks at or under `blockCap`) and this row's sub-bucket (`sub`,
    * doc-id-hashed into [0, nsplits)). Exposed for the skew-guard test,
    * which asserts no sub-bucket exceeds ~blockCap. */
  private[graft] def simhashBlockSplits(
      sigs: DataFrame, blockCap: Int): DataFrame = {
    val quarterCols = (0 until 4).map(q =>
      shiftright(col("simhash"), q * 16).bitwiseAND(lit(0xFFFFL)))
    val blocked = sigs.select(col("doc_id"), col("simhash"),
      posexplode(array(quarterCols: _*)))
      .withColumnRenamed("pos", "quarter").withColumnRenamed("col", "block")
    val hot = blocked.groupBy("quarter", "block").count()
      .filter(col("count") > blockCap)
      .select(col("quarter"), col("block"),
        ceil(col("count").cast("double") / blockCap).cast("int").as("nsplits"))
    blocked.join(broadcast(hot), Seq("quarter", "block"), "left")
      .withColumn("nsplits", coalesce(col("nsplits"), lit(1)))
      .withColumn("sub",
        pmod(xxhash64(col("doc_id")), col("nsplits").cast("long")).cast("int"))
  }

  // --------------------------------------- exact substring (k-gram spans)

  /** Every token-level k-gram occurrence across the corpus: one row per
    * (doc, start position) with the gram's md5 key — md5 rather than a
    * 64-bit hash because the key must be re-derivable by the SQL oracle,
    * and constant-width rather than the gram text because the key rides a
    * corpus-wide shuffle. Tokens are `\s+`-split (the module's shared
    * convention). */
  private def gramOccurrences(
      df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    df.select(col(idCol),
        split(trim(col(textCol)), "\\s+").as("__toks"))
      .select(col(idCol), col("__toks"), explode(
        // a doc shorter than k tokens has no k-grams — guard the sequence
        // (sequence(0, negative) would DESCEND and fabricate positions)
        when(size(col("__toks")) >= k,
          sequence(lit(0), size(col("__toks")) - k))
          .otherwise(array().cast("array<int>")))
        .as("p"))
      .select(col(idCol), col("p"),
        md5(concat_ws(" ", slice(col("__toks"), col("p") + 1, lit(k)))
          .cast("binary")).as("g"))

  /** Gaps-and-islands merge of flagged gram positions (idCol, p) into
    * maximal spans: a new span starts where a position no longer
    * overlaps/abuts the previous one's k-token window. One per-doc window
    * over only the FLAGGED positions. */
  private def mergeSpans(flagged: DataFrame, idCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col(idCol)).orderBy(col("p"))
    flagged
      .withColumn("__new",
        when(col("p") - lag(col("p"), 1).over(w) <= k, lit(0)).otherwise(lit(1)))
      .withColumn("__island", sum(col("__new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("__island"))
      .agg(min(col("p")).as("span_start"),
        (max(col("p")) + lit(k - 1)).as("span_end"),
        count(lit(1)).as("n_grams"))
      .select(col(idCol), col("span_start"), col("span_end"), col("n_grams"))
  }

  /**
   * Exact substring (repeated k-gram span) detection — the cross-document
   * duplicate-text operator of the "deduplicating training data" line of
   * work: find every token position whose k-gram occurs MORE THAN ONCE in
   * the corpus (any document, including repeats within one document), then
   * merge overlapping/adjacent duplicated positions per document into
   * maximal spans. Output: one row per merged span —
   * (id, span_start, span_end, n_grams) with token-index bounds inclusive.
   *
   * Scale posture: tokenize/explode is linear in corpus tokens; the
   * occurrence count is one hash-partitioned aggregate on the constant-
   * width gram key (map-side partial combine — a viral boilerplate gram
   * arrives pre-counted per task, the same skew posture as
   * [[withGramDocFreq]]); the island merge is a per-document window over
   * only the DUPLICATED positions. No all-pairs stage anywhere: cost is
   * O(tokens) + one shuffle on the gram key + one on the doc id.
   */
  def repeatedSpans(
      df: DataFrame, idCol: String, textCol: String, k: Int = 5): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val occ = gramOccurrences(df, idCol, textCol, k)
    val counts = occ.groupBy(col("g")).agg(count(lit(1)).as("__n"))
    mergeSpans(occ.join(counts.filter(col("__n") > 1), Seq("g")), idCol, k)
  }

  /**
   * Span-level benchmark decontamination — the n-gram-overlap filter of
   * the GPT-3/PaLM data-prep appendices: mark every CORPUS position whose
   * k-gram also appears ANYWHERE in the benchmark set, merged into
   * maximal contaminated spans per corpus document. Downstream either
   * drops the document or excises the spans ([[stripRepeatedSpans]]'s
   * excision applies verbatim to this span table).
   *
   * Scale posture: the benchmark side reduces to DISTINCT gram keys —
   * benchmark suites are bounded (thousands of documents), so the key set
   * broadcasts and the corpus-side probe is a broadcast semi-join: the
   * corpus never shuffles for membership, only the flagged positions
   * shuffle for the per-doc island merge.
   */
  def benchmarkSpanContamination(
      corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, k: Int = 8): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val benchGrams = gramOccurrences(benchmark, idCol, textCol, k)
      .select(col("g")).distinct()
    val flagged = gramOccurrences(corpus, idCol, textCol, k)
      .join(broadcast(benchGrams), Seq("g"), "left_semi")
    mergeSpans(flagged, idCol, k)
  }

  /**
   * Excise every repeated k-gram span ([[repeatedSpans]]) from the text:
   * tokens covered by any duplicated span are dropped and the survivors
   * re-joined with single spaces — the boilerplate/contamination-strip
   * semantic (symmetric removal; a keep-one-canonical-copy policy is a
   * downstream choice over the span table, not baked in here). Output:
   * (id, clean_text, n_tokens_removed).
   *
   * The span table is per-document-bounded, so the excision join
   * co-partitions on the doc id — one shuffle, then a row-local array
   * filter; the text is never exploded a second time.
   */
  def stripRepeatedSpans(
      df: DataFrame, idCol: String, textCol: String, k: Int = 5): DataFrame = {
    val spans = repeatedSpans(df, idCol, textCol, k)
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("__spans"))
    df.select(col(idCol), split(trim(col(textCol)), "\\s+").as("__toks"))
      .join(spans, Seq(idCol), "left")
      .select(col(idCol),
        filter(
          transform(col("__toks"),
            (t, i) => struct(t.as("t"),
              coalesce(exists(col("__spans"),
                s => i.between(s("span_start"), s("span_end"))), lit(false))
                .as("cut"))),
          x => !x("cut")).as("__kept"),
        size(col("__toks")).as("__n"))
      .select(col(idCol),
        concat_ws(" ", transform(col("__kept"), x => x("t"))).as("clean_text"),
        (col("__n") - size(col("__kept"))).as("n_tokens_removed"))
  }

  /**
   * Corpus snapshot diff — the change census between two crawls/dumps of
   * the same corpus that every incremental pipeline runs before deciding
   * what to re-process: per id, `added` (new only), `removed` (old only),
   * `changed` (both, content fingerprint differs), `unchanged`.
   *
   * Scale posture: each side reduces to (id, md5 fingerprint) — two thin
   * columns regardless of document size — then one hash-partitioned
   * full-outer join on the id. No content ever shuffles twice: the
   * fingerprint is computed in the scan projection, so the exchange
   * carries 16-byte hashes, not 100 TB of text.
   */
  def snapshotDiff(
      oldDf: DataFrame, newDf: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    def fp(df: DataFrame, as: String) =
      df.select(col(idCol), md5(col(textCol).cast("binary")).as(as))
    fp(oldDf, "__old").join(fp(newDf, "__new"), Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("__old").isNull, "added")
          .when(col("__new").isNull, "removed")
          .when(col("__old") =!= col("__new"), "changed")
          .otherwise("unchanged").as("status"))
  }

  /**
   * Analytic MinHash-LSH operating curve — the tuning table consulted
   * before any minhash run: for each (bands b, rowsPerBand r) layout and
   * each true Jaccard similarity t on a grid, the detection probability
   * `p = 1 − (1 − t^r)^b`. Data-independent by construction (it's the
   * design tool, not the scan), and engine-portable WITHOUT rounding: both
   * integer powers
   * are expanded into left-associated multiply chains — the identical
   * IEEE-754 operation sequence in any engine — rather than `pow`, whose
   * correct rounding libms do not guarantee (the documented 1-ulp
   * JVM-vs-glibc hazard).
   */
  def lshTuningCurve(
      spark: org.apache.spark.sql.SparkSession,
      layouts: Seq[(Int, Int)],
      thresholds: Seq[Double]): DataFrame = {
    require(layouts.nonEmpty && thresholds.nonEmpty)
    require(layouts.forall { case (b, r) => b >= 1 && r >= 1 },
      "bands and rowsPerBand must be >= 1")
    import spark.implicits._
    val rows = for {
      (b, r) <- layouts
      t <- thresholds
    } yield {
      var tr = 1.0
      var i = 0
      while (i < r) { tr *= t; i += 1 }
      val u = 1.0 - tr
      var ub = 1.0
      i = 0
      while (i < b) { ub *= u; i += 1 }
      (b, r, t, 1.0 - ub)
    }
    rows.toDF("bands", "rows_per_band", "threshold", "p_detect")
  }
}

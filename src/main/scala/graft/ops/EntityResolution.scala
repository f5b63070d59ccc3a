package graft.ops

import graft.functions.{topk, JaroWinkler}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{GraftSqlBridge => Bridge}
import org.apache.spark.sql.{Column, DataFrame}

/**
 * Entity resolution / record linkage: blocked fuzzy matching over string
 * keys — the classic de-duplication step for names, titles, URLs, and
 * source identifiers that exact hashing can't catch (typos, padding,
 * reordered digits).
 *
 * Scale shape: candidate generation is an EQUI-join on a blocking key
 * (nation, host, sorted-token prefix, …), never an all-pairs scan —
 * exactly the banded-LSH posture of [[Dedup]]. Per-probe ranking uses the
 * bounded [[graft.functions.TopKByScore]] heap, so the shuffle after the
 * block join carries at most k entries per probe per partition and the
 * full candidate set is never sorted. At 100 TB the cost is
 * Σ |block(p)| over probes — controlled by the blocking key's selectivity,
 * with the skew remedies of the sink layer (salting a hot block) applying
 * unchanged.
 */
object EntityResolution {

  /** Native Jaro–Winkler similarity column (see
    * [[graft.functions.JaroWinkler]] — DuckDB-matched semantics, real
    * codegen). */
  def jaroWinkler(a: Column, b: Column): Column =
    Bridge.column(JaroWinkler(Bridge.expression(a), Bridge.expression(b)))

  /**
   * Blocked fuzzy top-k linkage. Inputs are pre-shaped to the standard
   * columns (callers `select`/alias):
   *
   *  - `probes`:     (`p_id` long, `p_name` string, `block`)
   *  - `candidates`: (`c_id` long, `c_name` string, `block`)
   *
   * Result: (p_id, c_id, jw_r, rnk) — per probe, the `k` candidates in
   * its block with the highest `round(jaro_winkler, 6)`, ties broken by
   * smaller `c_id`; `rnk` is 1-based. `excludeSelf` drops `p_id == c_id`
   * pairs for self-linkage (in-table dedup).
   *
   * The similarity is rounded to 6 dp BEFORE ranking on both the Spark
   * and the oracle side — ranking therefore never depends on sub-1e-6
   * float noise (the same discipline as every `sim_*` retrieval op).
   */
  def fuzzyLink(
      probes: DataFrame, candidates: DataFrame, k: Int,
      excludeSelf: Boolean = false): DataFrame = {
    val joined = probes.join(candidates, "block")
    val pairs = if (excludeSelf) joined.filter(col("p_id") =!= col("c_id"))
                else joined
    pairs
      .select(col("p_id"), col("c_id"),
        round(jaroWinkler(col("p_name"), col("c_name")), 6).as("jw_r"))
      .groupBy("p_id")
      .agg(topk.top_k_by_score(col("jw_r"), col("c_id"), k).as("top"))
      .select(col("p_id"), posexplode(col("top")).as(Seq("pos", "entry")))
      .select(col("p_id"), col("entry.id").as("c_id"),
        col("entry.score").as("jw_r"),
        (col("pos") + 1).cast("int").as("rnk"))
  }

  /**
   * Edit-distance candidate pairs: in-block pairs within Levenshtein
   * distance `maxDist`, using Spark's THRESHOLD-bounded `levenshtein`
   * (the banded O(len·maxDist) DP that abandons a pair the moment the
   * distance provably exceeds the bound — not the full O(len²) table;
   * at 100 TB the bound, like the block, is what keeps per-pair cost
   * flat). Emits (p_id, c_id, dist) with exact integer distances —
   * no float rounding anywhere.
   */
  def editCandidates(
      probes: DataFrame, candidates: DataFrame, maxDist: Int,
      excludeSelf: Boolean = false): DataFrame = {
    val joined = probes.join(candidates, "block")
    val pairs = if (excludeSelf) joined.filter(col("p_id") =!= col("c_id"))
                else joined
    pairs
      .select(col("p_id"), col("c_id"),
        levenshtein(col("p_name"), col("c_name"), maxDist).as("dist"))
      .filter(col("dist") >= 0) // threshold overflow sentinel is -1
  }

  /** Native unrestricted Damerau–Levenshtein column (see
    * [[graft.functions.DamerauLevenshtein]] — DuckDB-matched). */
  def damerauLevenshtein(a: Column, b: Column): Column =
    Bridge.column(graft.functions.DamerauLevenshtein(
      Bridge.expression(a), Bridge.expression(b)))

  /**
   * Transposition-aware [[editCandidates]]: in-block pairs within
   * UNRESTRICTED Damerau–Levenshtein `maxDist`. Adjacent transpositions
   * are the most common human keying error in names and ids, so a pair
   * like `…123`/`…213` that plain Levenshtein prices at 2 costs 1 here
   * and survives a tighter threshold. No early-abandon banding exists
   * for the unrestricted DP (the transposition rule reaches back across
   * rows), so the BLOCK is the per-pair cost control.
   */
  def dlCandidates(
      probes: DataFrame, candidates: DataFrame, maxDist: Int,
      excludeSelf: Boolean = false): DataFrame = {
    val joined = probes.join(candidates, "block")
    val pairs = if (excludeSelf) joined.filter(col("p_id") =!= col("c_id"))
                else joined
    pairs
      .select(col("p_id"), col("c_id"),
        damerauLevenshtein(col("p_name"), col("c_name")).as("dist"))
      .filter(col("dist") <= maxDist)
  }

  /**
   * Token TF-IDF cosine self-linkage — the vector-space complement to the
   * edit-distance family: a name with REORDERED tokens ("lavender spring
   * chocolate" vs "chocolate lavender spring") is distance-many under any
   * edit model but cosine-identical here, while a shared rare token
   * ("goldenrod") counts far more than a shared frequent one. This is the
   * classic record-linkage similarity for multi-token names/titles.
   *
   * Candidates come from the inverted token index (a pair is scored only
   * if it SHARES a token — token blocking), never an all-pairs scan; at
   * scale the join volume is Σ_token df(token)·df_probe(token), bounded
   * by the posting lists, with a `maxDf` stop-token cut available when a
   * token's posting list is hub-sized. Probe restriction (`probePred`) is
   * pushed below the join so the candidate side is the only full scan.
   *
   * Determinism: weights use [[graft.functions.MathLn]] (libm-matched ln);
   * the cosine is rounded to 6 dp before thresholding, so membership
   * never hinges on sub-1e-6 float noise. The corpus size N is the one
   * driver scalar (a count — bounded by definition).
   *
   * Output: (p_id, c_id, cos_r) — probe rows, their shared-token matches
   * with round(cosine, 6) ≥ threshold, self-pairs excluded.
   */
  def tfidfCandidates(
      df: DataFrame, idCol: String, nameCol: String, threshold: Double,
      probePred: Column, maxDf: Long = Long.MaxValue): DataFrame = {
    val norm = regexp_replace(lower(trim(col(nameCol))), "\\s+", " ")
    val toks = df.select(col(idCol).as("id"),
        explode(split(norm, " ")).as("token"))
      .filter(col("token") =!= "")
    val tf = toks.groupBy("id", "token").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    val n = df.count().toDouble
    // the weight table feeds four branches (norms, probe side, candidate
    // side — and norms again through each side's join); without a cache
    // the tokenize + two aggregation passes re-run per branch
    val w = tf.join(dfreq, "token")
      .select(col("id"), col("token"), (col("tf").cast("double") *
        graft.functions.vectors.math_ln(lit(n) / col("df").cast("double")))
        .as("w"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val norms = w.groupBy("id").agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
    val probes = w.join(norms, "id")
      .select(col("id").as("p_id"), col("token"), col("w").as("wa"),
        col("nrm").as("na"))
      .filter(probePred)
    val cands = w.join(norms, "id")
      .select(col("id").as("c_id"), col("token"), col("w").as("wb"),
        col("nrm").as("nb"))
    // the match set is threshold-gated (bounded); checkpoint it eagerly
    // so the token-level weight cache can be dropped before returning
    // instead of leaking one corpus-sized cached frame per invocation
    val out = probes.join(cands, "token")
      .filter(col("p_id") =!= col("c_id"))
      .groupBy("p_id", "c_id", "na", "nb")
      .agg(sum(col("wa") * col("wb")).as("dot"))
      .select(col("p_id"), col("c_id"),
        round(col("dot") / (col("na") * col("nb")), 6).as("cos_r"))
      .filter(col("cos_r") >= threshold)
      .localCheckpoint()
    w.unpersist(blocking = false)
    out
  }

  /**
   * BLOCKING-FREE edit-distance join via pigeonhole segment signatures
   * (the Pass-Join scheme — Li/Deng/Feng, VLDB 2011): each probe string
   * splits into `maxDist + 1` contiguous even-width segments; if
   * `dist(s, t) ≤ maxDist`, at least one segment survives all edits
   * untouched (pigeonhole) and appears VERBATIM in `t` starting within
   * ±maxDist of its probe position (the alignment-shift bound). So:
   *
   *  1. probes explode into their τ+1 (seg, start, substring) signatures;
   *  2. candidates explode into every substring that could BE such a
   *     signature — for each probe length in `c_len ± τ`, each segment
   *     spec of that length, each start in the ±τ window (a generated
   *     inverted signature index);
   *  3. an EQUI-join on (probe_len, seg, start-window substring) yields
   *     candidates — never an all-pairs comparison;
   *  4. survivors verify EXACTLY with the threshold-bounded levenshtein.
   *
   * Filter is lossless and verify is exact, so the result is identical
   * to the brute-force join — which is what lets DuckDB's all-pairs SQL
   * oracle the whole pipeline. Candidate volume is Σ signature-bucket
   * products: on natural key distributions segments are selective; a
   * corpus-wide shared literal prefix (synthetic `Customer#…` keys)
   * makes ITS segments stop-keys — the PPJoin stop-gram caveat — in
   * which case compose with a blocking key ([[fuzzyLink]]'s shape) or
   * strip the shared template first. PROBES shorter than `maxDist + 1`
   * cannot be segmented and are EXCLUDED (documented contract; route
   * degenerate short probes through [[editCandidates]]). Candidates are
   * NOT length-excluded: a candidate participates down to length
   * `probe_len - maxDist` (the Pass-Join guarantee — at least one probe
   * segment survives verbatim — holds for any candidate within the edit
   * window), so e.g. a 1-char candidate within threshold of a segmentable
   * probe IS emitted, exactly as the all-pairs join would.
   */
  def editJoin(
      probes: DataFrame, candidates: DataFrame, maxDist: Int,
      excludeSelf: Boolean = false): DataFrame = {
    val n = maxDist + 1
    val segs = probes
      .filter(length(col("p_name")) >= n)
      .withColumn("p_len", length(col("p_name")))
      .select(col("p_id"), col("p_name"), col("p_len"),
        explode(sequence(lit(0), lit(n - 1))).as("seg"))
      .withColumn("st", floor(col("seg") * col("p_len") / n).cast("int"))
      .withColumn("sl",
        (floor((col("seg") + 1) * col("p_len") / n)
          - floor(col("seg") * col("p_len") / n)).cast("int"))
      .withColumn("sig", expr("substring(p_name, st + 1, sl)"))
      .select(col("p_id"), col("p_name"), col("p_len"), col("seg"),
        col("st"), col("sig"))
    val subs = candidates
      .filter(length(col("c_name")) >= n - maxDist)
      .withColumn("c_len", length(col("c_name")))
      .select(col("c_id"), col("c_name"), col("c_len"),
        explode(sequence(greatest(col("c_len") - maxDist, lit(n)),
          col("c_len") + maxDist)).as("p_len"))
      .select(col("c_id"), col("c_name"), col("c_len"), col("p_len"),
        explode(sequence(lit(0), lit(n - 1))).as("seg"))
      .withColumn("st", floor(col("seg") * col("p_len") / n).cast("int"))
      .withColumn("sl",
        (floor((col("seg") + 1) * col("p_len") / n)
          - floor(col("seg") * col("p_len") / n)).cast("int"))
      // start window ±τ, clamped to the candidate; empty-when-invalid
      // (explode of the empty array drops the row — sequence() would
      // otherwise count DOWN when lo > hi)
      .withColumn("pos", explode(
        when(greatest(col("st") - maxDist, lit(0)) <=
             least(col("c_len") - col("sl"), col("st") + maxDist),
          sequence(greatest(col("st") - maxDist, lit(0)),
            least(col("c_len") - col("sl"), col("st") + maxDist)))
          .otherwise(array().cast("array<int>"))))
      .withColumn("sig", expr("substring(c_name, pos + 1, sl)"))
      // ids only through the hot join, and DISTINCT before it: different
      // windows of one candidate often yield the same substring (digit
      // runs), and a corpus-shared prefix makes some signatures hot —
      // both multiply join fan-out for rows that dedupe to the same pair
      .select(col("c_id"), col("p_len"), col("seg"), col("st"), col("sig"))
      .distinct()
    val joined = segs.select(col("p_id"), col("p_len"), col("seg"),
        col("st"), col("sig"))
      .join(subs, Seq("p_len", "seg", "st", "sig"))
    val pairIds = (if (excludeSelf) joined.filter(col("p_id") =!= col("c_id"))
                   else joined)
      .select(col("p_id"), col("c_id"))
      .distinct()
    // names re-attach to the DEDUPED pair list only (the probe side is
    // broadcast-sized by construction; the candidate join is keyed)
    pairIds
      .join(probes.select(col("p_id"), col("p_name")), Seq("p_id"))
      .join(candidates.select(col("c_id"), col("c_name")), Seq("c_id"))
      .select(col("p_id"), col("c_id"),
        levenshtein(col("p_name"), col("c_name"), maxDist).as("dist"))
      .filter(col("dist") >= 0)
  }

  /**
   * Symmetric fuzzy-duplicate pairs inside one table: every in-block pair
   * (a < b by id) whose Jaro–Winkler similarity meets `threshold`.
   * Emits (a_id, b_id, jw_r). The `a < b` predicate halves the join
   * output and canonicalizes pair order; output volume is governed by the
   * blocking key plus the threshold, not by a global sort or window.
   */
  def fuzzyPairs(
      records: DataFrame, threshold: Double): DataFrame = {
    val a = records.select(col("block"),
      col("p_id").as("a_id"), col("p_name").as("a_name"))
    val b = records.select(col("block"),
      col("p_id").as("b_id"), col("p_name").as("b_name"))
    a.join(b, "block")
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        round(jaroWinkler(col("a_name"), col("b_name")), 6).as("jw_r"))
      .filter(col("jw_r") >= threshold)
  }

  /**
   * Sorted-neighborhood blocking — the third classic candidate scheme
   * next to key blocking ([[fuzzyPairs]]) and segment signatures
   * ([[editJoin]]): sort the table by a key expression and compare each
   * record only to its `window` successors in sort order. Catches
   * prefix-similar records that share NO clean blocking key, with
   * candidate volume exactly `window · n` — the linear-cost classic for
   * large-table linkage.
   *
   * Global ranks come from [[Relational.globalRank]] (range-repartition
   * + per-partition offsets — no single-partition sort; deterministic
   * because (name, id) is a total order). Pairs come from `window`
   * equi-joins on `rank = rank + o` (offset explode — never a window
   * function over the whole table), scored with [[jaroWinkler]] and
   * rounded before thresholding. Output: (a_id, b_id, dist, jw_r) with
   * a the earlier-ranked record.
   */
  def sortedNeighborhood(
      records: DataFrame, window: Int, threshold: Double,
      numPartitions: Int = 32): DataFrame = {
    require(window >= 1, "window must be >= 1")
    val ranked = Relational.globalRank(records,
      Seq(col("p_name").asc, col("p_id").asc), numPartitions)
      .select(col("p_id"), col("p_name"), col("rank"))
    val rhs = ranked.select(col("rank").as("b_rank"),
      col("p_id").as("b_id"), col("p_name").as("b_name"))
    ranked
      .withColumn("o", explode(array((1 to window).map(lit): _*)))
      .withColumn("b_rank", col("rank") + col("o"))
      .join(rhs, "b_rank")
      .select(col("p_id").as("a_id"), col("b_id"), col("o").as("dist"),
        round(jaroWinkler(col("p_name"), col("b_name")), 6).as("jw_r"))
      .filter(col("jw_r") >= threshold)
  }
}

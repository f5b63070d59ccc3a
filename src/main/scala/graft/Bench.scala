package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // optional comma-separated subset for focused perf work
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    // iterations per query; the reported time is the MEDIAN. n=1 cannot
    // distinguish a plan regression from disk/page-cache noise on a shared
    // host (round-2's three sink_* "regressions" were exactly that), and the
    // median of 3 is robust to one slow outlier.
    val iters = sys.env.get("SPARK_GRAFT_ITERS").map(_.toInt).getOrElse(3).max(1)
    // Durable full-record path: anchored to SPARK_GRAFT_OUT_DIR when set so a
    // bench launched from another cwd still lands the record where expected.
    // Deleted up front so a failed write can never leave a STALE file from a
    // previous run masquerading as this run's results.
    val fullPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_OUT_DIR", "."), "bench_full.json")
    try { java.nio.file.Files.deleteIfExists(fullPath) } catch {
      case e: Throwable => System.err.println(s"bench: could not delete stale $fullPath: $e")
    }
    val spark = Session.build(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    // Untimed session warmup: first-query cost in a fresh JVM is ~5-6 s of
    // one-time work (datasource init, codegen compiler warmup, JIT) that has
    // nothing to do with any query's plan — without this the alphabetically
    // first query absorbs it and reads as a 10-20× outlier (round-1
    // q13_top_tokens/dedup_containment). Reported separately as warmup_sec.
    val w0 = System.nanoTime()
    try {
      val r = spark.read.parquet(s"$sfDir/region.parquet")
      r.groupBy("r_name").count().count()
      spark.range(1000).selectExpr("sum(id)").count()
    } catch { case _: Throwable => () }
    val warmup = (System.nanoTime() - w0) / 1e9
    // sorted for stable ordering; clearCache between runs so operators'
    // internal caches (ngram/minhash) don't build cross-query memory
    // pressure and skew later timings — every iteration pays its own cache
    // builds, so iterations are comparable
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val medians = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val spreads = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val warms = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val iterTimes = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]
    selected.foreach { case (name, fn) =>
      val times = scala.collection.mutable.ArrayBuffer.empty[Double]
      var it = 0
      while (it < iters && !errors.contains(name)) {
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch {
          case e: Throwable =>
            errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
              .replaceAll("[\"\\\\\n\r\t]", " ").take(200)
        }
        times += (System.nanoTime() - t0) / 1e9
        // Untimed per-ITERATION hygiene (tightened from per-query in
        // round 8). clearCache() only clears the SQL cache; RDD-level
        // persists and localCheckpoint blocks (clustering sweeps,
        // packed-sequence materialization, checkpointed results) are
        // invisible to it and previously survived until the query's LAST
        // iteration — so iteration-level leftovers could compound WITHIN
        // a query and land in its median (the round-7 text_collocations
        // monotone-growth signature: driver iters ≈ [1.8, 7.3, 15.3] s at
        // suite position ~90, clean-JVM healthy). Unpersist + GC-hint
        // after EVERY iteration, outside the timed region: each iteration
        // now starts from the same storage/heap state, and `iter_times`
        // in bench_full.json makes any residual growth diagnosable from
        // the record alone. (Also the round-4 q15/q16 additive-floor fix:
        // memory pressure from 97×3 runs no longer accumulates.)
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        System.gc()
        it += 1
      }
      // Raw per-iteration times, in run order. Monotone growth across
      // iterations (the round-7 text_collocations signature) is invisible
      // in a median+spread summary — a [1.8, 7.3, 15.3] accumulation and a
      // [15.3, 7.3, 1.8] warmup report identical medians and spreads — so
      // the record keeps the ordered raw times and makes in-suite
      // accumulation first-class diagnosable from bench_full.json alone.
      iterTimes(name) = times.toSeq
      val sorted = times.sorted
      medians(name) = sorted(sorted.size / 2)
      spreads(name) = sorted.last - sorted.head
      // Warm median: iterations 2..n only. Iteration 1 carries per-query
      // codegen/JIT (documented 3-9 s on the ngram PPJoin query), which the
      // median-of-3 keeps by design for cross-round continuity; the warm
      // figure is the steady-state number probes otherwise re-derive by hand.
      val warmSorted = if (times.size > 1) times.drop(1).sorted else sorted
      warms(name) = warmSorted(warmSorted.size / 2)
    }
    // The driver captures only the LAST 2000 BYTES of stdout (measured in
    // BENCH_r04.json: the tail was exactly 2000 bytes with the line's head
    // cut off → parsed:null, two rounds running). So the ONE stdout line must
    // fit that cap at ANY query count: the per-query map here is bounded by a
    // byte budget (slowest queries first — the ones worth reading — plus an
    // explicit omitted count), and the FULL medians/spreads/errors go to
    // stderr for local perf work.
    def fmt(v: Double): String = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    def jmap(m: collection.Map[String, Double]): String =
      m.toSeq.sortBy(_._1).map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
    val errs = errors.take(3).map { case (k, v) => s"\"" + k + "\":\"" + v.take(80) + "\"" }
      .mkString("{", ",", "}")
    val total = if (medians.nonEmpty) medians.values.sum else 0.0
    System.err.println(s"""bench medians: ${jmap(medians)}""")
    System.err.println(s"""bench spread (max-min over $iters iters): ${jmap(spreads)}""")
    if (errors.nonEmpty)
      System.err.println(errors.map { case (k, v) => s"bench error $k: $v" }.mkString("\n"))
    // Slowest-first submap, capped so the whole line stays well under the
    // driver's 2000-byte stdout tail regardless of how many queries exist.
    val budget = 1200
    val slowestFirst = medians.toSeq.sortBy(-_._2)
    val included = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    var used = 0
    var full = false
    // Stop at the FIRST entry that overflows, so the included set is strictly
    // the slowest prefix (a later short-named faster query can never displace
    // a slower long-named one).
    slowestFirst.foreach { case (k, v) =>
      val entry = s"\"" + k + "\":" + fmt(v)
      if (!full && used + entry.length + 1 <= budget) { included += ((k, v)); used += entry.length + 1 }
      else full = true
    }
    val qmap = included.sortBy(_._1).map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val omitted = medians.size - included.size
    // Durable full record (survives any stdout/stderr capture limits): the
    // complete medians + spreads, one JSON object, written into the repo.
    val fullErrs = errors.map { case (k, v) => s"\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val itersJson = iterTimes.toSeq.sortBy(_._1).map { case (k, ts) =>
      s"\"" + k + "\":" + ts.map(fmt).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val fullJson = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${medians.size},"n_failed":${errors.size},"iters":$iters,"warmup_sec":${fmt(warmup)},"errors":$fullErrs,"queries":${jmap(medians)},"spread":${jmap(spreads)},"warm":${jmap(warms)},"iter_times":$itersJson,"sf":"$sfDir"}"""
    try {
      java.nio.file.Files.write(fullPath, (fullJson + "\n").getBytes("UTF-8"))
    } catch {
      case e: Throwable => System.err.println(s"bench: FAILED to write $fullPath: $e")
    }
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${medians.size},"n_failed":${errors.size},"iters":$iters,"warmup_sec":${fmt(warmup)},"errors":$errs,"queries_omitted":$omitted,"queries":$qmap,"sf":"$sfDir"}""")
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}

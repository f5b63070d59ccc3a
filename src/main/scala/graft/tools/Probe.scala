package graft.tools

/** Dev utility: run one registered query N times in a warm session and print
  * per-run wall time plus the formatted physical plan. Usage:
  * {{{ sbt "runMain graft.tools.Probe <queryName> [runs] [sfDir]" }}} */
object Probe {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q1_agg")
    val runs = args.lift(1).map(_.toInt).getOrElse(3)
    val sfDir = args.lift(2).getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Session.build(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    // comma-separated names all probe inside the same warm session, so the
    // per-JVM codegen/datasource warmup is paid once, not once per query
    val requested = name.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val unknown = requested.filterNot(graft.SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"PROBE unknown queries: ${unknown.mkString(", ")}; " +
        s"known: ${graft.SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
    }
    try {
      requested.filter(graft.SparkEntry.queries.contains).foreach { q =>
        val fn = graft.SparkEntry.queries(q)
        (1 to runs).foreach { i =>
          val t0 = System.nanoTime()
          val n = fn(spark, sfDir).count()
          println(f"PROBE $q run$i ${(System.nanoTime() - t0) / 1e9}%.3fs rows=$n")
          // per-run untimed hygiene, matching Bench: leftover RDD persists /
          // checkpoint blocks must not compound across probe runs
          spark.catalog.clearCache()
          spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
          System.gc()
        }
        if (sys.env.get("SPARK_GRAFT_EXPLAIN").contains("1"))
          fn(spark, sfDir).explain("formatted")
      }
    } finally spark.stop()
    if (unknown.nonEmpty) sys.exit(1)
  }
}

package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev utility: run one registered query and print every Spark JOB the run
  * fired — start offset, wall duration, task count and the call site — so a
  * multi-statement fixture's action breakdown is visible without the UI
  * (disabled in the bench session shape). The gap between summed job time
  * and total wall time is driver-side work (planning, manifest IO,
  * collect handling). Usage:
  * {{{ sbt "runMain graft.tools.JobProfile <queryName> [runs] [sfDir]" }}} */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q1_agg")
    val runs = args.lift(1).map(_.toInt).getOrElse(2)
    val sfDir = args.lift(2).getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.Session.build(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    case class J(id: Int, start: Long, var end: Long, tasks: Int,
      site: String)
    val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, J]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.synchronized {
          jobs(e.jobId) = J(e.jobId, e.time, -1L,
            e.stageInfos.map(_.numTasks).sum,
            Option(e.properties)
              .flatMap(p => Option(p.getProperty("callSite.short")))
              .getOrElse("?"))
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(e.jobId).foreach(_.end = e.time) }
    })
    val fn = graft.SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query $name"))
    (1 to runs).foreach { i =>
      jobs.synchronized(jobs.clear())
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      val snap = jobs.synchronized(jobs.values.toSeq)
      val base = snap.headOption.map(_.start).getOrElse(0L)
      var jsum = 0.0
      snap.foreach { j =>
        val dur = if (j.end < 0) -1.0 else (j.end - j.start) / 1e3
        if (dur > 0) jsum += dur
        println(f"JOB ${j.id}%4d +${(j.start - base) / 1e3}%7.2fs " +
          f"${dur}%7.3fs tasks=${j.tasks}%4d  ${j.site}")
      }
      println(f"PROFILE $name run$i wall=${wall}%.3fs jobs=${snap.size} " +
        f"jobTime=${jsum}%.3fs driverGap=${wall - jsum}%.3fs rows=$n")
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      System.gc()
    }
    spark.stop()
  }
}

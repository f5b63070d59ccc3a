package graft.tools

/** Dev tool: dump formatted physical plans for headline queries so the
  * pushdown/broadcast/codegen posture is auditable.
  * `sbt 'runMain graft.tools.ExplainAudit [names...]'` */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.build(8)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q1_agg", "q2_join_agg", "q5_filter", "q9_join3", "dedup_exact")
    names.foreach { n =>
      println(s"\n======== $n ========")
      graft.SparkEntry.queries(n)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}

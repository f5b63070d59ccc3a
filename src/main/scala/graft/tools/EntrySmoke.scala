package graft.tools

/** Dev smoke for the driver's t1 gate: runs SparkEntry.entry and prints the
  * row count (driver checks rows > 0). `sbt 'runMain graft.tools.EntrySmoke'` */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.build(8)
    spark.sparkContext.setLogLevel("WARN")
    val df = graft.SparkEntry.entry(spark)
    df.show(20, truncate = false)
    println(s"entry rows: ${df.count()}")
    spark.stop()
  }
}

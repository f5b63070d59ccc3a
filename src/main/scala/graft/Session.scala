package graft

import org.apache.spark.sql.SparkSession

/** The one session shape of `Bench`, `Verify` and the dev tools, so a
  * profile or probe measures exactly the configuration the gates time. */
private[graft] object Session {
  def build(cores: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    // dynamic-partitioned writes: keep up to 16 output files open per task
    // instead of planning a per-task sort on the partition expression —
    // the sort is the write-side straggler amplifier on skewed partition
    // values (SURVEY.md §7.4.5); 16 writers × default parquet buffers
    // stays well inside executor memory
    .config("spark.sql.maxConcurrentOutputFileWriters", "16")
    // v2 file-output commit (task output promoted directly, one rename
    // instead of two) and no _SUCCESS markers. The snapshot lanes stage
    // into their own .stage_* trees behind an atomic manifest flip; the
    // plain PartitionedSink lane writes straight to its destination, so
    // under v2 a mid-job failure CAN leave committed task outputs
    // visible there — accepted because harness runs abort on failure
    // and use fresh output dirs. Nothing in the engine reads _SUCCESS
    // (hidden-file filters skip it).
    .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
    .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
    .config("spark.ui.enabled", "false")
    // the library's standard deployment extension: SQL functions + the
    // snapshot-table row-level DML rule (DELETE/UPDATE/MERGE fixtures)
    .withExtensions(new GraftExtensions)
    .getOrCreate()
}

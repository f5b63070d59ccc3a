package graft.sink

import graft.SparkSpec
import org.apache.spark.graft.JobCounter

/** The shared persisted-state machinery: the `seen/` replay ledger must
  * stay BOUNDED — a redelivery can only be the newest uncommitted batch,
  * so only a suffix window is ever consulted, and an unbounded ledger
  * would grow per-batch driver cost linearly with stream lifetime. */
class GenerationStateSpec extends SparkSpec {

  test("seen ledger is capped at MaxSeenTags, keeping the newest suffix") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("gen_cap").toString
    val tags = (0L until (GenerationState.MaxSeenTags + 40L))
      .map(i => (i, i * 31L))
    GenerationState.publish(spark, path,
      Seq("part" -> Seq(1).toDF("x")), tags)
    val live = GenerationState.liveRoot(spark, path, "test state")
    val seen = GenerationState.seenTags(spark, live)
    assert(seen.length == GenerationState.MaxSeenTags)
    assert(seen == tags.takeRight(GenerationState.MaxSeenTags),
      "the ledger must keep exactly the newest tags in order")
    // the newest tag still registers as a replay; an evicted one doesn't
    assert(GenerationState.isReplay(seen, Some(tags.last)))
    assert(!GenerationState.isReplay(seen, Some(tags.head)))
  }

  test("seenTags restores append order from the persisted pos column") {
    import spark.implicits._
    val live = java.nio.file.Files.createTempDirectory("gen_pos").toString
    // rows land in REVERSE append order: a read that trusted row order
    // (or batch ids — a fresh checkpoint lineage restarts those at 0)
    // would truncate the wrong end of the window
    Seq((9L, 90L, 2L), (7L, 70L, 0L), (8L, 80L, 1L))
      .toDF("batch_id", "fp", "pos").coalesce(1)
      .write.parquet(s"$live/seen")
    assert(GenerationState.seenTags(spark, live)
      == Seq((7L, 70L), (8L, 80L), (9L, 90L)))
  }

  test("seenTags reads the ledger on the driver, legacy id-only rows as match-any") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("gen_jobs").toString
    val tags = Seq((3L, 30L), (1L, 10L), (2L, 20L))
    GenerationState.publish(spark, path, Seq("part" -> Seq(1).toDF("x")), tags)
    val live = GenerationState.liveRoot(spark, path, "test state")
    val (seen, jobs) = JobCounter(spark)(
      GenerationState.seenTags(spark, live))
    assert(seen == tags)
    assert(jobs == 0, s"a replay check ran $jobs Spark jobs")
    // a pre-fingerprint ledger (Spark-written, batch ids only) upgrades
    // every row to the LegacyFp sentinel, which matches any fingerprint
    val legacy = java.nio.file.Files.createTempDirectory("gen_legacy").toString
    Seq(5L, 6L).toDF("batch_id").coalesce(1).write.parquet(s"$legacy/seen")
    val old = GenerationState.seenTags(spark, legacy)
    assert(old == Seq((5L, GenerationState.LegacyFp),
      (6L, GenerationState.LegacyFp)))
    assert(GenerationState.isReplay(old, Some((6L, 12345L))))
    assert(!GenerationState.isReplay(old, Some((7L, 12345L))))
  }
}

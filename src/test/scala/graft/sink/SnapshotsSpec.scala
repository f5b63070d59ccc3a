package graft.sink

import graft.SparkSpec
import graft.sink.Snapshots.{SnapAppend, SnapOverwritePartitions}
import org.apache.spark.sql.functions._

/** The snapshot/time-travel layer: append and overwrite-partitions
  * manifests, time travel, manifest-only history, retention expiry, and
  * the partition-pruned read plan. */
class SnapshotsSpec extends SparkSpec
    with org.scalatest.BeforeAndAfterEach {

  // a test that fails before its injected interleave is consumed must not
  // leak it into the next test's publish
  override def afterEach(): Unit =
    try super.afterEach()
    finally Snapshots.prePublishInterleave = () => ()

  private def orders = graft.Tables(spark, sf0001, "orders")
    .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")

  private def keys(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("o_orderkey").collect().map(_.getLong(0)).toSet

  test("append and overwrite-partitions: both states readable, old files retained") {
    val root = java.nio.file.Files.createTempDirectory("snap_rw").toString
    val s1 = Snapshots.write(orders, root, Seq("o_orderpriority"))
    val patch = orders.filter(col("o_orderpriority") === "1-URGENT"
      && col("o_orderkey") % 2 === 0)
    val s2 = Snapshots.write(patch, root, Seq("o_orderpriority"),
      SnapOverwritePartitions)
    assert((s1, s2) == ((1, 2)))
    assert(Snapshots.currentSnapshot(spark, root).contains(2))
    // current = overwrite semantics; time travel = the original
    val all = keys(orders)
    val urgentOdd = keys(orders.filter(col("o_orderpriority") === "1-URGENT"
      && col("o_orderkey") % 2 =!= 0))
    assert(keys(Snapshots.read(spark, root)) == all -- urgentOdd)
    assert(keys(Snapshots.read(spark, root, asOf = Some(1))) == all)
    // an APPEND on top sees both trees
    val s3 = Snapshots.write(
      orders.filter(col("o_orderpriority") === "1-URGENT"
        && col("o_orderkey") % 4 === 1), root,
      Seq("o_orderpriority"), SnapAppend)
    assert(s3 == 3)
    assert(keys(Snapshots.read(spark, root)) ==
      all -- urgentOdd ++ urgentOdd.filter(_ % 4 == 1))
    // snapshots 1 and 2 are unchanged by the append (immutability)
    assert(keys(Snapshots.read(spark, root, asOf = Some(1))) == all)
    assert(keys(Snapshots.read(spark, root, asOf = Some(2))) == all -- urgentOdd)
  }

  test("reads are partition-pruned through the manifest file listing") {
    val root = java.nio.file.Files.createTempDirectory("snap_prune").toString
    Snapshots.write(orders, root, Seq("o_orderpriority"))
    val q = Snapshots.read(spark, root)
      .filter(col("o_orderpriority") === "5-LOW")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("o_orderpriority"),
      s"partition filter not pushed to the snapshot scan:\n$plan")
    assert(keys(q) == keys(orders.filter(col("o_orderpriority") === "5-LOW")))
  }

  test("history reports per-snapshot mode and live file/partition counts") {
    val root = java.nio.file.Files.createTempDirectory("snap_hist").toString
    Snapshots.write(orders.coalesce(1), root, Seq("o_orderpriority"))
    Snapshots.write(
      orders.filter(col("o_orderpriority") === "1-URGENT").coalesce(1),
      root, Seq("o_orderpriority"), SnapOverwritePartitions)
    val h = Snapshots.history(spark, root).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))
    val np = orders.select("o_orderpriority").distinct().count()
    assert(h.toSeq == Seq(
      (1, "append", np, np, false),
      (2, "overwrite_partitions", np, np, true)))
  }

  test("expire drops old manifests and unreferenced files, keeps the live tree intact") {
    val root = java.nio.file.Files.createTempDirectory("snap_exp").toString
    Snapshots.write(orders, root, Seq("o_orderpriority"))
    Snapshots.write(
      orders.filter(col("o_orderpriority") === "1-URGENT"
        && col("o_orderkey") % 2 === 0), root,
      Seq("o_orderpriority"), SnapOverwritePartitions)
    val before = keys(Snapshots.read(spark, root))
    val dataFiles = {
      val d = new java.io.File(s"$root/data")
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else if (!f.getName.startsWith("_") && !f.getName.startsWith("."))
          Seq(f) else Seq.empty
      () => walk(d).map(_.getPath).toSet
    }
    val filesBefore = dataFiles()
    val (expired, deleted) = Snapshots.expire(spark, root, keepLast = 1)
    assert(expired == Seq(1))
    // exactly the replaced partition's original file(s) died
    assert(deleted > 0 && dataFiles().size == filesBefore.size - deleted)
    // current state byte-identical after expiry
    assert(keys(Snapshots.read(spark, root)) == before)
    // time travel to the expired snapshot fails loudly
    val e = intercept[IllegalStateException] {
      Snapshots.read(spark, root, asOf = Some(1))
    }
    assert(e.getMessage.contains("expired") || e.getMessage.contains("exist"))
    // expiring again is a no-op
    assert(Snapshots.expire(spark, root, keepLast = 1) == ((Seq.empty, 0)))
  }

  test("compact rewrites only fragmented partitions; older snapshots keep the fragments") {
    val root = java.nio.file.Files.createTempDirectory("snap_comp").toString
    // 3 appends → 3 files per partition; compact → 1 per partition
    for (m <- 0 to 2)
      Snapshots.write(orders.filter(col("o_orderkey") % 3 === m).coalesce(1),
        root, Seq("o_orderpriority"), SnapAppend)
    val all = keys(orders)
    val cid = Snapshots.compact(spark, root, Seq("o_orderpriority"))
    assert(cid.contains(4))
    assert(keys(Snapshots.read(spark, root)) == all)
    assert(keys(Snapshots.read(spark, root, asOf = Some(3))) == all,
      "fragmented snapshot must stay readable behind the compaction")
    val h = Snapshots.history(spark, root).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    val np = orders.select("o_orderpriority").distinct().count()
    assert(h.last == ((4, "compact", np)))
    // nothing fragmented now — a second compact is a no-op
    assert(Snapshots.compact(spark, root, Seq("o_orderpriority")).isEmpty)
    // expiry to the compacted snapshot reclaims the fragments
    val (expired, deleted) = Snapshots.expire(spark, root, keepLast = 1)
    assert(expired == Seq(1, 2, 3) && deleted == 3 * np)
    assert(keys(Snapshots.read(spark, root)) == all)
  }

  test("snapshotStream lands each micro-batch as one queryable snapshot") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap_stream").toString
    val rows = orders.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val input = MemoryStream[(Long, Long, Double, String)]
    val q = Snapshots.snapshotStream(
      input.toDF().toDF("o_orderkey", "o_custkey", "o_totalprice",
        "o_orderpriority"),
      root, Seq("o_orderpriority"))
    try {
      input.addData(b1.toIndexedSeq)
      q.processAllAvailable()
      input.addData(b2.toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    assert(Snapshots.currentSnapshot(spark, root).contains(2))
    assert(keys(Snapshots.read(spark, root, asOf = Some(1))) ==
      b1.map(_._1).toSet)
    assert(keys(Snapshots.read(spark, root)) == rows.map(_._1).toSet)
  }

  test("schema evolution gate: widen updates the recorded contract, breakage publishes nothing") {
    val root = java.nio.file.Files.createTempDirectory("snap_evo").toString
    val slim = orders.select("o_orderkey", "o_totalprice", "o_orderpriority")
    Snapshots.write(slim, root, Seq("o_orderpriority"))
    // widened append: a new nullable column — admitted under Widen, and
    // the recorded contract makes EVERY read resolve it (pre-widening
    // files read null; no per-file footer inference, no mergeSchema)
    Snapshots.write(
      orders.select("o_orderkey", "o_totalprice", "o_custkey",
        "o_orderpriority").filter(col("o_orderkey") % 2 === 1),
      root, Seq("o_orderpriority"))
    val cur = Snapshots.read(spark, root)
    assert(cur.columns.toSet.contains("o_custkey"))
    val byKey = cur.select("o_orderkey", "o_custkey").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert(byKey.filter(_._1 % 2 == 0).forall(_._2.isEmpty),
      "pre-widening rows must read null for the new column")
    assert(byKey.filter(_._1 % 2 == 1).forall(_._2.nonEmpty))
    // time travel resolves the OLD snapshot under the CURRENT contract?
    // No — each snapshot carries its own recorded schema
    assert(!Snapshots.read(spark, root, asOf = Some(1))
      .columns.contains("o_custkey"))
    // a narrowed batch is rejected with nothing published
    val before = Snapshots.currentSnapshot(spark, root)
    intercept[graft.schema.GraftSchemaException] {
      Snapshots.write(
        slim.withColumn("o_orderkey", col("o_orderkey").cast("int")),
        root, Seq("o_orderpriority"))
    }
    assert(Snapshots.currentSnapshot(spark, root) == before)
    // Strict policy rejects even safe drift
    intercept[graft.schema.GraftSchemaException] {
      Snapshots.write(slim, root, Seq("o_orderpriority"),
        evolution = graft.schema.SchemaEvolution.Strict)
    }
    // compaction under the widened contract keeps the merged schema
    Snapshots.compact(spark, root, Seq("o_orderpriority"))
    val compacted = Snapshots.read(spark, root)
    assert(compacted.columns.toSet == cur.columns.toSet)
    assert(compacted.select("o_orderkey", "o_custkey").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap == byKey)
  }

  test("readAddedSince and changedPartitions resolve from manifests alone") {
    val root = java.nio.file.Files.createTempDirectory("snap_incr").toString
    for (m <- 0 to 2)
      Snapshots.write(orders.filter(col("o_orderkey") % 3 === m),
        root, Seq("o_orderpriority"), SnapAppend)
    // since s1: exactly batches 2 and 3
    val added = Snapshots.readAddedSince(spark, root, sinceId = 1)
    assert(added.isDefined)
    assert(keys(added.get) == keys(orders.filter(col("o_orderkey") % 3 =!= 0)))
    // bounded window s1..s2: exactly batch 2
    assert(keys(Snapshots.readAddedSince(spark, root, 1, Some(2)).get) ==
      keys(orders.filter(col("o_orderkey") % 3 === 1)))
    // nothing new between a snapshot and itself
    assert(Snapshots.readAddedSince(spark, root, 3, Some(3)).isEmpty)
    // every partition gained files across the appends
    val np = orders.select("o_orderpriority").distinct().count()
    assert(Snapshots.changedPartitions(spark, root, 1, 3).size == np)
    assert(Snapshots.changedPartitions(spark, root, 3, 3).isEmpty)
  }

  test("mergeUpsert: replace, insert, cross-partition move, delete, emptied partition — non-destructively") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap_merge").toString
    val base = Seq(
      (1L, "a", 10.0), (2L, "a", 20.0), (3L, "a", 30.0),
      (4L, "b", 40.0), (5L, "b", 50.0))
      .toDF("id", "p", "v")
    Snapshots.write(base, root, Seq("p"))
    val updates = Seq(
      (2L, "a", 21.0, false),  // in-place replace
      (4L, "a", 41.0, false),  // MOVE b→a with new payload
      (6L, "a", 60.0, false),  // insert
      (3L, "a", 0.0, true),    // delete
      (5L, "b", 0.0, true))    // delete — empties partition b entirely
      .toDF("id", "p", "v", "__del")
    val mid = Snapshots.mergeUpsert(spark, root, updates, Seq("p"), Seq("id"),
      deleteCol = Some("__del"))
    assert(mid == 2)
    val cur = Snapshots.read(spark, root).select("id", "p", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(cur == Set((1L, "a", 10.0), (2L, "a", 21.0), (4L, "a", 41.0),
      (6L, "a", 60.0)))
    // the emptied partition is gone from the manifest — no phantom value
    assert(Snapshots.read(spark, root).select("p").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("a"))
    // ...but the PRE-merge state is fully time-travelable
    val before = Snapshots.read(spark, root, asOf = Some(1))
      .select("id", "p", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(before == Set((1L, "a", 10.0), (2L, "a", 20.0), (3L, "a", 30.0),
      (4L, "b", 40.0), (5L, "b", 50.0)))
    // no-op batch (delete of an absent key) publishes nothing
    assert(Snapshots.mergeUpsert(spark, root,
      Seq((99L, "a", 0.0, true)).toDF("id", "p", "v", "__del"),
      Seq("p"), Seq("id"), deleteCol = Some("__del")) == 2)
    // guards: duplicate batch keys, partition-field key
    intercept[IllegalArgumentException] {
      Snapshots.mergeUpsert(spark, root,
        Seq((7L, "a", 1.0), (7L, "a", 2.0)).toDF("id", "p", "v"),
        Seq("p"), Seq("id"))
    }
    intercept[IllegalArgumentException] {
      Snapshots.mergeUpsert(spark, root,
        Seq((7L, "a", 1.0)).toDF("id", "p", "v"), Seq("p"), Seq("p"))
    }
  }

  test("vacuum reclaims orphan files and stale staging trees, never live ones") {
    val root = java.nio.file.Files.createTempDirectory("snap_vac").toString
    Snapshots.write(orders, root, Seq("o_orderpriority"))
    val before = keys(Snapshots.read(spark, root))
    // plant a crashed write: a file moved into data/ with no manifest,
    // and a leftover staging tree
    val orphanDir = new java.io.File(s"$root/data/o_orderpriority=9-PHANTOM")
    orphanDir.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$orphanDir/part-orphan.parquet"),
      Array[Byte](1, 2, 3))
    new java.io.File(s"$root/.stage_dead").mkdirs()
    // the grace window protects fresh unreferenced files (an in-flight
    // writer's) — the planted orphans are brand new, so a default vacuum
    // must leave them alone...
    assert(Snapshots.vacuum(spark, root) == ((0, 0)),
      "fresh unreferenced files must survive the grace window")
    assert(orphanDir.exists())
    // ...and an immediate-reclaim vacuum (writer known quiesced) sweeps them
    val (orphans, stages) = Snapshots.vacuum(spark, root, graceMs = 0L)
    assert((orphans, stages) == ((1, 1)))
    assert(!orphanDir.exists(), "emptied orphan partition dir must be pruned")
    assert(!new java.io.File(s"$root/.stage_dead").exists())
    assert(keys(Snapshots.read(spark, root)) == before, "live files untouched")
    assert(Snapshots.vacuum(spark, root, graceMs = 0L) == ((0, 0)), "idempotent")
  }

  private def manifestText(root: String, id: Int): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/snapshots/s$id")),
      java.nio.charset.StandardCharsets.UTF_8)

  test("delta manifests: appends write O(batch) manifests, chains rebase, every state resolves") {
    val root = java.nio.file.Files.createTempDirectory("snap_delta").toString
    // 10 single-file appends: s1 full (first write), s2..s8 deltas,
    // s9 rebases (chain would hit RebaseEvery), s10 delta again
    for (m <- 0 to 9)
      Snapshots.write(orders.filter(col("o_orderkey") % 10 === m).coalesce(1),
        root, Seq("o_orderpriority"), SnapAppend)
    assert(!manifestText(root, 1).contains("parent="))
    for (id <- 2 to 8)
      assert(manifestText(root, id).contains(s"parent=${id - 1}"),
        s"s$id should be a delta")
    assert(!manifestText(root, 9).contains("parent="),
      "s9 must rebase into a full manifest")
    assert(manifestText(root, 10).contains("parent=9"))
    // an APPEND delta's size is batch-shaped: add lines only, no full list
    val np = orders.select("o_orderpriority").distinct().count()
    val d8 = manifestText(root, 8)
    assert(d8.linesIterator.count(_.startsWith("add=")) == np
      && !d8.contains("file=") && !d8.contains("remove="))
    // every intermediate state resolves to exactly its prefix of batches
    for (id <- Seq(1, 5, 8, 9, 10))
      assert(keys(Snapshots.read(spark, root, asOf = Some(id))) ==
        keys(orders.filter(col("o_orderkey") % 10 < id)),
        s"snapshot s$id resolved the wrong file set")
  }

  test("delta manifests: overwrite and merge record removes; expire rebases the oldest kept") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap_dexp").toString
    val base = Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0))
      .toDF("id", "p", "v")
    Snapshots.write(base, root, Seq("p"))
    Snapshots.write(Seq((4L, "a", 40.0)).toDF("id", "p", "v"), root, Seq("p"),
      SnapOverwritePartitions) // replaces partition a
    Snapshots.write(Seq((5L, "b", 50.0)).toDF("id", "p", "v"), root, Seq("p"))
    assert(manifestText(root, 2).contains("remove="))
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id").collect().map(_.getLong(0)).toSet
    assert(ids(Snapshots.read(spark, root)) == Set(3L, 4L, 5L))
    // expire past the full ancestor: s2 (kept head, a delta) must rebase
    val (expired, _) = Snapshots.expire(spark, root, keepLast = 2)
    assert(expired == Seq(1))
    assert(!manifestText(root, 2).contains("parent="),
      "oldest kept delta must rebase off the expired chain")
    assert(ids(Snapshots.read(spark, root, asOf = Some(2))) == Set(3L, 4L))
    assert(ids(Snapshots.read(spark, root)) == Set(3L, 4L, 5L))
    assert(Snapshots.readAddedSince(spark, root, 2).map(ids)
      .contains(Set(5L)))
  }

  test("replay guard: a re-delivered batch tag returns the published snapshot, rows counted once") {
    val root = java.nio.file.Files.createTempDirectory("snap_replay").toString
    val batch = orders.filter(col("o_orderkey") % 5 === 0)
    val tag = Some("3:abcd1234")
    val s1 = Snapshots.write(orders, root, Seq("o_orderpriority"))
    val s2 = Snapshots.write(batch, root, Seq("o_orderpriority"),
      SnapAppend, batchTag = tag)
    // the replay: same tag delivered again must not stage, publish, or count
    val s2b = Snapshots.write(batch, root, Seq("o_orderpriority"),
      SnapAppend, batchTag = tag)
    assert((s1, s2, s2b) == ((1, 2, 2)))
    assert(Snapshots.currentSnapshot(spark, root).contains(2))
    assert(Snapshots.read(spark, root).count() ==
      orders.count() + batch.count(), "replayed rows must not double-count")
    // a DIFFERENT tag (new lineage, new content) lands normally
    assert(Snapshots.write(batch, root, Seq("o_orderpriority"),
      SnapAppend, batchTag = Some("0:ffff")) == 3)
  }

  test("replay window: a re-delivered tag converges across interleaved maintenance publishes") {
    val root = java.nio.file.Files.createTempDirectory("snap_rwin").toString
    // two appends fragment every partition so compact has work to do
    Snapshots.write(orders.filter(col("o_orderkey") % 2 === 0).coalesce(1),
      root, Seq("o_orderpriority"))
    Snapshots.write(orders.filter(col("o_orderkey") % 2 === 1).coalesce(1),
      root, Seq("o_orderpriority"), SnapAppend)
    val batch = orders.filter(col("o_orderkey") % 5 === 0)
    val tag = Some("7:feedbead")
    assert(Snapshots.write(batch.coalesce(1), root, Seq("o_orderpriority"),
      SnapAppend, batchTag = tag) == 3)
    // scheduled maintenance publishes BETWEEN the batch's snapshot and its
    // redelivery — exactly the crash-after-publish-before-checkpoint
    // window the docs recommend running maintain() into
    assert(Snapshots.compact(spark, root, Seq("o_orderpriority"))
      .contains(4))
    val settled = Snapshots.read(spark, root).count()
    // head tag is now compact's (none); the ROLLING WINDOW must still
    // recognize the redelivery and converge instead of double-appending
    assert(Snapshots.write(batch.coalesce(1), root, Seq("o_orderpriority"),
      SnapAppend, batchTag = tag) == 4)
    assert(Snapshots.read(spark, root).count() == settled,
      "redelivery across a maintenance publish must not double-append")
    // the window also survives expire's rebase-in-place of kept manifests
    val extra = orders.limit(7)
    Snapshots.write(extra.coalesce(1), root, Seq("o_orderpriority"),
      SnapAppend) // s5
    Snapshots.expire(spark, root, keepLast = 2) // rebases s4 over 1..3
    assert(Snapshots.write(batch.coalesce(1), root, Seq("o_orderpriority"),
      SnapAppend, batchTag = tag) == 5)
    assert(Snapshots.read(spark, root).count() == settled + extra.count())
    // a genuinely new tag still lands
    assert(Snapshots.write(batch.coalesce(1), root, Seq("o_orderpriority"),
      SnapAppend, batchTag = Some("8:beef")) == 6)
  }

  test("a race-losing pure append retries metadata-only: both writers' batches land") {
    val root = java.nio.file.Files.createTempDirectory("snap_race").toString
    Snapshots.write(orders, root, Seq("o_orderpriority"))
    val a = orders.filter(col("o_orderkey") % 5 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + 2000000L)
    val b = orders.filter(col("o_orderkey") % 5 === 1)
      .withColumn("o_orderkey", col("o_orderkey") + 3000000L)
    // writer B publishes between A's base resolution and A's pointer flip
    Snapshots.prePublishInterleave = () =>
      assert(Snapshots.write(b, root, Seq("o_orderpriority"),
        SnapAppend) == 2)
    val sa = Snapshots.write(a, root, Seq("o_orderpriority"), SnapAppend)
    assert(sa == 3, "the losing append must rebase onto the new head")
    assert(Snapshots.currentSnapshot(spark, root).contains(3))
    // resolved set is the UNION — nothing lost, nothing doubled
    assert(Snapshots.read(spark, root).count() ==
      orders.count() + a.count() + b.count())
    assert(keys(Snapshots.read(spark, root)) ==
      keys(orders) ++ keys(a) ++ keys(b))
    // both writers' snapshots are history
    assert(Snapshots.history(spark, root).collect().map(_.getInt(0)).toSeq
      == Seq(1, 2, 3))
  }

  test("race retry re-stamps file seqs: a winner's newer equality delete cannot suppress the rebased append") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap_raceseq").toString
    Snapshots.write(
      Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0))
        .toDF("k", "p", "v").coalesce(1), root, Seq("p"))
    // two winners land while the loser is in flight: an append (s2), then
    // a merge-on-read DELETE of key 2 (s3, delete entry seq=3) — the
    // loser re-inserts key 2, rebases to s4, and its file seq must be
    // re-stamped to 4 (seq 2 would be suppressed by the seq-3 delete)
    Snapshots.prePublishInterleave = () => {
      assert(Snapshots.write(Seq((4L, "b", 40.0)).toDF("k", "p", "v")
        .coalesce(1), root, Seq("p"), SnapAppend) == 2)
      assert(Snapshots.mergeDeltas(spark, root,
        Seq((2L, "a", 0.0, true)).toDF("k", "p", "v", "__del"),
        Seq("p"), Seq("k"), deleteCol = Some("__del")) == 3)
    }
    assert(Snapshots.write(Seq((2L, "a", 99.0)).toDF("k", "p", "v")
      .coalesce(1), root, Seq("p"), SnapAppend) == 4)
    val vals = Snapshots.read(spark, root).filter(col("k") === 2L)
      .select("v").collect().map(_.getDouble(0)).toSet
    assert(vals == Set(99.0),
      s"base copy suppressed, rebased append survives — got $vals")
  }

  test("a race-losing non-append write still aborts loudly") {
    val root = java.nio.file.Files.createTempDirectory("snap_raceovw").toString
    Snapshots.write(orders, root, Seq("o_orderpriority"))
    val b = orders.filter(col("o_orderkey") % 5 === 1)
      .withColumn("o_orderkey", col("o_orderkey") + 3000000L)
    Snapshots.prePublishInterleave = () =>
      assert(Snapshots.write(b, root, Seq("o_orderpriority"),
        SnapAppend) == 2)
    intercept[java.util.ConcurrentModificationException] {
      Snapshots.write(
        orders.filter(col("o_orderpriority") === "1-URGENT"), root,
        Seq("o_orderpriority"), SnapOverwritePartitions)
    }
    // the winner's publish is intact; the loser's staged files are
    // unreferenced vacuum food
    assert(Snapshots.currentSnapshot(spark, root).contains(2))
    assert(Snapshots.read(spark, root).count() == orders.count() + b.count())
  }

  test("append-during-compact: the race-losing compaction rebases and BOTH land") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap_racecmp").toString
    // two fragments in partition a → compact has work there
    Snapshots.write(Seq((1L, "a", 10.0), (2L, "a", 20.0))
      .toDF("k", "p", "v").coalesce(1), root, Seq("p"))
    Snapshots.write(Seq((3L, "a", 30.0)).toDF("k", "p", "v").coalesce(1),
      root, Seq("p"), SnapAppend)
    // the winner APPENDS INTO THE COMPACTED PARTITION between the
    // compaction's base resolution and its pointer flip — the hostile
    // direction: a dir-recomputing rebase would remove (and lose) the
    // winner's file; the explicit retire-list rebase must keep it live
    Snapshots.prePublishInterleave = () =>
      assert(Snapshots.write(Seq((4L, "a", 40.0)).toDF("k", "p", "v")
        .coalesce(1), root, Seq("p"), SnapAppend) == 3)
    assert(Snapshots.compact(spark, root, Seq("p")).contains(4),
      "the losing compaction must rebase onto the new head")
    val m = Snapshots.read(spark, root).select("k", "v").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(m == Map(1L -> 10.0, 2L -> 20.0, 3L -> 30.0, 4L -> 40.0),
      s"nothing lost, nothing doubled: $m")
    // layout: the compacted file replaced the two base fragments; the
    // winner's append rides beside it (2 files in partition a)
    val aFiles = Snapshots.read(spark, root).inputFiles
      .filter(_.contains("p=a"))
    assert(aFiles.length == 2, s"compacted + winner's append: " +
      aFiles.mkString(", "))
    assert(Snapshots.history(spark, root).collect().map(_.getString(1))
      .toSeq == Seq("append", "append", "append", "compact"))
    // a follow-up maintenance pass re-fires on the now-2-file partition
    // (the rebase never promises the post-compact file bound)
    assert(Snapshots.compact(spark, root, Seq("p")).contains(5))
    assert(Snapshots.read(spark, root).count() == 4)
  }

  test("append-during-fold rebases; a winner's interleaved MERGE (new equality-deletes) aborts the fold") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap_racefld").toString
    Snapshots.write(Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0))
      .toDF("k", "p", "v").coalesce(1), root, Seq("p"),
      statsColumns = Seq("k"))
    // leave a live equality-delete (k=2) for fold to settle
    assert(Snapshots.mergeDeltas(spark, root,
      Seq((2L, "a", 0.0, true)).toDF("k", "p", "v", "__del").coalesce(1),
      Seq("p"), Seq("k"), deleteCol = Some("__del")) == 2)
    // a pure append lands while the fold is in flight → the fold rebases
    Snapshots.prePublishInterleave = () =>
      assert(Snapshots.write(Seq((5L, "b", 50.0)).toDF("k", "p", "v")
        .coalesce(1), root, Seq("p"), SnapAppend) == 3)
    assert(Snapshots.foldDeletes(spark, root, Seq("p")).contains(4))
    val m = Snapshots.read(spark, root).select("k", "v").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(m == Map(1L -> 10.0, 3L -> 30.0, 5L -> 50.0),
      s"fold settled the delete; the winner's append survives: $m")
    assert(Snapshots.snapshotLog(spark, root)
      .filter(col("is_current")).head().getLong(6) == 0L,
      "no live delete files after the fold")
    // now a winner MERGE adds a NEW equality-delete while a fold is in
    // flight: the fold's restaged rows would outrank (resurrect) it —
    // must abort loudly, winner intact
    assert(Snapshots.mergeDeltas(spark, root,
      Seq((5L, "b", 0.0, true)).toDF("k", "p", "v", "__del").coalesce(1),
      Seq("p"), Seq("k"), deleteCol = Some("__del")) == 5)
    Snapshots.prePublishInterleave = () =>
      assert(Snapshots.mergeDeltas(spark, root,
        Seq((1L, "a", 0.0, true)).toDF("k", "p", "v", "__del").coalesce(1),
        Seq("p"), Seq("k"), deleteCol = Some("__del")) == 6)
    val ex = intercept[java.util.ConcurrentModificationException] {
      Snapshots.foldDeletes(spark, root, Seq("p"))
    }
    assert(ex.getMessage.contains("added equality-delete"), ex.getMessage)
    assert(Snapshots.read(spark, root).select("k").collect()
      .map(_.getLong(0)).toSet == Set(3L),
      "both winners' deletes stand after the fold's abort")
  }

  test("a race-losing metadata-only fold (dead deletes) re-runs against the new head") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap_racefm").toString
    Snapshots.write(Seq((1L, "a", 10.0)).toDF("k", "p", "v").coalesce(1),
      root, Seq("p"), statsColumns = Seq("k"))
    // a MoR delete of key 5 applies to NO file (stats [1,1] vs [5,5])
    // → the fold takes the metadata-only drop path
    assert(Snapshots.mergeDeltas(spark, root,
      Seq((5L, "a", 0.0, true)).toDF("k", "p", "v", "__del").coalesce(1),
      Seq("p"), Seq("k"), deleteCol = Some("__del")) == 2)
    // a pure append lands between the fold's resolution and its flip —
    // the dead-entry drop is safe to recompute wholesale, so the fold
    // re-runs and lands instead of aborting
    Snapshots.prePublishInterleave = () =>
      assert(Snapshots.write(Seq((9L, "b", 90.0)).toDF("k", "p", "v")
        .coalesce(1), root, Seq("p"), SnapAppend) == 3)
    assert(Snapshots.foldDeletes(spark, root, Seq("p")).contains(4))
    assert(Snapshots.snapshotLog(spark, root)
      .filter(col("is_current")).head().getLong(6) == 0L,
      "the dead delete entry is dropped")
    assert(Snapshots.read(spark, root).select("k").collect()
      .map(_.getLong(0)).toSet == Set(1L, 9L),
      "the winner's append survives the re-run")
  }

  test("compact-during-deleteWhere conflict: the rewrite whose files a winner replaced aborts, staged files are vacuum food, a re-run lands") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap_racecd").toString
    Snapshots.write(Seq((1L, "a", 10.0), (2L, "a", 20.0))
      .toDF("k", "p", "v").coalesce(1), root, Seq("p"))
    Snapshots.write(Seq((3L, "a", 30.0)).toDF("k", "p", "v").coalesce(1),
      root, Seq("p"), SnapAppend)
    // the winner predicate-DELETES k=1 — its copy-on-write REPLACES a
    // file the compaction read and retires → rebasing would resurrect
    // the deleted row; the compact must abort naming the replaced file
    Snapshots.prePublishInterleave = () =>
      assert(Snapshots.deleteWhere(spark, root, Seq("p"),
        col("k") === 1L).contains(3))
    val ex = intercept[java.util.ConcurrentModificationException] {
      Snapshots.compact(spark, root, Seq("p"))
    }
    assert(ex.getMessage.contains("removed or replaced"), ex.getMessage)
    // crash-between-retries posture: the loser's staged files are
    // unreferenced orphans — vacuum reclaims them and a clean re-run
    // compacts the post-delete state
    assert(Snapshots.read(spark, root).select("k").collect()
      .map(_.getLong(0)).toSet == Set(2L, 3L),
      "the winner's delete must stand")
    val (orphans, _) = Snapshots.vacuum(spark, root, 0L)
    assert(orphans >= 1, s"the aborted rewrite's staging must reclaim: " +
      s"$orphans")
    assert(Snapshots.compact(spark, root, Seq("p")).contains(4))
    assert(Snapshots.read(spark, root).select("k").collect()
      .map(_.getLong(0)).toSet == Set(2L, 3L))
  }

  test("two overlapping deleteWhere still abort (content-changing rewrites never auto-rebase)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap_racedd").toString
    Snapshots.write(Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "a", 30.0))
      .toDF("k", "p", "v").coalesce(1), root, Seq("p"))
    Snapshots.prePublishInterleave = () =>
      assert(Snapshots.deleteWhere(spark, root, Seq("p"),
        col("k") === 2L).contains(2))
    intercept[java.util.ConcurrentModificationException] {
      Snapshots.deleteWhere(spark, root, Seq("p"), col("k") === 3L)
    }
    // the winner stands alone; re-running the loser applies cleanly
    assert(Snapshots.read(spark, root).select("k").collect()
      .map(_.getLong(0)).toSet == Set(1L, 3L))
    assert(Snapshots.deleteWhere(spark, root, Seq("p"),
      col("k") === 3L).contains(3))
    assert(Snapshots.read(spark, root).select("k").collect()
      .map(_.getLong(0)).toSet == Set(1L))
  }

  test("mergeUpsert key-range probe prune: files outside the batch's key range still restage in touched partitions") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap_mprune").toString
    // partition a holds TWO files with DISJOINT key ranges (separate
    // appends, per-file k stats recorded): the batch touches only the
    // second file's range, so the probe scan stat-prunes the first —
    // which must NOT leak into the survivor rewrite (the overwrite
    // restages every row of a touched partition, including rows in
    // files no batch key can reach)
    Snapshots.write(Seq((1L, "a", 10.0), (2L, "a", 20.0))
      .toDF("k", "p", "v").coalesce(1), root, Seq("p"),
      statsColumns = Seq("k"))
    Snapshots.write(Seq((100L, "a", 30.0), (200L, "b", 40.0))
      .toDF("k", "p", "v").coalesce(1), root, Seq("p"), SnapAppend)
    assert(Snapshots.mergeUpsert(spark, root,
      Seq((100L, "a", 99.0)).toDF("k", "p", "v"), Seq("p"), Seq("k")) == 3)
    val m = Snapshots.read(spark, root).select("k", "v").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(m == Map(1L -> 10.0, 2L -> 20.0, 100L -> 99.0, 200L -> 40.0),
      s"rows outside the batch's key range must survive the rewrite: $m")
    // untouched partition b rides through by reference (same file)
    assert(Snapshots.read(spark, root).inputFiles.count(_.contains("p=b"))
      == 1)
  }

  test("a commit retry past an interleaved float→double widening aborts: restaged stat strings rendered the BASE type") {
    import spark.implicits._
    import org.apache.spark.sql.types.DoubleType
    val root = java.nio.file.Files.createTempDirectory("snap_racewd").toString
    // two fragments in partition a, FLOAT stat column v → compact has
    // work, and its restaged entries carry float-rendered min/max
    Snapshots.write(Seq((1L, "a", 1.1f), (2L, "a", 2.2f))
      .toDF("k", "p", "v").coalesce(1), root, Seq("p"),
      statsColumns = Seq("v"))
    Snapshots.write(Seq((3L, "a", 3.3f)).toDF("k", "p", "v").coalesce(1),
      root, Seq("p"), SnapAppend)
    // the winner WIDENS v to double between the compaction's base
    // resolution and its pointer flip: widenColumn strips every live
    // file's float-exact stats, but the loser's restaged entries still
    // hold them — republishing would reintroduce the wrong-prune hazard
    // ("1.1" excludes the upcast 1.100000023841858), so the rebase must
    // surface the race instead
    Snapshots.prePublishInterleave = () =>
      assert(Snapshots.widenColumn(spark, root, "v", DoubleType) == 3)
    val ex = intercept[java.util.ConcurrentModificationException] {
      Snapshots.compact(spark, root, Seq("p"))
    }
    assert(ex.getMessage.contains("stat-column types"), ex.getMessage)
    // the widening stands; a clean re-run compacts under the new
    // contract (restaged stats now render the double)
    assert(Snapshots.tableSchema(spark, root)("v").dataType == DoubleType)
    assert(Snapshots.compact(spark, root, Seq("p")).contains(4))
    assert(Snapshots.read(spark, root).count() == 3)
    // the append lane aborts the same way (its staged stats are equally
    // base-typed) — the ORIGINAL race surfaces, winner intact
    val root2 = java.nio.file.Files.createTempDirectory("snap_racewa")
      .toString
    Snapshots.write(Seq((1L, "a", 1.1f)).toDF("k", "p", "v").coalesce(1),
      root2, Seq("p"), statsColumns = Seq("v"))
    Snapshots.prePublishInterleave = () =>
      assert(Snapshots.widenColumn(spark, root2, "v", DoubleType) == 2)
    intercept[java.util.ConcurrentModificationException] {
      Snapshots.write(Seq((9L, "b", 9.9f)).toDF("k", "p", "v").coalesce(1),
        root2, Seq("p"), SnapAppend)
    }
    assert(Snapshots.read(spark, root2).count() == 1,
      "the loser's batch must not land past the widening")
  }

  test("the interleave seam covers every publish: rollback, addColumns and truncate lose to a winning append") {
    import spark.implicits._
    import org.apache.spark.sql.types.{StringType, StructField}
    def fresh(tag: String): String = {
      val root = java.nio.file.Files.createTempDirectory(tag).toString
      Snapshots.write(Seq((1L, "a", 10.0)).toDF("k", "p", "v").coalesce(1),
        root, Seq("p"))
      Snapshots.write(Seq((2L, "b", 20.0)).toDF("k", "p", "v").coalesce(1),
        root, Seq("p"), SnapAppend)
      // the winner appends between the loser's base resolution and its
      // pointer flip
      Snapshots.prePublishInterleave = () =>
        assert(Snapshots.write(Seq((3L, "a", 30.0)).toDF("k", "p", "v")
          .coalesce(1), root, Seq("p"), SnapAppend) == 3)
      root
    }
    val lanes = Seq[(String, String => Unit)](
      "rollback" -> (root => Snapshots.rollback(spark, root, toId = 1): Unit),
      "addColumns" -> (root => Snapshots.addColumns(spark, root,
        Seq(StructField("note", StringType))): Unit),
      "truncate" -> (root => Snapshots.truncate(spark, root): Unit))
    lanes.foreach { case (lane, publish) =>
      val root = fresh(s"snap_seam_$lane")
      intercept[java.util.ConcurrentModificationException](publish(root))
      assert(Snapshots.currentSnapshot(spark, root).contains(3),
        s"$lane: the winner's snapshot must be current")
      assert(Snapshots.read(spark, root).select("k").collect()
        .map(_.getLong(0)).toSet == Set(1L, 2L, 3L),
        s"$lane: the winner's state must read intact")
      assert(Snapshots.history(spark, root).collect()
        .map(r => (r.getInt(0), r.getString(1))).toSeq ==
        Seq((1, "append"), (2, "append"), (3, "append")),
        s"$lane: history must hold no snapshot from the loser")
    }
  }

  test("renameColumn: metadata-only, old files read through the ledger, history time-travels under the old name") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap_ren").toString
    Snapshots.write(Seq((1L, "x1", "a"), (2L, "x2", "b"))
      .toDF("k", "v", "p").coalesce(1), root, Seq("p"),
      statsColumns = Seq("k"))
    val dataFilesBefore = Snapshots.read(spark, root).inputFiles.toSet
    assert(Snapshots.renameColumn(spark, root, "v", "w") == 2)
    // metadata-only: same physical files, new contract name, old values
    assert(Snapshots.read(spark, root).inputFiles.toSet == dataFilesBefore)
    assert(Snapshots.tableSchema(spark, root).fieldNames.toSeq ==
      Seq("k", "w", "p"))
    assert(Snapshots.read(spark, root).select("k", "w").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap ==
      Map(1L -> "x1", 2L -> "x2"),
      "pre-rename files must serve their bytes under the NEW name")
    // writes under the new name land beside the old files; a filter on
    // the renamed column evaluates correctly across both name epochs
    Snapshots.write(Seq((3L, "x3", "a")).toDF("k", "w", "p").coalesce(1),
      root, Seq("p"), SnapAppend)
    assert(Snapshots.read(spark, root).filter(col("w") > "x1")
      .select("k").collect().map(_.getLong(0)).toSet == Set(2L, 3L))
    // time travel: the pre-rename snapshot keeps its own shape
    assert(Snapshots.tableSchema(spark, root, asOf = Some(1))
      .fieldNames.toSeq == Seq("k", "v", "p"))
    assert(Snapshots.read(spark, root, asOf = Some(1))
      .select("v").collect().map(_.getString(0)).toSet == Set("x1", "x2"))
    // the retired name can never re-enter — metadata ADD, rename-to,
    // and the write-path widening gate all refuse
    val exAdd = intercept[IllegalArgumentException] {
      Snapshots.addColumns(spark, root, Seq(
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.StringType)))
    }
    assert(exAdd.getMessage.contains("reserved"), exAdd.getMessage)
    val exWiden = intercept[IllegalArgumentException] {
      Snapshots.write(Seq((9L, "x9", "nine", "a")).toDF("k", "w", "v", "p")
        .coalesce(1), root, Seq("p"), SnapAppend)
    }
    assert(exWiden.getMessage.contains("reserved"), exWiden.getMessage)
    // chained rename: w → u; BOTH prior epochs resolve through the walk
    assert(Snapshots.renameColumn(spark, root, "w", "u") == 4)
    assert(Snapshots.read(spark, root).select("k", "u").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap ==
      Map(1L -> "x1", 2L -> "x2", 3L -> "x3"))
    // drop: the column leaves the contract (no rewrite), history keeps it
    assert(Snapshots.dropColumn(spark, root, "u") == 5)
    assert(Snapshots.tableSchema(spark, root).fieldNames.toSeq ==
      Seq("k", "p"))
    assert(Snapshots.read(spark, root).columns.toSeq == Seq("k", "p"))
    assert(Snapshots.read(spark, root, asOf = Some(4))
      .select("u").collect().map(_.getString(0)).toSet ==
      Set("x1", "x2", "x3"))
    // maintenance compacts the mixed-name epochs into contract-named
    // files without resurrecting anything
    assert(Snapshots.compact(spark, root, Seq("p")).nonEmpty)
    assert(Snapshots.read(spark, root).collect().map(_.getLong(0)).toSet
      == Set(1L, 2L, 3L))
    // a CASE-VARIANT of a retired name is the same name under the
    // default resolver — the widening gate must reject it too (the
    // parquet reader would resolve 'U' to old files' physical 'u' and
    // resurrect the dropped bytes)
    val exCase = intercept[IllegalArgumentException] {
      Snapshots.write(Seq((9L, "x9", "a")).toDF("k", "U", "p")
        .coalesce(1), root, Seq("p"), SnapAppend)
    }
    assert(exCase.getMessage.contains("reserved"), exCase.getMessage)
  }

  test("rollback past a rename: the to-name stays reserved (the ledger walk would mis-map a re-added column)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap_renrb").toString
    Snapshots.write(Seq((1L, "old", "a")).toDF("k", "a_col", "p")
      .coalesce(1), root, Seq("p"))
    assert(Snapshots.renameColumn(spark, root, "a_col", "b_col") == 2)
    // rollback restores the pre-rename contract (column a_col) while
    // the ledger keeps the (2, a_col, b_col) event
    assert(Snapshots.rollback(spark, root, 1) == 3)
    assert(Snapshots.tableSchema(spark, root).fieldNames.toSeq ==
      Seq("k", "a_col", "p"))
    // re-adding b_col would collide with the walk (contract b_col at
    // old seqs maps back to physical a_col) — reserved, loud
    val exAdd = intercept[IllegalArgumentException] {
      Snapshots.addColumns(spark, root, Seq(
        org.apache.spark.sql.types.StructField("b_col",
          org.apache.spark.sql.types.StringType)))
    }
    assert(exAdd.getMessage.contains("reserved"), exAdd.getMessage)
    val exWiden = intercept[IllegalArgumentException] {
      Snapshots.write(Seq((2L, "x", "y", "a")).toDF("k", "a_col", "b_col",
        "p").coalesce(1), root, Seq("p"), SnapAppend)
    }
    assert(exWiden.getMessage.contains("reserved"), exWiden.getMessage)
    // the rolled-back state still reads its own shape correctly
    assert(Snapshots.read(spark, root).select("a_col").head().getString(0)
      == "old")
  }

  test("widenColumn: metadata-only type promotion through the evolution gate; old files read upcast") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap_widen").toString
    Snapshots.write(Seq((1, 5.0f, "a")).toDF("k", "v", "p").coalesce(1),
      root, Seq("p"))
    val filesBefore = Snapshots.read(spark, root).inputFiles.toSet
    assert(Snapshots.widenColumn(spark, root, "k",
      org.apache.spark.sql.types.LongType) == 2)
    assert(Snapshots.widenColumn(spark, root, "v",
      org.apache.spark.sql.types.DoubleType) == 3)
    // metadata-only; the contract widened; old int/float files upcast
    assert(Snapshots.read(spark, root).inputFiles.toSet == filesBefore)
    val sc = Snapshots.tableSchema(spark, root)
    assert(sc("k").dataType == org.apache.spark.sql.types.LongType &&
      sc("v").dataType == org.apache.spark.sql.types.DoubleType)
    assert(Snapshots.read(spark, root).select("k", "v").head() ==
      org.apache.spark.sql.Row(1L, 5.0d))
    // long-typed batches now append without widening anything
    Snapshots.write(Seq((2L, 7.5d, "a")).toDF("k", "v", "p").coalesce(1),
      root, Seq("p"), SnapAppend)
    assert(Snapshots.read(spark, root).select("k").collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L))
    // narrowing and partition columns fail with the gate's own reasons
    val exNarrow = intercept[Exception] {
      Snapshots.widenColumn(spark, root, "k",
        org.apache.spark.sql.types.IntegerType)
    }
    assert(exNarrow.getMessage.toLowerCase.contains("narrow") ||
      exNarrow.getMessage.contains("broken"), exNarrow.getMessage)
    val exPart = intercept[Exception] {
      Snapshots.widenColumn(spark, root, "p",
        org.apache.spark.sql.types.BinaryType)
    }
    assert(exPart.getMessage.contains("partition"), exPart.getMessage)
  }

  test("widenColumn keeps pruning honest: bloom declarations retire, float stats strip — no wrongly-pruned rows") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap_widpr").toString
    // two files so pruning has something to (wrongly) skip
    Snapshots.write(Seq((5, 1.1f, "a")).toDF("k", "v", "p").coalesce(1),
      root, Seq("p"), statsColumns = Seq("v"), bloomColumns = Seq("k"))
    Snapshots.write(Seq((900, 9.9f, "a")).toDF("k", "v", "p").coalesce(1),
      root, Seq("p"), SnapAppend)
    assert(Snapshots.widenColumn(spark, root, "k",
      org.apache.spark.sql.types.LongType) == 3)
    // the old sidecars hashed hash(5, INT); a probe under BIGINT would
    // be a definite-no for the file that HOLDS k=5 — the widen retires
    // the bloom declaration, so the point lookup still finds the row
    spark.sql("DROP TABLE IF EXISTS snap_widpr_tbl")
    Snapshots.registerTable(spark, root, "snap_widpr_tbl")
    assert(spark.sql("SELECT k FROM snap_widpr_tbl WHERE k = 5")
      .collect().map(_.getLong(0)).toSeq == Seq(5L))
    // float→double: "1.1" was exact for the float; rows upcast to
    // 1.100000023841858 — stale min/max strings strip, so a bound
    // between the two values cannot wrongly exclude the file
    assert(Snapshots.widenColumn(spark, root, "v",
      org.apache.spark.sql.types.DoubleType) == 4)
    spark.sql("REFRESH TABLE snap_widpr_tbl")
    assert(spark.sql("SELECT k FROM snap_widpr_tbl " +
      "WHERE v >= 1.1000000238 AND v < 2").collect()
      .map(_.getLong(0)).toSeq == Seq(5L))
    spark.sql("DROP TABLE snap_widpr_tbl")
  }

  test("an empty replaceWhere batch carrying a WIDENING is loud, never a silent no-op that drops the new contract") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap_rwempty").toString
    Snapshots.write(Seq((1L, "a")).toDF("k", "p").coalesce(1), root,
      Seq("p"))
    val wideEmpty = Seq.empty[(Long, String, String)]
      .toDF("k", "p", "extra")
    val ex = intercept[IllegalArgumentException] {
      Snapshots.replaceWhere(wideEmpty, root, Seq("p"),
        col("p") === "zzz")
    }
    assert(ex.getMessage.contains("empty batch"), ex.getMessage)
    assert(Snapshots.tableSchema(spark, root).fieldNames.toSeq ==
      Seq("k", "p"), "the widening must not half-apply")
    // the same-contract empty re-run stays the idempotent no-op
    assert(Snapshots.replaceWhere(
      Seq.empty[(Long, String)].toDF("k", "p"), root, Seq("p"),
      col("p") === "zzz") == 1)
  }

  test("dropColumns is all-or-nothing: a refused column anywhere in the list applies nothing") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap_dropall").toString
    Snapshots.write(Seq((1L, "v1", 2.0, "a")).toDF("k", "v", "w", "p")
      .coalesce(1), root, Seq("p"))
    val exPart = intercept[IllegalArgumentException] {
      Snapshots.dropColumns(spark, root, Seq("v", "p"))
    }
    assert(exPart.getMessage.contains("partition column"), exPart.getMessage)
    // NOTHING published: v is still in the contract, history unchanged
    assert(Snapshots.tableSchema(spark, root).fieldNames.toSeq ==
      Seq("k", "v", "w", "p"))
    assert(Snapshots.currentSnapshot(spark, root).contains(1))
    // a valid list drops BOTH in ONE atomic snapshot
    assert(Snapshots.dropColumns(spark, root, Seq("v", "w")) == 2)
    assert(Snapshots.tableSchema(spark, root).fieldNames.toSeq ==
      Seq("k", "p"))
    assert(Snapshots.history(spark, root).collect().map(_.getString(1))
      .toSeq == Seq("append", "drop_column"))
  }

  test("renameColumn/dropColumn guards: partition columns, live delete keys, and constraint references refuse with remedies") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap_reng").toString
    Snapshots.write(Seq((1L, 5.0, "a")).toDF("k", "v", "p").coalesce(1),
      root, Seq("p"), statsColumns = Seq("k"))
    val exPart = intercept[IllegalArgumentException] {
      Snapshots.renameColumn(spark, root, "p", "p2")
    }
    assert(exPart.getMessage.contains("partition column"), exPart.getMessage)
    // live merge-on-read delete keyed by k → rename/drop of k refuses
    assert(Snapshots.mergeDeltas(spark, root,
      Seq((1L, 0.0, "a", true)).toDF("k", "v", "p", "__del").coalesce(1),
      Seq("p"), Seq("k"), deleteCol = Some("__del")) == 2)
    val exKey = intercept[IllegalStateException] {
      Snapshots.renameColumn(spark, root, "k", "key")
    }
    assert(exKey.getMessage.contains("foldDeletes"), exKey.getMessage)
    assert(Snapshots.foldDeletes(spark, root, Seq("p")).nonEmpty)
    // a CHECK constraint referencing the column → drop/re-add remedy
    Snapshots.addConstraint(spark, root, "v_pos", "v > 0")
    val exCk = intercept[IllegalStateException] {
      Snapshots.renameColumn(spark, root, "v", "value")
    }
    assert(exCk.getMessage.contains("v_pos"), exCk.getMessage)
    assert(Snapshots.dropConstraint(spark, root, "v_pos").nonEmpty)
    assert(Snapshots.renameColumn(spark, root, "v", "value") > 0)
    // partition columns can never drop — they ARE the directory layout
    Snapshots.dropColumn(spark, root, "value"): Unit
    val exLast = intercept[IllegalArgumentException] {
      Snapshots.dropColumn(spark, root, "p")
    }
    assert(exLast.getMessage.contains("partition column"), exLast.getMessage)
  }

  test("writable branch: invisible to main, repeated writes, fast-forward merge") {
    val root = java.nio.file.Files.createTempDirectory("snap_branch").toString
    Snapshots.write(orders, root, Seq("o_orderpriority"))
    Snapshots.createBranch(spark, root, "audit")
    assert(Snapshots.branches(spark, root) == Map("audit" -> ((1, 1))))
    val all = keys(orders)
    val ins = orders.filter(col("o_orderkey") % 10 === 4)
      .withColumn("o_orderkey", col("o_orderkey") + 1000000L)
      .withColumn("o_orderpriority", lit("5-LOW"))
    assert(Snapshots.writeToBranch(ins, root, "audit",
      Seq("o_orderpriority")) == 2)
    val patch = orders.filter(col("o_orderpriority") === "1-URGENT"
      && col("o_orderkey") % 2 === 0)
    assert(Snapshots.writeToBranch(patch, root, "audit",
      Seq("o_orderpriority"), SnapOverwritePartitions) == 3)
    // main sees NOTHING; the branch sees both writes
    assert(keys(Snapshots.read(spark, root)) == all)
    val urgentOdd = keys(orders.filter(col("o_orderpriority") === "1-URGENT"
      && col("o_orderkey") % 2 =!= 0))
    assert(keys(Snapshots.readBranch(spark, root, "audit")) ==
      all -- urgentOdd ++ keys(ins))
    // branch-local time travel
    assert(keys(Snapshots.readBranch(spark, root, "audit", asOf = Some(2)))
      == all ++ keys(ins))
    // CDC on the branch: a copy-on-write merge patches + deletes + can
    // REINSERT keys the earlier branch overwrite dropped — still
    // invisible to main
    val k = col("o_orderkey")
    val cdc = orders.filter(k % 9 === 0)
      .withColumn("o_custkey", col("o_custkey") + 7L)
      .withColumn("__del", lit(false))
      .unionByName(orders.filter(k % 9 =!= 0 && k % 21 === 0)
        .withColumn("__del", lit(true)))
    assert(Snapshots.mergeUpsert(spark, root, cdc, Seq("o_orderpriority"),
      Seq("o_orderkey"), deleteCol = Some("__del"), branch = Some("audit"))
      == 4)
    assert(keys(Snapshots.read(spark, root)) == all,
      "branch CDC must be invisible to main")
    val deleted = all.filter(x => x % 9 != 0 && x % 21 == 0)
    val expected =
      (all -- urgentOdd ++ keys(ins)) -- deleted ++ all.filter(_ % 9 == 0)
    assert(keys(Snapshots.readBranch(spark, root, "audit")) == expected)
    // fast-forward: the branch state becomes main's s2, branch drops
    assert(Snapshots.fastForward(spark, root, "audit") == 2)
    assert(keys(Snapshots.read(spark, root)) == expected)
    assert(Snapshots.branches(spark, root).isEmpty)
    assert(keys(Snapshots.read(spark, root, asOf = Some(1))) == all,
      "pre-merge main must stay time-travelable")
    val h = Snapshots.history(spark, root).collect()
    assert(h.last.getString(1) == "branch_merge")
  }

  test("branch merge aborts when main advanced; expire and vacuum respect branch refs") {
    val root = java.nio.file.Files.createTempDirectory("snap_branchx").toString
    Snapshots.write(orders, root, Seq("o_orderpriority"))
    Snapshots.createBranch(spark, root, "exp")
    val all = keys(orders)
    val ins = orders.filter(col("o_orderkey") % 10 === 7)
      .withColumn("o_orderkey", col("o_orderkey") + 1000000L)
      .withColumn("o_orderpriority", lit("5-LOW"))
    Snapshots.writeToBranch(ins, root, "exp", Seq("o_orderpriority"))
    // a branch CDC merge (copy-on-write — key set unchanged: updates
    // only) makes this branch NON-append-only, so a stale fork cannot
    // rebase-merge it
    Snapshots.mergeUpsert(spark, root,
      orders.filter(col("o_orderkey") % 50 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1.0),
      Seq("o_orderpriority"), Seq("o_orderkey"), branch = Some("exp"))
    // main advances past the fork — the merge is no longer a fast-forward
    Snapshots.write(
      orders.filter(col("o_orderpriority") === "1-URGENT"
        && col("o_orderkey") % 2 === 0), root,
      Seq("o_orderpriority"), SnapOverwritePartitions)
    val ex = intercept[java.util.ConcurrentModificationException] {
      Snapshots.fastForward(spark, root, "exp")
    }
    assert(ex.getMessage.contains("non-append writes")
      && ex.getMessage.contains("merge"),
      s"abort must name the conflicting branch modes: ${ex.getMessage}")
    // expire reclaims main history but NOT files the branch still
    // references (its fork state overlaps the expired s1)
    Snapshots.expire(spark, root, keepLast = 1)
    assert(keys(Snapshots.readBranch(spark, root, "exp")) == all ++ keys(ins),
      "branch must survive main-history expiry")
    // vacuum spares live-branch files...
    Snapshots.vacuum(spark, root, graceMs = 0)
    assert(keys(Snapshots.readBranch(spark, root, "exp")) == all ++ keys(ins))
    // ...until the branch drops, after which they are reclaimable orphans
    val mainKeys = keys(Snapshots.read(spark, root))
    assert(Snapshots.dropBranch(spark, root, "exp"))
    val (orphans, _) = Snapshots.vacuum(spark, root, graceMs = 0)
    assert(orphans > 0, "dropped branch's exclusive files must reclaim")
    assert(keys(Snapshots.read(spark, root)) == mainKeys)
  }

  test("branch seq spaces: fork-carried deletes never suppress branch rows; post-merge main deletes do") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap_brseq").toString
    def del(k: Long) = Seq((k, "a", 0.0, true)).toDF("k", "p", "v", "__del")
    Snapshots.write(Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0))
      .toDF("k", "p", "v").coalesce(1), root, Seq("p"))
    Snapshots.write(Seq((4L, "b", 40.0)).toDF("k", "p", "v").coalesce(1),
      root, Seq("p"), SnapAppend)
    // s3: MoR delete of key 2 — its delete entry carries MAIN seq 3
    assert(Snapshots.mergeDeltas(spark, root, del(2L), Seq("p"), Seq("k"),
      deleteCol = Some("__del")) == 3)
    Snapshots.createBranch(spark, root, "b") // fork = 3, delete rides along
    // the branch re-inserts key 2: its file's seq must rank ABOVE the
    // fork-carried delete (a branch-local id of 2 would be suppressed)
    assert(Snapshots.writeToBranch(Seq((2L, "a", 99.0)).toDF("k", "p", "v")
      .coalesce(1), root, "b", Seq("p")) == 2)
    assert(Snapshots.readBranch(spark, root, "b").filter(col("k") === 2L)
      .select("v").collect().map(_.getDouble(0)).toSet == Set(99.0),
      "a fork-carried delete must not suppress the branch's own newer row")
    // merge re-anchors the branch file in MAIN's seq space (seq = s4)...
    assert(Snapshots.fastForward(spark, root, "b") == 4)
    assert(Snapshots.read(spark, root).filter(col("k") === 2L)
      .select("v").collect().map(_.getDouble(0)).toSet == Set(99.0))
    // ...so a LATER main delete (seq 5 > 4) suppresses it
    assert(Snapshots.mergeDeltas(spark, root, del(2L), Seq("p"), Seq("k"),
      deleteCol = Some("__del")) == 5)
    assert(Snapshots.read(spark, root).filter(col("k") === 2L).count() == 0,
      "a post-merge main delete must reach the merged branch rows")
  }

  test("fastForward crash between publish and branch drop recovers idempotently") {
    val root = java.nio.file.Files.createTempDirectory("snap_ffcrash").toString
    Snapshots.write(orders, root, Seq("o_orderpriority"))
    Snapshots.createBranch(spark, root, "m")
    val ins = orders.filter(col("o_orderkey") % 10 === 6)
      .withColumn("o_orderkey", col("o_orderkey") + 1000000L)
      .withColumn("o_orderpriority", lit("5-LOW"))
    Snapshots.writeToBranch(ins, root, "m", Seq("o_orderpriority"))
    // simulate the crash window: keep a copy of the branch dir, merge,
    // then restore the copy — main advanced, branch "still exists"
    val bdir = java.nio.file.Paths.get(s"$root/branches/m")
    val saved = java.nio.file.Files.createTempDirectory("snap_ffsave")
    def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(from).iterator().asScala.foreach { p =>
        val dst = to.resolve(from.relativize(p).toString)
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.createDirectories(dst)
        else java.nio.file.Files.copy(p, dst,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
      }
    }
    copyTree(bdir, saved)
    assert(Snapshots.fastForward(spark, root, "m") == 2)
    copyTree(saved, bdir)
    assert(Snapshots.branches(spark, root).contains("m"))
    // an INTERLEAVED publish lands between the crash and the retry (the
    // scheduled-maintenance window) — the merge tag must still be found
    // in the head's rolling window, not just at the fork+1 pointer
    val extra = orders.limit(5)
    Snapshots.write(extra.coalesce(1), root, Seq("o_orderpriority"),
      SnapAppend) // s3
    // the retry must detect the already-published merge, finish the drop,
    // and NOT tell the operator to replay (which would double the rows)
    assert(Snapshots.fastForward(spark, root, "m") == 2)
    assert(Snapshots.branches(spark, root).isEmpty)
    assert(Snapshots.read(spark, root).count() ==
      orders.count() + ins.count() + extra.count())
  }

  test("append-only branch REBASE-merges onto a main that advanced past the fork") {
    val root = java.nio.file.Files.createTempDirectory("snap_rebase").toString
    Snapshots.write(orders, root, Seq("o_orderpriority"))
    Snapshots.createBranch(spark, root, "bf")
    val ins1 = orders.filter(col("o_orderkey") % 10 === 3)
      .withColumn("o_orderkey", col("o_orderkey") + 1000000L)
      .withColumn("o_orderpriority", lit("5-LOW"))
    val ins2 = orders.filter(col("o_orderkey") % 10 === 8)
      .withColumn("o_orderkey", col("o_orderkey") + 2000000L)
      .withColumn("o_orderpriority", lit("3-MEDIUM"))
    Snapshots.writeToBranch(ins1, root, "bf", Seq("o_orderpriority"))
    Snapshots.writeToBranch(ins2, root, "bf", Seq("o_orderpriority"))
    // main advances TWICE past the fork — an append and a partition
    // overwrite (the continuously-ingesting-main shape)
    val extra = orders.filter(col("o_orderkey") % 10 === 1)
      .withColumn("o_orderkey", col("o_orderkey") + 3000000L)
    Snapshots.write(extra, root, Seq("o_orderpriority"), SnapAppend)
    val urgentEven = orders.filter(col("o_orderpriority") === "1-URGENT"
      && col("o_orderkey") % 2 === 0)
    Snapshots.write(urgentEven, root, Seq("o_orderpriority"),
      SnapOverwritePartitions)
    val mainNow = keys(Snapshots.read(spark, root))
    // the rebase-merge lands the branch's adds on the NEW head (s4),
    // metadata-only; main's interleaved writes are untouched
    assert(Snapshots.fastForward(spark, root, "bf") == 4)
    assert(Snapshots.branches(spark, root).isEmpty)
    assert(keys(Snapshots.read(spark, root)) ==
      mainNow ++ keys(ins1) ++ keys(ins2))
    assert(keys(Snapshots.read(spark, root, asOf = Some(3))) == mainNow,
      "pre-merge main must stay time-travelable")
    val h = Snapshots.history(spark, root).collect()
    assert(h.last.getString(1) == "branch_merge")
  }

  test("rebase-merge crash recovery: tagged retry, and file-reference recovery past an expired tag") {
    val root = java.nio.file.Files.createTempDirectory("snap_rebcr").toString
    Snapshots.write(orders, root, Seq("o_orderpriority"))
    Snapshots.createBranch(spark, root, "rb")
    val ins = orders.filter(col("o_orderkey") % 10 === 9)
      .withColumn("o_orderkey", col("o_orderkey") + 1000000L)
      .withColumn("o_orderpriority", lit("5-LOW"))
    Snapshots.writeToBranch(ins, root, "rb", Seq("o_orderpriority"))
    Snapshots.write(orders.limit(7).coalesce(1), root,
      Seq("o_orderpriority"), SnapAppend) // main advances → rebase lane
    // crash window: save the branch dir, merge, restore it
    val bdir = java.nio.file.Paths.get(s"$root/branches/rb")
    val saved = java.nio.file.Files.createTempDirectory("snap_rebsave")
    def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(from).iterator().asScala.foreach { p =>
        val dst = to.resolve(from.relativize(p).toString)
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.createDirectories(dst)
        else java.nio.file.Files.copy(p, dst,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
      }
    }
    copyTree(bdir, saved)
    val nonce = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/branches/rb/FORK"))).trim
      .split(" ")(1)
    def dropMarker(): Unit = java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$root/merges/$nonce")): Unit
    assert(Snapshots.fastForward(spark, root, "rb") == 3,
      "rebase-merge lands at the head, not at fork+1")
    copyTree(saved, bdir)
    // layer 0: the durable merges/<nonce> marker names the landed id —
    // the retry finishes the cleanup without consulting any manifest
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$root/merges/$nonce")),
      "every merge publish must record its durable marker")
    assert(Snapshots.fastForward(spark, root, "rb") == 3)
    assert(Snapshots.branches(spark, root).isEmpty)
    val settled = Snapshots.read(spark, root).count()
    assert(settled == orders.count() + 7 + ins.count())
    // layer 1 (marker removed — the pre-marker dataset path): the tagged
    // merge manifest is retained — the retry finds it at ITS id (3, not
    // fork+1=2) and just finishes the cleanup
    copyTree(saved, bdir)
    dropMarker()
    assert(Snapshots.fastForward(spark, root, "rb") == 3)
    assert(Snapshots.branches(spark, root).isEmpty)
    assert(Snapshots.read(spark, root).count() == settled)
    // layer 2: restore the branch AGAIN, then expire the tagged merge
    // manifest away (s4 appends, keepLast=1 rebases s4 to a full manifest
    // and drops s1-s3) — recovery must still detect the landed merge via
    // the branch-added files referenced in a retained manifest, never
    // instruct a replay that would double the rows
    copyTree(saved, bdir)
    dropMarker()
    Snapshots.write(orders.limit(3).coalesce(1), root,
      Seq("o_orderpriority"), SnapAppend) // s4
    Snapshots.expire(spark, root, keepLast = 1)
    assert(Snapshots.fastForward(spark, root, "rb") == 4,
      "recovery returns the oldest retained id showing the merged files")
    assert(Snapshots.branches(spark, root).isEmpty)
    assert(Snapshots.read(spark, root).count() == settled + 3,
      "recovery must not double-apply the already-merged rows")
    // layer 1b: a COMPACT rewrites the merged rows into new part files
    // (the branch-added rels leave every live manifest) and expire then
    // reclaims both the tagged manifest and everything referencing the
    // rels — recovery must still see the merge through the head's
    // rolling tag window, never instruct a row-doubling replay
    copyTree(saved, bdir)
    dropMarker()
    assert(Snapshots.compact(spark, root, Seq("o_orderpriority")).nonEmpty,
      "the fixture needs a real compaction to drop the branch rels") // s5
    Snapshots.expire(spark, root, keepLast = 1)
    val total = Snapshots.read(spark, root).count()
    assert(Snapshots.fastForward(spark, root, "rb") == 5,
      "the head's rtags window must prove the merge landed")
    assert(Snapshots.branches(spark, root).isEmpty)
    assert(Snapshots.read(spark, root).count() == total,
      "rtags recovery must not double-apply the already-merged rows")
  }

  test("merge marker is the durable backstop: expire + compact + tag-window eviction cannot trigger a row-doubling replay") {
    val root = java.nio.file.Files.createTempDirectory("snap_mrkcr").toString
    Snapshots.write(orders, root, Seq("o_orderpriority"))
    Snapshots.createBranch(spark, root, "rb")
    val ins = orders.filter(col("o_orderkey") % 10 === 9)
      .withColumn("o_orderkey", col("o_orderkey") + 1000000L)
      .withColumn("o_orderpriority", lit("5-LOW"))
    Snapshots.writeToBranch(ins, root, "rb", Seq("o_orderpriority"))
    Snapshots.write(orders.limit(7).coalesce(1), root,
      Seq("o_orderpriority"), SnapAppend) // main advances → rebase lane
    val bdir = java.nio.file.Paths.get(s"$root/branches/rb")
    val saved = java.nio.file.Files.createTempDirectory("snap_mrksave")
    def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(from).iterator().asScala.foreach { p =>
        val dst = to.resolve(from.relativize(p).toString)
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.createDirectories(dst)
        else java.nio.file.Files.copy(p, dst,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
      }
    }
    copyTree(bdir, saved)
    assert(Snapshots.fastForward(spark, root, "rb") == 3)
    copyTree(saved, bdir) // the crash: branch never dropped
    // erase EVERY in-manifest trace of the merge: compact rewrites the
    // branch-added rels into new part files, 64+ tagged stream batches
    // evict the merge tag from the rolling window, expire reclaims the
    // tagged manifest and every manifest referencing the original rels
    assert(Snapshots.compact(spark, root, Seq("o_orderpriority")).nonEmpty)
    val one = orders.limit(1).coalesce(1)
    (1 to Snapshots.MaxRecentTags + 1).foreach(i =>
      Snapshots.write(one.withColumn("o_orderkey", lit(9000000L + i)),
        root, Seq("o_orderpriority"), SnapAppend,
        batchTag = Some(s"evict-$i")): Unit)
    Snapshots.expire(spark, root, keepLast = 1)
    val head = Snapshots.currentSnapshot(spark, root).get
    val total = Snapshots.read(spark, root).count()
    // the retry's ONLY remaining evidence is the durable marker —
    // without it this replay would re-publish the rebase-merge and
    // double the branch rows
    assert(Snapshots.fastForward(spark, root, "rb") == head,
      "the durable marker must prove the merge landed")
    assert(Snapshots.branches(spark, root).isEmpty)
    assert(Snapshots.read(spark, root).count() == total,
      "recovery must not double-apply the already-merged rows")
  }

  test("race-losing mergeDeltas with provably disjoint keys rebases metadata-only") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap_morrace").toString
    Snapshots.write(
      Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0), (4L, "b", 40.0))
        .toDF("k", "p", "v").coalesce(1), root, Seq("p"),
      statsColumns = Seq("k", "v"))
    // the winner lands a DISJOINT-key merge (keys 100-101) between the
    // loser's base resolution and its pointer flip
    Snapshots.prePublishInterleave = () =>
      assert(Snapshots.mergeDeltas(spark, root,
        Seq((100L, "a", 1.0, false), (101L, "b", 0.0, true))
          .toDF("k", "p", "v", "__del").coalesce(1),
        Seq("p"), Seq("k"), deleteCol = Some("__del")) == 2)
    // the loser updates keys 1-2 — ranges [1,2] vs [100,101] are disjoint
    // on k, so the retry rebases without redoing the data write
    assert(Snapshots.mergeDeltas(spark, root,
      Seq((1L, "a", 11.0, false), (2L, "a", 0.0, true))
        .toDF("k", "p", "v", "__del").coalesce(1),
      Seq("p"), Seq("k"), deleteCol = Some("__del")) == 3)
    val m = Snapshots.read(spark, root).select("k", "v").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(m == Map(1L -> 11.0, 3L -> 30.0, 4L -> 40.0, 100L -> 1.0),
      s"both merges' effects must land exactly once: $m")
  }

  test("race-losing mergeDeltas with intersecting keys aborts loudly") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap_morabort").toString
    Snapshots.write(
      Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0))
        .toDF("k", "p", "v").coalesce(1), root, Seq("p"),
      statsColumns = Seq("k"))
    Snapshots.prePublishInterleave = () =>
      assert(Snapshots.mergeDeltas(spark, root,
        Seq((2L, "a", 77.0, false)).toDF("k", "p", "v", "__del").coalesce(1),
        Seq("p"), Seq("k"), deleteCol = Some("__del")) == 2)
    val ex = intercept[java.util.ConcurrentModificationException] {
      Snapshots.mergeDeltas(spark, root,
        Seq((2L, "a", 88.0, false)).toDF("k", "p", "v", "__del").coalesce(1),
        Seq("p"), Seq("k"), deleteCol = Some("__del"))
    }
    assert(ex.getMessage.contains("cannot rebase"),
      s"intersecting merge races must abort, not silently merge: " +
        ex.getMessage)
    // the winner's state is intact
    assert(Snapshots.read(spark, root).filter(col("k") === 2L)
      .select("v").collect().map(_.getDouble(0)).toSet == Set(77.0))
  }

  test("mergeDeltas rebase honors interleaved REMOVES: a concurrent deleteWhere of this batch's keys aborts; disjoint removes rebase") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap_morrm").toString
    Snapshots.write(
      Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0))
        .toDF("k", "p", "v").coalesce(1), root, Seq("p"),
      statsColumns = Seq("k"))
    // the winner predicate-DELETES k=2 (its manifest removes the base
    // file holding k in [1,2] and adds a survivor [1,1]); the loser's
    // merge re-asserts k=2 — rebasing would silently undo the delete,
    // so the removed file's key range must force the abort
    Snapshots.prePublishInterleave = () =>
      assert(Snapshots.deleteWhere(spark, root, Seq("p"),
        col("k") === 2L).contains(2))
    val ex = intercept[java.util.ConcurrentModificationException] {
      Snapshots.mergeDeltas(spark, root,
        Seq((2L, "a", 99.0, false)).toDF("k", "p", "v", "__del").coalesce(1),
        Seq("p"), Seq("k"), deleteCol = Some("__del"))
    }
    assert(ex.getMessage.contains("removed data file"),
      s"the removed file's range must be checked: ${ex.getMessage}")
    assert(Snapshots.read(spark, root).filter(col("k") === 2L).count() == 0,
      "the winner's predicate delete must stand")
    // a merge whose keys are disjoint from the removed rows rebases fine
    Snapshots.prePublishInterleave = () =>
      assert(Snapshots.deleteWhere(spark, root, Seq("p"),
        col("k") === 3L).contains(3))
    assert(Snapshots.mergeDeltas(spark, root,
      Seq((100L, "a", 1.0, false)).toDF("k", "p", "v", "__del").coalesce(1),
      Seq("p"), Seq("k"), deleteCol = Some("__del")) == 4)
    assert(Snapshots.read(spark, root).select("k").collect()
      .map(_.getLong(0)).toSet == Set(1L, 100L))
  }

  test("timestamp merge keys never prove disjointness (tz-rendered stats): the race retry aborts") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap_mortz").toString
    val ts = (h: Int) => java.sql.Timestamp.from(
      java.time.Instant.parse(f"2024-01-01T$h%02d:00:00Z"))
    Snapshots.write(
      Seq((ts(1), "a", 10.0), (ts(2), "a", 20.0))
        .toDF("t", "p", "v").coalesce(1), root, Seq("p"),
      statsColumns = Seq("t"))
    // winner and loser touch provably different HOURS — but timestamp
    // stat strings are writer-session renderings, so the retry must
    // refuse to call them disjoint and abort
    Snapshots.prePublishInterleave = () =>
      assert(Snapshots.mergeDeltas(spark, root,
        Seq((ts(10), "a", 1.0, false)).toDF("t", "p", "v", "__del")
          .coalesce(1), Seq("p"), Seq("t"),
        deleteCol = Some("__del")) == 2)
    val ex = intercept[java.util.ConcurrentModificationException] {
      Snapshots.mergeDeltas(spark, root,
        Seq((ts(20), "a", 2.0, false)).toDF("t", "p", "v", "__del")
          .coalesce(1), Seq("p"), Seq("t"), deleteCol = Some("__del"))
    }
    assert(ex.getMessage.contains("cannot rebase"), ex.getMessage)
  }

  test("an interleaved row-preserving compact never blocks a mergeDeltas rebase") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap_morcomp").toString
    // two fragments in partition a so compact has work
    Snapshots.write(Seq((1L, "a", 10.0), (2L, "a", 20.0))
      .toDF("k", "p", "v").coalesce(1), root, Seq("p"),
      statsColumns = Seq("k"))
    Snapshots.write(Seq((3L, "a", 30.0)).toDF("k", "p", "v").coalesce(1),
      root, Seq("p"), SnapAppend)
    // the compacted partition holds keys 1-3 — OVERLAPPING the merge's
    // range — but compaction preserves visible rows, so the rebase is
    // safe and must proceed (the maintain()-interleaves-mergeStream case)
    Snapshots.prePublishInterleave = () =>
      assert(Snapshots.compact(spark, root, Seq("p")).contains(3))
    assert(Snapshots.mergeDeltas(spark, root,
      Seq((2L, "a", 99.0, false)).toDF("k", "p", "v", "__del").coalesce(1),
      Seq("p"), Seq("k"), deleteCol = Some("__del")) == 4)
    val m = Snapshots.read(spark, root).select("k", "v").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(m == Map(1L -> 10.0, 2L -> 99.0, 3L -> 30.0), s"got $m")
  }

  test("bloomColumns: point lookups prune files min/max ranges cannot separate; sidecars follow retention") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap_bloom").toString
    // two appended batches with fully INTERLEAVED key ranges in one
    // partition — per-file min/max cannot separate any point lookup
    val evens = spark.range(0, 200, 2).select(col("id").as("k"),
      lit("a").as("p"))
    val odds = spark.range(1, 200, 2).select(col("id").as("k"),
      lit("a").as("p"))
    Snapshots.write(evens.coalesce(1), root, Seq("p"),
      statsColumns = Seq("k"), bloomColumns = Seq("k"))
    Snapshots.write(odds.coalesce(1), root, Seq("p"), SnapAppend)
    // bloomColumns is dataset-fixed: a conflicting later declaration fails
    intercept[IllegalArgumentException] {
      Snapshots.write(odds.coalesce(1), root, Seq("p"), SnapAppend,
        bloomColumns = Seq("p"))
    }
    // the stat range [42,42] keeps BOTH files; the bloom keeps only the
    // evens' file
    val pruned = Snapshots.read(spark, root,
      prune = Seq(Snapshots.StatRange("k", Some(42L), Some(42L))))
    assert(pruned.inputFiles.length == 1,
      s"bloom must separate interleaved files: ${pruned.inputFiles.length}")
    assert(pruned.filter(col("k") === 42L).count() == 1)
    // a key beyond every file's range prunes everything (stat prune) and
    // the empty read still answers under the contract
    val absent = Snapshots.read(spark, root,
      prune = Seq(Snapshots.StatRange("k", Some(1000L), Some(1000L))))
    assert(absent.count() == 0)
    // deleteWhere point delete rewrites ONLY the holding file
    assert(Snapshots.deleteWhere(spark, root, Seq("p"),
      col("k") === 43L).contains(3))
    val m3 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/snapshots/s3")))
    assert(m3.linesIterator.count(_.startsWith("remove=")) == 1,
      "the bloom must bound the rewrite to the one holding file")
    assert(Snapshots.read(spark, root).count() == 199)
    // compaction re-sidecars its rewritten files; expire + vacuum reclaim
    // the dead sidecars (3 live before: evens, odds, delete-rewrite)
    assert(Snapshots.compact(spark, root, Seq("p")).contains(4))
    Snapshots.expire(spark, root, keepLast = 1)
    Snapshots.vacuum(spark, root, graceMs = 0)
    val bloomFiles = new java.io.File(s"$root/blooms").listFiles()
      .filterNot(_.getName.startsWith(".")).map(_.getName).toSeq
    assert(bloomFiles.length == 1,
      s"only the compacted batch's sidecar should survive: $bloomFiles")
    // post-compaction point reads still prune and still answer correctly
    val after = Snapshots.read(spark, root,
      prune = Seq(Snapshots.StatRange("k", Some(42L), Some(42L))))
    assert(after.filter(col("k") === 42L).count() == 1)
    assert(Snapshots.read(spark, root,
      prune = Seq(Snapshots.StatRange("k", Some(43L), Some(43L))))
      .count() == 0, "the deleted key's bloom is gone with its file")
    // a bloom column's TYPE is frozen: widening it would desync the
    // recorded hash bits and silently mis-prune — the write must abort
    val r2 = java.nio.file.Files.createTempDirectory("snap_bloomw").toString
    Snapshots.write(Seq((1, "a")).toDF("k", "p").coalesce(1), r2, Seq("p"),
      bloomColumns = Seq("k"))
    val exW = intercept[IllegalArgumentException] {
      Snapshots.write(Seq((2L, "a")).toDF("k", "p").coalesce(1), r2,
        Seq("p"), SnapAppend)
    }
    assert(exW.getMessage.contains("cannot widen"), exW.getMessage)
    // a sidecar deleted out-of-band degrades to no-bloom-pruning, never
    // a failed read
    new java.io.File(s"$r2/blooms").listFiles().foreach(_.delete())
    assert(Snapshots.read(spark, r2,
      prune = Seq(Snapshots.StatRange("k", Some(1), Some(1))))
      .count() == 1)
  }

  test("per-file row/null counts: IS NULL prunes files, snapshotLog answers row counts from manifests") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap_nulls").toString
    // one file per partition: a holds no nulls, b is mixed, c all-null
    Snapshots.write(
      Seq((1L, "a", Option(1.0)), (2L, "a", Option(2.0)),
        (3L, "b", Option.empty[Double]), (4L, "b", Option(5.0)),
        (5L, "c", Option.empty[Double]))
        .toDF("k", "p", "v").coalesce(1), root, Seq("p"),
      statsColumns = Seq("v"))
    // row counts from manifests alone — no data file opened
    val log1 = Snapshots.snapshotLog(spark, root).collect()
    assert(log1.map(r => Option(r.get(9)).map(_.asInstanceOf[Long])).toSeq
      == Seq(Some(5L)), "n_rows must come from per-file manifest counts")
    assert(log1.forall(r => r.getLong(10) > 0L),
      "n_bytes must come from per-file manifest lengths")
    assert(Snapshots.liveDataBytes(spark, root).exists(_ > 0L))
    // IS NULL skipping: the null-free file (partition a) is pruned
    assert(Snapshots.read(spark, root,
      prune = Seq(Snapshots.StatRange("v", nullness = Some(true))))
      .count() == 3, "only the null-bearing files' rows should scan")
    // IS NOT NULL skipping: the all-null file (partition c) is pruned
    assert(Snapshots.read(spark, root,
      prune = Seq(Snapshots.StatRange("v", nullness = Some(false))))
      .count() == 4)
    // deleteWhere IS NULL: the discovery scan never opens partition a —
    // the manifest removes exactly the two null-bearing files
    val did = Snapshots.deleteWhere(spark, root, Seq("p"), col("v").isNull)
    assert(did.contains(2))
    val m2 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/snapshots/s2")))
    assert(m2.linesIterator.count(_.startsWith("remove=")) == 2,
      "the null-free file must be stat-pruned out of the rewrite set")
    assert(Snapshots.read(spark, root).select("k").collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L, 4L))
    val log2 = Snapshots.snapshotLog(spark, root).collect()
    assert(Option(log2.last.get(9)).map(_.asInstanceOf[Long])
      .contains(3L), "post-delete row count answers from manifests")
    // per-partition stats, manifests only: partition a intact (2 rows),
    // b rewritten to its one survivor, c gone with its last file
    val ps = Snapshots.partitionStats(spark, root).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.get(2)))).toMap
    assert(ps.keySet == Set("p=a", "p=b"), s"got ${ps.keySet}")
    assert(ps("p=a") == ((1L, 2L)) && ps("p=b") == ((1L, 1L)), s"got $ps")
  }

  test("deleteWhere timestamp bounds never stat-prune (tz-rendered stats are not comparable)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap_deltz").toString
    val ts = (h: Int) => java.sql.Timestamp.from(
      java.time.Instant.parse(f"2024-01-01T$h%02d:00:00Z"))
    // written under the suite's UTC session: recorded min/max strings are
    // UTC renderings
    Snapshots.write(
      Seq((1L, "a", ts(2)), (2L, "a", ts(3)), (3L, "b", ts(12)))
        .toDF("k", "p", "t").coalesce(1), root, Seq("p"),
      statsColumns = Seq("t"))
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    try {
      // a session in another zone renders the SAME instant 5 hours
      // earlier — a tz-naive range derivation would compare shifted
      // bounds against the UTC-rendered stats and wrongly prune the
      // matching file, silently deleting nothing
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val did = Snapshots.deleteWhere(spark, root, Seq("p"),
        col("t") === lit(ts(12)))
      assert(did.contains(2), s"the matching row must be found: $did")
      assert(Snapshots.read(spark, root).select("k").collect()
        .map(_.getLong(0)).toSet == Set(1L, 2L))
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }

  test("deleteWhere discovery survives shuffled (non-broadcast) delete classes") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap_delwsh").toString
    Snapshots.write(
      Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0), (4L, "b", 40.0))
        .toDF("k", "p", "v").coalesce(1), root, Seq("p"))
    Snapshots.mergeDeltas(spark, root,
      Seq((2L, "a", 0.0, true)).toDF("k", "p", "v", "__del"),
      Seq("p"), Seq("k"), deleteCol = Some("__del"))
    // force every delete class OFF the broadcast path: input_file_name()
    // above a shuffled anti-join is empty, so discovery must use the raw
    // scan or it silently deletes nothing
    spark.conf.set("graft.snapshots.broadcastDeleteBytes", "0")
    try {
      val did = Snapshots.deleteWhere(spark, root, Seq("p"),
        col("v") > 15.0)
      assert(did.contains(3), s"predicate delete must land: $did")
      val left = Snapshots.read(spark, root)
        .select("k").collect().map(_.getLong(0)).toSet
      assert(left == Set(1L),
        s"v>15 rows and the MoR-deleted key must both be gone: $left")
    } finally spark.conf.unset("graft.snapshots.broadcastDeleteBytes")
  }

  test("derived timestamp bounds match recorded stat strings (boundary-inclusive delete)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap_delwts").toString
    val ts = java.sql.Timestamp.valueOf("2024-03-01 12:00:00")
    val later = java.sql.Timestamp.valueOf("2024-03-02 12:00:00")
    Snapshots.write(Seq((ts, "a", 1L), (later, "a", 2L)).toDF("t", "p", "k")
      .coalesce(1), root, Seq("p"), statsColumns = Seq("t"))
    // the bound equals the file's recorded min exactly: the derived range
    // must keep the file (boundary-inclusive) and delete exactly that row
    val did = Snapshots.deleteWhere(spark, root, Seq("p"),
      col("t") <= lit(ts))
    assert(did.contains(2))
    assert(Snapshots.read(spark, root).select("k").collect()
      .map(_.getLong(0)).toSet == Set(2L))
  }

  test("expireOlderThan: age-based retention off recorded publish instants") {
    val root = java.nio.file.Files.createTempDirectory("snap_expage").toString
    for (m <- 0 to 2)
      Snapshots.write(orders.filter(col("o_orderkey") % 3 === m).coalesce(1),
        root, Seq("o_orderpriority"), SnapAppend)
    val instants = Snapshots.snapshotLog(spark, root).collect()
      .map(r => r.getInt(0) -> r.getTimestamp(2).getTime).toMap
    // nothing is older than the epoch — no-op
    assert(Snapshots.expireOlderThan(spark, root, 0L) == ((Seq.empty, 0)))
    // cutoff at s2's instant: s1 (strictly older) expires, s2/s3 stay
    assert(instants(1) < instants(2),
      "fixture needs distinct publish instants")
    val (expired, deleted) = Snapshots.expireOlderThan(
      spark, root, instants(2))
    // append-only history: the manifest dies, its files stay live in s3
    assert(expired == Seq(1) && deleted == 0)
    intercept[IllegalStateException] {
      Snapshots.read(spark, root, asOf = Some(1))
    }
    assert(Snapshots.read(spark, root).count() == orders.count(),
      "the current state must survive age-based expiry")
    // a far-future cutoff keeps only the current snapshot
    val (expired2, _) = Snapshots.expireOlderThan(spark, root,
      instants(3) + 1000L)
    assert(expired2 == Seq(2))
    assert(Snapshots.read(spark, root).count() == orders.count())
    // the maintain() policy routes age-based retention: compact publishes
    // s4 first, then retentionMs=0 (keep nothing older than "now")
    // expires everything behind the new current
    val report = Snapshots.maintain(spark, root, Seq("o_orderpriority"),
      Snapshots.MaintenancePolicy(retentionMs = Some(0L)))
    assert(report.compactedTo.contains(4) && report.expired == Seq(3))
    assert(Snapshots.read(spark, root).count() == orders.count())
  }

  test("ref names reject dot traversal at every destructive entry point") {
    val root = java.nio.file.Files.createTempDirectory("snap_refguard").toString
    Snapshots.write(orders, root, Seq("o_orderpriority"))
    // "." / ".." are PATH SEGMENTS under refs/ staged/ branches/ and
    // Hadoop Path normalizes them — dropTag("..") would resolve to the
    // dataset root and recursively delete it
    for (bad <- Seq(".", "..", "", "a/b")) {
      intercept[IllegalArgumentException](Snapshots.dropTag(spark, root, bad))
      intercept[IllegalArgumentException](
        Snapshots.dropBranch(spark, root, bad))
      intercept[IllegalArgumentException](
        Snapshots.abandonStaged(spark, root, bad))
      intercept[IllegalArgumentException](
        Snapshots.createBranch(spark, root, bad))
      intercept[IllegalArgumentException](
        Snapshots.tagSnapshot(spark, root, bad, 1))
      intercept[IllegalArgumentException](
        Snapshots.readBranch(spark, root, bad))
      intercept[IllegalArgumentException](
        Snapshots.fastForward(spark, root, bad))
      intercept[IllegalArgumentException](
        Snapshots.readStaged(spark, root, bad))
    }
    assert(Snapshots.read(spark, root).count() == orders.count(),
      "nothing may be deleted by a rejected name")
    // dotted-but-literal names stay legal
    Snapshots.tagSnapshot(spark, root, "v1.2", 1)
    assert(Snapshots.readTag(spark, root, "v1.2").count() == orders.count())
  }

  test("fastForward of an empty branch drops it even after main advances") {
    val root = java.nio.file.Files.createTempDirectory("snap_ffempty").toString
    Snapshots.write(orders, root, Seq("o_orderpriority"))
    Snapshots.createBranch(spark, root, "e")
    Snapshots.write(orders.limit(3).coalesce(1), root,
      Seq("o_orderpriority"), SnapAppend) // main moves past the fork
    assert(Snapshots.fastForward(spark, root, "e") == 1,
      "an empty branch has nothing to merge — it just drops")
    assert(Snapshots.branches(spark, root).isEmpty)
  }

  test("dotted field names resolve as literal identifiers across the snapshot lanes") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap_dotted").toString
    val df = Seq((1L, "x", 1.0), (2L, "y", 2.0), (3L, "x", 3.0),
      (4L, "x", 4.0)).toDF("the.key", "the.part", "v")
    Snapshots.write(df.coalesce(1), root, Seq("the.part"))
    // CoW merge with dotted partition, key AND delete-flag columns
    val upd = Seq((1L, "x", 9.0, false), (2L, "y", 0.0, true))
      .toDF("the.key", "the.part", "v", "del.flag")
    assert(Snapshots.mergeUpsert(spark, root, upd, Seq("the.part"),
      Seq("the.key"), deleteCol = Some("del.flag")) == 2)
    val got = Snapshots.read(spark, root)
      .select(col("`the.key`"), col("v")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got == Set((1L, 9.0), (3L, 3.0), (4L, 4.0)))
    // row-level CDC with a dotted key column
    val ch = Snapshots.changes(spark, root, 1, 2, Seq("the.key"))
      .select(col("`the.key`"), col("change_type")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(ch == Set((1L, "update"), (2L, "delete")))
    // fragment, then CLUSTERED compact sorting by the dotted key
    Snapshots.write(Seq((5L, "x", 5.0), (6L, "x", 6.0))
      .toDF("the.key", "the.part", "v").coalesce(1), root,
      Seq("the.part"), SnapAppend)
    assert(Snapshots.compact(spark, root, Seq("the.part"),
      targetFilesPerPartition = 1, sortBy = Seq("the.key")).contains(4))
    assert(Snapshots.read(spark, root).count() == 5)
  }

  test("deleteWhere: stat-pruned file-level copy-on-write, null rows survive, travel intact") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap_delw").toString
    // 800 keys clustered into 8 key-range slices × 4 partitions = 32
    // files, each covering ~1/8th of the key range, stats on k; v is null
    // on every 10th key
    val df = (0 until 800).map(i => (i.toLong, s"p${i % 4}",
      if (i % 10 == 0) None else Some(i * 1.0))).toDF("k", "p", "v")
    Snapshots.write(df.repartitionByRange(8, col("k")), root, Seq("p"),
      statsColumns = Seq("k"))
    val s1Files = Snapshots.read(spark, root).inputFiles.length
    assert(s1Files > 8, s"fixture should fragment: $s1Files files")
    // delete the low key range where v is non-null: cond's k-conjunct
    // derives a stat range, so only the low slice's files even scan
    val did = Snapshots.deleteWhere(spark, root, Seq("p"),
      col("k") < 100L && col("v") > 0.0)
    assert(did.contains(2))
    // file-level CoW: the manifest removed only the files holding
    // matches — a strict subset of the live set
    val m2 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/snapshots/s2")))
    val removed = m2.linesIterator.count(_.startsWith("remove="))
    assert(removed > 0 && removed < s1Files,
      s"expected a strict subset rewritten: $removed of $s1Files")
    // SQL semantics: TRUE deletes; false-or-null survive (null-v rows in
    // the deleted range stay)
    val cur = Snapshots.read(spark, root)
    assert(cur.count() == 800 - (0 until 100).count(_ % 10 != 0))
    assert(cur.filter(col("k") < 100L).count() == 10,
      "null-condition rows must survive a predicate delete")
    // pre-delete state travels intact
    assert(Snapshots.read(spark, root, asOf = Some(1)).count() == 800)
    // a condition matching nothing is a no-op, stat-pruned before any scan
    assert(Snapshots.deleteWhere(spark, root, Seq("p"),
      col("k") < -5L).isEmpty)
    assert(Snapshots.currentSnapshot(spark, root).contains(2))
    // an unknown column fails analysis loudly
    intercept[org.apache.spark.sql.AnalysisException] {
      Snapshots.deleteWhere(spark, root, Seq("p"), col("nope") === 1)
    }
  }

  test("mergeUpsert pruning is a broadcast semi join, never an Or-chain") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.expressions.Or
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    import spark.implicits._
    val base = (0 until 500).map(i => (i.toLong, s"p${i % 200}", i * 1.0))
      .toDF("k", "p", "v")
    val touched = (0 until 150).map(i => Row(s"p$i"))
    val schema = StructType(Seq(StructField("p", StringType)))
    val pruned = Snapshots.pruneToTouched(base, touched, schema, Seq("p"))
    val orCount = pruned.queryExecution.optimizedPlan.collect {
      case n => n.expressions.map(_.collect { case _: Or => 1 }.sum).sum
    }.sum
    assert(orCount == 0,
      s"touched-partition pruning must not build Or trees ($orCount found)")
    val phys = pruned.queryExecution.executedPlan.toString
    assert(phys.contains("BroadcastHashJoin") && phys.contains("LeftSemi"),
      s"expected a broadcast left-semi join:\n$phys")
    assert(pruned.select("p").distinct().count() == 150)
    assert(pruned.count() == (0 until 500).count(i => i % 200 < 150))
  }

  test("string stats compare by code point, not UTF-16 code units") {
    import org.apache.spark.sql.types.StringType
    val emoji = "😀" // U+1F600, surrogate pair
    // UTF-16 code-unit order would call U+FFFF the larger (0xFFFF > 0xD83D);
    // Spark's recorded min/max are binary/code-point ordered: U+FFFF < U+1F600
    assert(Snapshots.statCompareForTest(StringType, "￿", emoji) < 0)
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap_utf8").toString
    val df = Seq(("p1", "￿"), ("p1", emoji)).toDF("p", "s")
    Snapshots.write(df.coalesce(1), root, Seq("p"), statsColumns = Seq("s"))
    // seeking the emoji must KEEP the file (min=U+FFFF ≤ emoji ≤ max=emoji);
    // the UTF-16 comparison wrongly pruned it — silent row loss
    val pruned = Snapshots.read(spark, root,
      prune = Seq(Snapshots.StatRange("s", Some(emoji), Some(emoji))))
    assert(pruned.count() == 2, "stat pruning dropped a file holding matches")
    assert(pruned.filter(col("s") === emoji).count() == 1)
  }

  test("crash recovery: an orphan snapshot file never blocks writes nor leaks into history") {
    val root = java.nio.file.Files.createTempDirectory("snap_orphan").toString
    Snapshots.write(orders, root, Seq("o_orderpriority"))
    // simulate a crash between the snapshot write and the pointer flip:
    // s2 exists, MANIFEST still names s1
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$root/snapshots/s2"),
      "garbage from a crashed writer".getBytes)
    assert(Snapshots.currentSnapshot(spark, root).contains(1))
    // history/expire ignore the orphan
    assert(Snapshots.history(spark, root).collect().map(_.getInt(0)).toSeq
      == Seq(1))
    assert(Snapshots.expire(spark, root, keepLast = 1) == ((Seq.empty, 0)))
    // the next write REPLACES the orphan instead of dying on it — forever
    val s2 = Snapshots.write(
      orders.filter(col("o_orderkey") % 2 === 0), root,
      Seq("o_orderpriority"), SnapAppend)
    assert(s2 == 2)
    assert(keys(Snapshots.read(spark, root)).size > keys(orders).size / 2)
  }

  test("a merge that deletes every live row leaves a readable empty state, and recovers") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap_empty").toString
    Snapshots.write(Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "p", "v"),
      root, Seq("p"))
    Snapshots.mergeUpsert(spark, root,
      Seq((1L, "a", 0.0, true), (2L, "b", 0.0, true))
        .toDF("id", "p", "v", "__del"),
      Seq("p"), Seq("id"), deleteCol = Some("__del"))
    val empty = Snapshots.read(spark, root)
    assert(empty.count() == 0)
    assert(empty.columns.toSeq == Seq("id", "p", "v"),
      "empty state must keep the recorded contract")
    // the dataset is not bricked: a further merge inserts into it
    Snapshots.mergeUpsert(spark, root,
      Seq((3L, "a", 3.0, false)).toDF("id", "p", "v", "__del"),
      Seq("p"), Seq("id"), deleteCol = Some("__del"))
    assert(Snapshots.read(spark, root).select("id").collect()
      .map(_.getLong(0)).toSeq == Seq(3L))
    // and the pre-wipe state still time-travels
    assert(Snapshots.read(spark, root, asOf = Some(1)).count() == 2)
  }

  test("format parity: orc and avro snapshot datasets round-trip with codec, travel and compact") {
    for ((fmt, codec) <- Seq((OrcFormat, Some("zstd")), (AvroFormat, None))) {
      val root = java.nio.file.Files.createTempDirectory(
        s"snap_fmt_${Snapshots.SnapAppend.name}").toString
      Snapshots.write(orders.coalesce(1), root, Seq("o_orderpriority"),
        format = Some(fmt), codec = codec)
      Snapshots.write(
        orders.filter(col("o_orderpriority") === "1-URGENT"
          && col("o_orderkey") % 2 === 0).coalesce(1),
        root, Seq("o_orderpriority"), SnapOverwritePartitions)
      val all = keys(orders)
      val urgentOdd = keys(orders.filter(col("o_orderpriority") === "1-URGENT"
        && col("o_orderkey") % 2 =!= 0))
      assert(keys(Snapshots.read(spark, root)) == all -- urgentOdd,
        s"$fmt current state")
      assert(keys(Snapshots.read(spark, root, asOf = Some(1))) == all,
        s"$fmt time travel")
      // partition pruning survives the non-parquet manifest read
      val plan = Snapshots.read(spark, root)
        .filter(col("o_orderpriority") === "5-LOW")
        .queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters"), s"$fmt pruning:\n$plan")
      // the format is a dataset property: a conflicting write fails loudly
      intercept[IllegalArgumentException] {
        Snapshots.write(orders, root, Seq("o_orderpriority"),
          format = Some(ParquetFormat))
      }
      // compact reads and rewrites in the dataset's own format (the %7
      // append re-introduces the urgent-odd keys it covers)
      Snapshots.write(orders.filter(col("o_orderkey") % 7 === 0).coalesce(1),
        root, Seq("o_orderpriority"), SnapAppend)
      Snapshots.compact(spark, root, Seq("o_orderpriority"))
      assert(keys(Snapshots.read(spark, root)) ==
        all -- urgentOdd.filterNot(_ % 7 == 0), s"$fmt compact")
    }
  }

  test("file stats skip files on read without changing results") {
    val root = java.nio.file.Files.createTempDirectory("snap_skip").toString
    // range-cluster by key before the write: each partition dir gets 4
    // files, each covering ~a quarter of the key range — the z-order
    // layout's promise, now backed by manifest stats
    Snapshots.write(orders.repartitionByRange(4, col("o_orderkey")),
      root, Seq("o_orderpriority"), statsColumns = Seq("o_orderkey"))
    val maxKey = orders.agg(max("o_orderkey")).head().getLong(0)
    val (lo, hi) = (1L, maxKey / 8)
    val pruned = Snapshots.read(spark, root,
      prune = Seq(Snapshots.StatRange("o_orderkey", Some(lo), Some(hi))))
    val full = Snapshots.read(spark, root)
    assert(pruned.inputFiles.length < full.inputFiles.length,
      s"stat pruning dropped nothing: ${pruned.inputFiles.length}/${full.inputFiles.length}")
    // pruning is a superset guarantee: the row filter on the pruned scan
    // returns exactly the full-scan answer
    assert(keys(pruned.filter(col("o_orderkey").between(lo, hi))) ==
      keys(orders.filter(col("o_orderkey").between(lo, hi))))
    // stats survive the delta chain AND compaction recomputes them
    Snapshots.write(orders.limit(50).coalesce(1), root,
      Seq("o_orderpriority"), SnapAppend)
    Snapshots.compact(spark, root, Seq("o_orderpriority"))
    val afterCompact = Snapshots.read(spark, root,
      prune = Seq(Snapshots.StatRange("o_orderkey", Some(lo), Some(hi))))
    assert(keys(afterCompact.filter(col("o_orderkey").between(lo, hi))) ==
      keys(orders.filter(col("o_orderkey").between(lo, hi))))
    // guards: unknown prune column; stat column that is a partition field
    intercept[IllegalArgumentException] {
      Snapshots.read(spark, root,
        prune = Seq(Snapshots.StatRange("nope", Some(1), None))).count()
    }
    intercept[IllegalArgumentException] {
      Snapshots.write(orders,
        java.nio.file.Files.createTempDirectory("snap_badstat").toString,
        Seq("o_orderpriority"), statsColumns = Seq("o_orderpriority"))
    }
  }

  test("changes(from,to): insert/delete/update classification, and applying it reproduces the target") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap_chg").toString
    val base = Seq(
      (1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0), (4L, "c", 40.0))
      .toDF("id", "p", "v")
    Snapshots.write(base, root, Seq("p"))
    // update 2 (same partition), move 3 b→a, delete 4, insert 5
    Snapshots.mergeUpsert(spark, root,
      Seq((2L, "a", 21.0, false), (3L, "a", 31.0, false),
        (4L, "c", 0.0, true), (5L, "b", 50.0, false))
        .toDF("id", "p", "v", "__del"),
      Seq("p"), Seq("id"), deleteCol = Some("__del"))
    val ch = Snapshots.changes(spark, root, 1, 2, Seq("id")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3)))
      .toSet
    assert(ch == Set(
      (2L, "a", 21.0, "update"),
      (3L, "a", 31.0, "update"), // post-image: the moved row's new home
      (4L, "c", 40.0, "delete"), // pre-image
      (5L, "b", 50.0, "insert")))
    // unchanged row 1 must NOT surface even though its partition was rewritten
    assert(!ch.exists(_._1 == 1L))
    // round-trip: read(asOf=1) + changes ≡ read(asOf=2)
    val changes = Snapshots.changes(spark, root, 1, 2, Seq("id"))
    val touchedKeys = changes
      .filter(col("change_type").isin("delete", "update")).select("id")
    val applied = Snapshots.read(spark, root, asOf = Some(1))
      .join(touchedKeys, Seq("id"), "left_anti")
      .unionByName(changes.filter(col("change_type").isin("insert", "update"))
        .drop("change_type"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "p", "v").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(rows(applied) == rows(Snapshots.read(spark, root, asOf = Some(2))))
    // update pre-images: each update emits its from-side image too — the
    // subtract-then-add shape incremental aggregate maintenance needs
    val withPre = Snapshots.changes(spark, root, 1, 2, Seq("id"),
      includeUpdatePreimages = true).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3)))
      .toSet
    assert(withPre == Set(
      (2L, "a", 20.0, "update_pre"), (2L, "a", 21.0, "update_post"),
      (3L, "b", 30.0, "update_pre"), (3L, "a", 31.0, "update_post"),
      (4L, "c", 40.0, "delete"), (5L, "b", 50.0, "insert")))
    // maintained SUM: s1 total + signed contributions ≡ direct s2 total
    val signed = withPre.toSeq.map { case (_, _, v, t) =>
      if (t == "insert" || t == "update_post") v else -v
    }.sum
    val s1Total = Snapshots.read(spark, root, asOf = Some(1))
      .agg(sum("v")).head().getDouble(0)
    val s2Total = Snapshots.read(spark, root, asOf = Some(2))
      .agg(sum("v")).head().getDouble(0)
    assert(math.abs(s1Total + signed - s2Total) < 1e-9)
    // a compaction changes files but no rows: zero changes
    for (m <- 0 to 1)
      Snapshots.write(Seq((100L + m, "a", m.toDouble)).toDF("id", "p", "v"),
        root, Seq("p"), SnapAppend)
    Snapshots.compact(spark, root, Seq("p"))
    assert(Snapshots.changes(spark, root, 4, 5, Seq("id")).isEmpty)
  }

  test("rollback to a legacy (v1) snapshot keeps its inferred read contract") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap_rbv1").toString
    Snapshots.write(Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "p", "v")
      .coalesce(1), root, Seq("p"))
    // rewrite s1 as a v1 manifest: positional mode line, no schema, bare
    // file paths
    val p1 = java.nio.file.Paths.get(s"$root/snapshots/s1")
    val rels = new String(java.nio.file.Files.readAllBytes(p1))
      .linesIterator.filter(_.startsWith("file="))
      .map(_.stripPrefix("file=").takeWhile(_ != '\t')).toSeq
    java.nio.file.Files.write(p1,
      ("mode=append" +: rels).mkString("", "\n", "\n").getBytes)
    // the raw rewrite invalidates the local FS's checksum sidecar
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$root/snapshots/.s1.crc"))
    Snapshots.write(Seq((3L, "a", 3.0)).toDF("id", "p", "v").coalesce(1),
      root, Seq("p"), SnapAppend)
    assert(Snapshots.rollback(spark, root, toId = 1) == 3)
    val travelled = Snapshots.read(spark, root, asOf = Some(1))
    val current = Snapshots.read(spark, root)
    assert(current.columns.toSeq == travelled.columns.toSeq,
      s"${current.columns.mkString(",")} vs " +
        travelled.columns.mkString(","))
    assert(current.collect().map(_.toString).sorted.toSeq ==
      travelled.collect().map(_.toString).sorted.toSeq)
    assert(current.count() == 2)
  }

  test("rollback restores an older state metadata-only; rolled-over states stay travelable") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap_rb").toString
    Snapshots.write(Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "p", "v"),
      root, Seq("p"))
    Snapshots.write(Seq((3L, "a", 3.0)).toDF("id", "p", "v"), root, Seq("p"),
      SnapOverwritePartitions) // the "bad batch": drops 1, adds 3
    def ids(asOf: Option[Int] = None) =
      Snapshots.read(spark, root, asOf).select("id").collect()
        .map(_.getLong(0)).toSet
    assert(ids() == Set(2L, 3L))
    val rb = Snapshots.rollback(spark, root, toId = 1)
    assert(rb == 3)
    assert(ids() == Set(1L, 2L), "rollback must restore the target state")
    // the bad state remains auditable until expiry
    assert(ids(Some(2)) == Set(2L, 3L))
    assert(Snapshots.history(spark, root).collect().map(_.getString(1)).toSeq
      == Seq("append", "overwrite_partitions", "rollback"))
    // rolling back to the current id is a no-op
    assert(Snapshots.rollback(spark, root, toId = 3) == 3)
    // writes continue normally on the restored contract
    Snapshots.write(Seq((4L, "b", 4.0)).toDF("id", "p", "v"), root, Seq("p"))
    assert(ids() == Set(1L, 2L, 4L))
    // expire keeps exactly what the retained snapshots reference
    Snapshots.expire(spark, root, keepLast = 2)
    assert(ids() == Set(1L, 2L, 4L))
    intercept[IllegalStateException] {
      Snapshots.read(spark, root, asOf = Some(2)).count()
    }
  }

  test("a racing writer is detected at publish, not silently clobbered") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap_race").toString
    Snapshots.write(Seq((1L, "a", 1.0)).toDF("id", "p", "v"), root, Seq("p"))
    val (f, qroot) = {
      val p = new org.apache.hadoop.fs.Path(root)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      (fs, fs.makeQualified(p))
    }
    // a writer that resolved its base BEFORE s1 published (expectedCur =
    // None) reaches its publish step after s1 flipped the pointer: the
    // guard must abort with nothing flipped and its manifest cleaned up
    val raced = intercept[java.util.ConcurrentModificationException] {
      Snapshots.publishManifest(f, qroot, 2, None, manifestText(root, 1))
    }
    assert(raced.getMessage.contains("lost a race"))
    assert(Snapshots.currentSnapshot(spark, root).contains(1),
      "the committed pointer must be untouched")
    assert(!new java.io.File(s"$root/snapshots/s2").exists(),
      "the losing writer's manifest must not linger")
    assert(Snapshots.read(spark, root).count() == 1)
    // and the matching expectation publishes normally
    Snapshots.publishManifest(f, qroot, 2, Some(1), manifestText(root, 1))
    assert(Snapshots.currentSnapshot(spark, root).contains(2))
    // the SAME-computed-id race: a loser whose id collides with the
    // winner's committed snapshot must NOT delete it on the way out
    val s2Before = manifestText(root, 2)
    intercept[java.util.ConcurrentModificationException] {
      Snapshots.publishManifest(f, qroot, 2, Some(1), "mode=append\n")
    }
    assert(manifestText(root, 2) == s2Before,
      "the winning writer's committed manifest must survive the loser")
    assert(Snapshots.read(spark, root).count() == 1)
  }

  test("expire never touches files no manifest references (in-flight writer safety)") {
    val root = java.nio.file.Files.createTempDirectory("snap_expinf").toString
    Snapshots.write(orders, root, Seq("o_orderpriority"))
    Snapshots.write(
      orders.filter(col("o_orderpriority") === "1-URGENT"
        && col("o_orderkey") % 2 === 0), root,
      Seq("o_orderpriority"), SnapOverwritePartitions)
    // an in-flight writer's just-moved, not-yet-published file
    val inflight = new java.io.File(
      s"$root/data/o_orderpriority=5-LOW/part-inflight.parquet")
    java.nio.file.Files.write(inflight.toPath, Array[Byte](1, 2, 3))
    val (expired, deleted) = Snapshots.expire(spark, root, keepLast = 1)
    assert(expired == Seq(1) && deleted > 0)
    assert(inflight.exists(),
      "expire must only sweep files the expired manifests referenced")
    // the stray is vacuum's job, behind its grace
    assert(Snapshots.vacuum(spark, root) == ((0, 0)))
    assert(Snapshots.vacuum(spark, root, graceMs = 0L)._1 == 1)
  }

  test("NaN-bearing stats degrade pruning, never crash; temporal bounds hit boundaries") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap_nan").toString
    Snapshots.write(
      Seq((1L, "a", 1.0), (2L, "a", Double.NaN), (3L, "b", 3.0))
        .toDF("id", "p", "v").repartition(3, col("id")),
      root, Seq("p"), statsColumns = Seq("v"))
    val pruned = Snapshots.read(spark, root,
      prune = Seq(Snapshots.StatRange("v", Some(0.5), Some(2.0))))
    assert(pruned.filter(col("v").between(0.5, 2.0)).count() == 1)
    // a whole-second timestamp bound must not exclude its boundary file
    assert(Snapshots.boundStringForTest(
      java.sql.Timestamp.valueOf("2024-01-02 03:04:05")) ==
      "2024-01-02 03:04:05")
    assert(Snapshots.boundStringForTest(
      java.sql.Timestamp.valueOf("2024-01-02 03:04:05.5")) ==
      "2024-01-02 03:04:05.5")
  }

  test("a crashed tag's atomicWrite temp never wedges tags or expire") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap_tagtmp").toString
    Snapshots.write(Seq((1L, "a", 1.0)).toDF("id", "p", "v"), root, Seq("p"))
    Snapshots.tagSnapshot(spark, root, "keep", 1)
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(s"$root/refs/.dead.tmp"))
    assert(Snapshots.tags(spark, root) == Map("keep" -> 1))
    assert(Snapshots.expire(spark, root, keepLast = 1) == ((Seq.empty, 0)))
  }

  test("WAP: staged write invisible until publish; one flip lands it; travel intact") {
    val root = java.nio.file.Files.createTempDirectory("snap_wap").toString
    Snapshots.write(orders, root, Seq("o_orderpriority"))
    val patch = orders.filter(col("o_orderpriority") === "1-URGENT"
      && col("o_orderkey") % 4 === 1)
      .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
    val claimed = Snapshots.stageWrite(patch, root, Seq("o_orderpriority"), "audit1")
    assert(claimed == 2)
    // invisible to every committed read
    assert(Snapshots.currentSnapshot(spark, root).contains(1))
    assert(keys(Snapshots.read(spark, root)) == keys(orders))
    // but the audit read sees exactly the would-be state
    assert(keys(Snapshots.readStaged(spark, root, "audit1")) ==
      keys(orders) ++ keys(patch))
    assert(Snapshots.stagedWrites(spark, root) == Map("audit1" -> 2))
    assert(Snapshots.publishStaged(spark, root, "audit1") == 2)
    assert(Snapshots.stagedWrites(spark, root).isEmpty)
    assert(keys(Snapshots.read(spark, root)) == keys(orders) ++ keys(patch))
    assert(keys(Snapshots.read(spark, root, asOf = Some(1))) == keys(orders))
  }

  test("WAP: publishStaged records the publish instant — time travel between staging and publishing resolves the base") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap_wapts").toString
    Snapshots.write(Seq((1L, "a")).toDF("k", "p"), root, Seq("p"))
    assert(Snapshots.stageWrite(Seq((2L, "a")).toDF("k", "p"), root,
      Seq("p"), "late") == 2)
    Thread.sleep(5)
    val t1 = System.currentTimeMillis()
    Thread.sleep(5)
    assert(Snapshots.publishStaged(spark, root, "late") == 2)
    // at t1 no reader could see the staged rows: the table was s1
    assert(Snapshots.snapshotAt(spark, root, t1).contains(1))
    assert(Snapshots.readAt(spark, root, t1).count() == 1)
    assert(Snapshots.snapshotAt(spark, root, System.currentTimeMillis())
      .contains(2))
  }

  test("WAP: publish after the table advanced fails stale; abandon reclaims via vacuum") {
    val root = java.nio.file.Files.createTempDirectory("snap_wapstale").toString
    Snapshots.write(orders, root, Seq("o_orderpriority"))
    Snapshots.stageWrite(
      orders.filter(col("o_orderkey") % 7 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 20000000L),
      root, Seq("o_orderpriority"), "nightly")
    // vacuum must treat the staged write's files as referenced
    assert(Snapshots.vacuum(spark, root, graceMs = 0L) == ((0, 0)))
    assert(Snapshots.readStaged(spark, root, "nightly").count() > 0)
    // the table advances past the staged base → audit is stale
    Snapshots.write(orders.limit(5), root, Seq("o_orderpriority"))
    intercept[java.util.ConcurrentModificationException] {
      Snapshots.publishStaged(spark, root, "nightly")
    }
    // the staged write survives the failed publish; abandoning frees it
    assert(Snapshots.stagedWrites(spark, root) == Map("nightly" -> 2))
    assert(Snapshots.abandonStaged(spark, root, "nightly"))
    intercept[IllegalStateException] {
      Snapshots.readStaged(spark, root, "nightly")
    }
    val (freed, _) = Snapshots.vacuum(spark, root, graceMs = 0L)
    assert(freed > 0, "abandoned staged files become vacuum food")
    assert(keys(Snapshots.read(spark, root)) ==
      keys(orders) ++ keys(orders.limit(5)))
  }

  test("WAP: expire pins a pending staged write's base; abandoning re-arms it") {
    val root = java.nio.file.Files.createTempDirectory("snap_wappin").toString
    Snapshots.write(orders, root, Seq("o_orderpriority"))          // s1
    Snapshots.stageWrite(orders.limit(3), root, Seq("o_orderpriority"), "slow")
    Snapshots.write(orders.limit(5), root, Seq("o_orderpriority")) // s2
    Snapshots.write(orders.limit(7), root, Seq("o_orderpriority")) // s3
    val (expired1, _) = Snapshots.expire(spark, root, keepLast = 1)
    assert(expired1 == Seq(2), "s1 is pinned as the staged base")
    // the audit lane still resolves against the pinned base
    assert(keys(Snapshots.readStaged(spark, root, "slow")) ==
      keys(orders) ++ keys(orders.limit(3)))
    Snapshots.abandonStaged(spark, root, "slow")
    val (expired2, _) = Snapshots.expire(spark, root, keepLast = 1)
    assert(expired2 == Seq(1), "abandoning re-arms retention for the base")
  }

  test("WAP: staging the FIRST write of a dataset publishes as s1") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap_wapfirst").toString
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "p")
    assert(Snapshots.stageWrite(df, root, Seq("p"), "genesis") == 1)
    intercept[IllegalStateException] { Snapshots.read(spark, root) }
    assert(Snapshots.readStaged(spark, root, "genesis").count() == 2)
    assert(Snapshots.publishStaged(spark, root, "genesis") == 1)
    assert(Snapshots.read(spark, root).count() == 2)
  }

  test("WAP: re-staging a name replaces the attempt; overwrite-mode staging previews") {
    val root = java.nio.file.Files.createTempDirectory("snap_wapre").toString
    Snapshots.write(orders, root, Seq("o_orderpriority"))
    val urgentEven = orders.filter(col("o_orderpriority") === "1-URGENT"
      && col("o_orderkey") % 2 === 0)
    Snapshots.stageWrite(orders.limit(2), root, Seq("o_orderpriority"), "try")
    Snapshots.stageWrite(urgentEven, root, Seq("o_orderpriority"), "try",
      SnapOverwritePartitions)
    // the replacement's overwrite semantics preview through readStaged
    val urgentOdd = keys(orders.filter(col("o_orderpriority") === "1-URGENT"
      && col("o_orderkey") % 2 =!= 0))
    assert(keys(Snapshots.readStaged(spark, root, "try")) ==
      keys(orders) -- urgentOdd)
    // the first attempt's files are no longer referenced anywhere
    assert(Snapshots.vacuum(spark, root, graceMs = 0L)._1 > 0)
    assert(Snapshots.publishStaged(spark, root, "try") == 2)
    assert(keys(Snapshots.read(spark, root)) == keys(orders) -- urgentOdd)
  }

  test("WAP gate: a failed audit publishes NOTHING and the staged write survives diagnosis") {
    import graft.schema.Expectations._
    val root = java.nio.file.Files.createTempDirectory("snap_wapgate").toString
    Snapshots.write(orders, root, Seq("o_orderpriority"))
    // re-appending existing keys duplicates them in the would-be state
    Snapshots.stageWrite(orders.limit(10), root, Seq("o_orderpriority"), "batch7")
    val e = intercept[IllegalStateException] {
      Snapshots.publishStagedChecked(spark, root, "batch7",
        Seq(Unique(Seq("o_orderkey")), NotNull("o_totalprice")))
    }
    assert(e.getMessage.contains("unique(o_orderkey)"))
    assert(Snapshots.currentSnapshot(spark, root).contains(1), "nothing published")
    assert(Snapshots.stagedWrites(spark, root).keySet == Set("batch7"),
      "the failed batch stays inspectable")
    Snapshots.abandonStaged(spark, root, "batch7")
    // a clean batch sails through the same gate
    val fresh = orders.limit(10)
      .withColumn("o_orderkey", col("o_orderkey") + 30000000L)
    Snapshots.stageWrite(fresh, root, Seq("o_orderpriority"), "batch8")
    assert(Snapshots.publishStagedChecked(spark, root, "batch8",
      Seq(Unique(Seq("o_orderkey")), NotNull("o_totalprice"))) == 2)
    assert(Snapshots.read(spark, root).count() == orders.count() + 10)
  }

  test("clustered compaction: sorted rewrite makes stat pruning skip sibling files") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap_cluster").toString
    val df = (0 until 1000).map(i => (i.toLong, if (i % 2 == 0) "a" else "b"))
      .toDF("k", "p")
    Snapshots.write(df.repartition(8), root, Seq("p"),
      statsColumns = Seq("k"))
    val prune = Seq(Snapshots.StatRange("k", Some(100L), Some(199L)))
    // fragmented hash layout: every file spans the whole key range, so
    // the pruned read still opens (nearly) everything
    val before = Snapshots.read(spark, root, prune = prune).inputFiles.length
    assert(before > 8, s"fragmented pruned read opened $before files")
    val cid = Snapshots.compact(spark, root, Seq("p"),
      targetFilesPerPartition = 4, sortBy = Seq("k"))
    assert(cid.contains(2))
    // content identity under the rewrite
    assert(Snapshots.read(spark, root).collect().map(r =>
      (r.getLong(0), r.getString(1))).toSet ==
      df.collect().map(r => (r.getLong(0), r.getString(1))).toSet)
    val all = Snapshots.read(spark, root).inputFiles.length
    val after = Snapshots.read(spark, root, prune = prune).inputFiles.length
    assert(after < before && after <= all / 2,
      s"clustered pruning must skip sibling files: $after of $all " +
        s"(pre-compact $before)")
    // rows themselves are exactly the range regardless of pruning
    assert(Snapshots.read(spark, root, prune = prune)
      .filter(col("k").between(100, 199)).count() == 100)
    // the pre-compact snapshot still travels
    assert(Snapshots.read(spark, root, asOf = Some(1)).count() == 1000)
    // pruning NEVER loses rows, at any boundary — guards the stats-keying
    // regression where a boundary task writing into two partition dirs
    // reused its part name and collapsed two files onto one file's stats
    for ((lo, hi) <- Seq((0L, 49L), (450L, 520L), (999L, 999L), (500L, 501L))) {
      val p2 = Seq(Snapshots.StatRange("k", Some(lo), Some(hi)))
      assert(Snapshots.read(spark, root, prune = p2)
        .filter(col("k").between(lo, hi)).count() == hi - lo + 1,
        s"range [$lo,$hi]")
    }
    // the per-partition file bound holds exactly, so a re-compaction has
    // nothing to do — a scheduled maintain() cannot rewrite forever
    assert(all <= 8, s"expected ≤ 2 partitions × 4 files, got $all")
    assert(Snapshots.compact(spark, root, Seq("p"),
      targetFilesPerPartition = 4, sortBy = Seq("k")).isEmpty,
      "clustered compaction must converge")
  }

  test("maintain: compact -> expire -> vacuum in one policy pass, content intact") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap_maint").toString
    val df = (0 until 600).map(i => (i.toLong, if (i % 3 == 0) "a" else "b"))
      .toDF("k", "p")
    Snapshots.write(df.repartition(6), root, Seq("p"),
      statsColumns = Seq("k"))
    Snapshots.write(
      Seq((1000L, "a")).toDF("k", "p"), root, Seq("p"), SnapAppend)
    // a crashed writer's stray file for vacuum to reclaim
    java.nio.file.Files.write(java.nio.file.Paths.get(
      s"$root/data/p=a/part-stray.parquet"), Array[Byte](1))
    val r = Snapshots.maintain(spark, root, Seq("p"),
      Snapshots.MaintenancePolicy(targetFilesPerPartition = 2,
        sortBy = Seq("k"), keepLast = 1, vacuumGraceMs = 0L))
    assert(r.compactedTo.contains(3))
    assert(r.expired == Seq(1, 2) && r.filesExpired > 0)
    assert(r.orphansVacuumed == 1, "the stray file is vacuum's")
    // content identical, layout compacted + clustered
    assert(Snapshots.read(spark, root).count() == 601)
    // per-partition ntile split: at most t files per partition value
    assert(Snapshots.read(spark, root).inputFiles.length <= 4)
    // and the fragmentation predicate can never re-fire on its output
    assert(Snapshots.compact(spark, root, Seq("p"), 2, Seq("k")).isEmpty,
      "clustered compaction must converge")
    val pruned = Snapshots.read(spark, root,
      prune = Seq(Snapshots.StatRange("k", Some(0L), Some(99L))))
    assert(pruned.inputFiles.length < Snapshots.read(spark, root)
      .inputFiles.length, "clustered stats prune after maintain")
    // default policy deletes NO history
    val root2 = java.nio.file.Files.createTempDirectory("snap_maint2").toString
    Snapshots.write(df.repartition(6), root2, Seq("p"))
    Snapshots.write(Seq((1000L, "a")).toDF("k", "p"), root2, Seq("p"))
    val r2 = Snapshots.maintain(spark, root2, Seq("p"))
    assert(r2.expired.isEmpty && r2.compactedTo.contains(3))
    assert(Snapshots.read(spark, root2, asOf = Some(1)).count() == 600)
  }

  test("tags protect snapshots from expiry and read by name; dropping re-arms retention") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap_tag").toString
    for (m <- 0 to 3)
      Snapshots.write(Seq((m.toLong, "a", m.toDouble)).toDF("id", "p", "v"),
        root, Seq("p"), SnapAppend)
    Snapshots.tagSnapshot(spark, root, "baseline", 3)
    assert(Snapshots.tags(spark, root) == Map("baseline" -> 3))
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id").collect().map(_.getLong(0)).toSet
    assert(ids(Snapshots.readTag(spark, root, "baseline")) == Set(0L, 1L, 2L))
    // keepLast=1 would normally expire s1..s3 — the tag pins s3 (and its
    // files), and s3's delta chain rebases off the expiring s2
    val (expired, _) = Snapshots.expire(spark, root, keepLast = 1)
    assert(expired == Seq(1, 2))
    assert(!manifestText(root, 3).contains("parent="),
      "tag-kept delta must rebase off its expiring parent")
    assert(ids(Snapshots.readTag(spark, root, "baseline")) == Set(0L, 1L, 2L),
      "tagged state must survive expiry intact")
    assert(ids(Snapshots.read(spark, root)) == Set(0L, 1L, 2L, 3L))
    intercept[IllegalStateException] {
      Snapshots.read(spark, root, asOf = Some(2)).count()
    }
    // drop the tag: the next expiry reclaims the snapshot
    assert(Snapshots.dropTag(spark, root, "baseline"))
    assert(!Snapshots.dropTag(spark, root, "baseline"))
    val (expired2, _) = Snapshots.expire(spark, root, keepLast = 1)
    assert(expired2 == Seq(3))
    intercept[IllegalStateException] {
      Snapshots.readTag(spark, root, "baseline")
    }
    // guards: bad name, unpublished id, tagging an expired snapshot
    intercept[IllegalArgumentException] {
      Snapshots.tagSnapshot(spark, root, "no spaces!", 4)
    }
    intercept[IllegalArgumentException] {
      Snapshots.tagSnapshot(spark, root, "future", 99)
    }
    intercept[IllegalStateException] {
      Snapshots.tagSnapshot(spark, root, "gone", 1)
    }
  }

  test("the partition spec is a dataset property: a conflicting write fails loudly") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap_pspec").toString
    Snapshots.write(Seq((1L, "a", "x", 1.0)).toDF("id", "p", "q", "v"),
      root, Seq("p"))
    // a different spec would route files into a second directory layout
    // the manifest can't distinguish — must be rejected with nothing staged
    val e = intercept[IllegalArgumentException] {
      Snapshots.write(Seq((2L, "a", "y", 2.0)).toDF("id", "p", "q", "v"),
        root, Seq("q"))
    }
    assert(e.getMessage.contains("partitioned by p"))
    intercept[IllegalArgumentException] {
      Snapshots.write(Seq((2L, "a", "y", 2.0)).toDF("id", "p", "q", "v"),
        root, Seq("p", "q"))
    }
    assert(Snapshots.currentSnapshot(spark, root).contains(1))
    // the matching spec still writes
    assert(Snapshots.write(Seq((2L, "b", "y", 2.0)).toDF("id", "p", "q", "v"),
      root, Seq("p")) == 2)
  }

  test("readAddedSince prunes new files by recorded stats") {
    val root = java.nio.file.Files.createTempDirectory("snap_incrskip").toString
    Snapshots.write(orders.limit(10).coalesce(1), root,
      Seq("o_orderpriority"), statsColumns = Seq("o_orderkey"))
    // two appends with disjoint key ranges, one file per partition each
    Snapshots.write(orders.filter(col("o_orderkey").between(100, 199))
      .coalesce(1), root, Seq("o_orderpriority"), SnapAppend)
    Snapshots.write(orders.filter(col("o_orderkey").between(1200, 1299))
      .coalesce(1), root, Seq("o_orderpriority"), SnapAppend)
    val all = Snapshots.readAddedSince(spark, root, 1).get
    val low = Snapshots.readAddedSince(spark, root, 1,
      prune = Seq(Snapshots.StatRange("o_orderkey", Some(100L), Some(199L)))).get
    assert(low.inputFiles.length < all.inputFiles.length,
      "stat pruning must drop the high-range batch's files")
    assert(keys(low.filter(col("o_orderkey").between(100, 199))) ==
      keys(orders.filter(col("o_orderkey").between(100, 199))))
    // a fully-pruned window is an explicit None, like an empty one
    assert(Snapshots.readAddedSince(spark, root, 1,
      prune = Seq(Snapshots.StatRange("o_orderkey", Some(5000L), None))).isEmpty)
  }

  test("guards: unpartitioned write, empty batch, unpublished read") {
    val root = java.nio.file.Files.createTempDirectory("snap_guard").toString
    intercept[IllegalArgumentException] {
      Snapshots.write(orders, root, Seq.empty)
    }
    intercept[IllegalArgumentException] {
      Snapshots.write(orders.filter(lit(false)), root, Seq("o_orderpriority"))
    }
    intercept[IllegalStateException] {
      Snapshots.read(spark, root)
    }
    assert(Snapshots.currentSnapshot(spark, root).isEmpty)
    assert(Snapshots.history(spark, root).count() == 0)
  }

  // --------------------------------------- merge-on-read equality deletes

  private def manifestLines(root: String, id: Int, prefix: String): Seq[String] =
    manifestText(root, id).linesIterator.filter(_.startsWith(prefix)).toSeq

  test("mergeDeltas: O(batch) CDC write — merged read, base files untouched") {
    val root = java.nio.file.Files.createTempDirectory("snap_mor").toString
    Snapshots.write(orders.coalesce(1), root, Seq("o_orderpriority"))
    val k = col("o_orderkey")
    val updates = orders.filter(k % 7 === 0 && k % 11 =!= 0)
      .withColumn("o_totalprice", lit(0.0)).withColumn("__del", lit(false))
      .unionByName(orders.filter(k % 11 === 0).withColumn("__del", lit(true)))
    val s2 = Snapshots.mergeDeltas(spark, root, updates,
      Seq("o_orderpriority"), Seq("o_orderkey"), deleteCol = Some("__del"))
    assert(s2 == 2)
    val all = keys(orders)
    val deleted = all.filter(_ % 11 == 0)
    val patched = all.filter(x => x % 7 == 0 && x % 11 != 0)
    val cur = Snapshots.read(spark, root)
    assert(keys(cur) == all -- deleted)
    assert(cur.count() == (all -- deleted).size.toLong, "no duplicate rows")
    assert(keys(cur.filter(col("o_totalprice") === 0.0)) == patched,
      "upsert rows must replace, not coexist")
    // pre-merge state intact
    assert(keys(Snapshots.read(spark, root, asOf = Some(1))) == all)
    // the write was O(batch): nothing removed, nothing rewritten — the
    // manifest is the upsert adds plus exactly one equality-delete entry
    assert(manifestLines(root, 2, "remove=").isEmpty, "no base rewrite")
    assert(manifestLines(root, 2, "dadd=").length == 1)
    assert(manifestLines(root, 2, "add=").forall(_.contains("seq=2")))
    // delete file is a real file under deletes/ in the dataset format
    // (.crc siblings are the local checksum FS's, not ours)
    val delDir = new java.io.File(s"$root/deletes")
    assert(delDir.isDirectory && delDir.listFiles()
      .count(x => x.isFile && !x.getName.startsWith(".")) == 1)
  }

  test("mergeDeltas seq discipline: same-batch upserts and re-inserts survive") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap_mor_seq").toString
    val df = (0L until 40L).map(i => (i, s"v$i", if (i % 2 == 0) "a" else "b"))
      .toDF("k", "v", "p")
    Snapshots.write(df.repartition(2), root, Seq("p"))
    // batch: delete k=0, update k=2 (delete entry covers it; same-batch
    // upsert must NOT be suppressed by its own delete file)
    val b1 = Seq((0L, "x", "a", true), (2L, "V2", "a", false))
      .toDF("k", "v", "p", "__del")
    Snapshots.mergeDeltas(spark, root, b1, Seq("p"), Seq("k"),
      deleteCol = Some("__del"))
    val r2 = Snapshots.read(spark, root)
    assert(r2.filter(col("k") === 0L).count() == 0)
    assert(r2.filter(col("k") === 2L).select("v").head().getString(0) == "V2")
    assert(r2.count() == 39)
    // later re-insert of the deleted key: newer seq escapes the old delete
    val b2 = Seq((0L, "reborn", "a", false)).toDF("k", "v", "p", "__del")
    Snapshots.mergeDeltas(spark, root, b2, Seq("p"), Seq("k"),
      deleteCol = Some("__del"))
    val r3 = Snapshots.read(spark, root)
    assert(r3.filter(col("k") === 0L).select("v").head().getString(0) == "reborn")
    assert(r3.count() == 40)
    // each intermediate state stays travelable with ITS delete set
    assert(Snapshots.read(spark, root, asOf = Some(2))
      .filter(col("k") === 0L).count() == 0)
    assert(Snapshots.read(spark, root, asOf = Some(1)).count() == 40)
  }

  test("foldDeletes: reads identical before/after, delete entries dropped, travel intact") {
    val root = java.nio.file.Files.createTempDirectory("snap_fold").toString
    Snapshots.write(orders.coalesce(1), root, Seq("o_orderpriority"))
    val k = col("o_orderkey")
    val updates = orders.filter(k % 11 === 0).withColumn("__del", lit(true))
      .unionByName(orders.filter(k % 7 === 0 && k % 11 =!= 0)
        .withColumn("o_totalprice", lit(0.0)).withColumn("__del", lit(false)))
    Snapshots.mergeDeltas(spark, root, updates,
      Seq("o_orderpriority"), Seq("o_orderkey"), deleteCol = Some("__del"))
    def rowSet(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      df.collect().map(_.toSeq.toVector: Seq[Any]).toSet
    val before = rowSet(Snapshots.read(spark, root))
    val s3 = Snapshots.foldDeletes(spark, root, Seq("o_orderpriority"))
    assert(s3.contains(3))
    assert(rowSet(Snapshots.read(spark, root)) == before,
      "fold must not change visible rows")
    assert(manifestLines(root, 3, "dremove=").length == 1)
    assert(manifestLines(root, 3, "dadd=").isEmpty)
    // the MoR state before the fold still reads through its deletes
    assert(rowSet(Snapshots.read(spark, root, asOf = Some(2))) == before)
    // nothing left to fold
    assert(Snapshots.foldDeletes(spark, root, Seq("o_orderpriority")).isEmpty)
  }

  test("fold and migrate split big partitions across tasks (targetFilesPerPartition)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap_fold_t").toString
    val df = (0L until 400L).map(i => (i, "a")).toDF("k", "p")
    Snapshots.write(df.repartition(1), root, Seq("p"))
    Snapshots.mergeDeltas(spark, root,
      Seq((7L, "a", true)).toDF("k", "p", "__del"),
      Seq("p"), Seq("k"), deleteCol = Some("__del"))
    Snapshots.foldDeletes(spark, root, Seq("p"), targetFilesPerPartition = 3)
    val files = Snapshots.read(spark, root).inputFiles.length
    assert(files > 1 && files <= 3,
      s"a fold must honor the per-partition split: $files files")
    assert(Snapshots.read(spark, root).count() == 399)
    // same knob on migration
    Snapshots.evolvePartitioning(spark, root, Seq("p", "k"))
    intercept[IllegalArgumentException] {
      Snapshots.migrateSpec(spark, root, Seq("p", "k"), 0)
    }
  }

  test("key-range stats keep clean files out of the delete join and out of the fold") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap_mor_stats").toString
    val df = (0L until 200L).map(i => (i, if (i < 100) "a" else "b"))
      .toDF("k", "p")
    Snapshots.write(df.repartition(col("p")), root, Seq("p"),
      statsColumns = Seq("k"))
    // delete keys live entirely in p=a's recorded k-range [0,99]
    val dels = (0L until 10L).map(i => (i, "a")).toDF("k", "p")
      .withColumn("__del", lit(true))
    Snapshots.mergeDeltas(spark, root, dels, Seq("p"), Seq("k"),
      deleteCol = Some("__del"))
    // read plan: exactly one anti-join class — p=b's file range [100,199]
    // provably cannot intersect the delete batch and scans clean
    val plan = Snapshots.read(spark, root).queryExecution.executedPlan.toString
    assert("LeftAnti".r.findAllIn(plan).length == 1,
      s"expected one delete class in the plan:\n$plan")
    assert(Snapshots.read(spark, root).count() == 190)
    // fold rewrites ONLY p=a: every remove/add in the fold manifest is a-side
    val s3 = Snapshots.foldDeletes(spark, root, Seq("p"))
    assert(s3.contains(3))
    assert(manifestLines(root, 3, "remove=").nonEmpty)
    assert(manifestLines(root, 3, "remove=").forall(_.startsWith("remove=p=a/")))
    assert(manifestLines(root, 3, "add=").forall(_.startsWith("add=p=a/")))
    assert(Snapshots.read(spark, root).count() == 190)
  }

  test("compact applies live deletes — rewritten files cannot resurrect rows") {
    val root = java.nio.file.Files.createTempDirectory("snap_mor_comp").toString
    for (m <- 0 to 2)
      Snapshots.write(orders.filter(col("o_orderkey") % 3 === m).coalesce(1),
        root, Seq("o_orderpriority"), SnapAppend)
    val k = col("o_orderkey")
    val dels = orders.filter(k % 11 === 0).withColumn("__del", lit(true))
    Snapshots.mergeDeltas(spark, root, dels,
      Seq("o_orderpriority"), Seq("o_orderkey"), deleteCol = Some("__del"))
    val expected = keys(orders).filterNot(_ % 11 == 0)
    val cid = Snapshots.compact(spark, root, Seq("o_orderpriority"))
    assert(cid.contains(5))
    assert(keys(Snapshots.read(spark, root)) == expected,
      "compaction must not resurrect deleted rows")
    // every file any delete applied to was rewritten (newer seq), so the
    // next fold is METADATA-ONLY: it drops the entries, rewrites nothing
    val s6 = Snapshots.foldDeletes(spark, root, Seq("o_orderpriority"))
    assert(s6.contains(6))
    assert(manifestLines(root, 6, "remove=").isEmpty &&
      manifestLines(root, 6, "add=").isEmpty &&
      manifestLines(root, 6, "dremove=").length == 1)
    assert(keys(Snapshots.read(spark, root)) == expected)
  }

  test("delete-only batches diff correctly: changes/changedPartitions see suppression") {
    val root = java.nio.file.Files.createTempDirectory("snap_mor_chg").toString
    Snapshots.write(orders.coalesce(1), root, Seq("o_orderpriority"))
    val dels = orders.filter(col("o_orderkey") % 11 === 0)
      .withColumn("__del", lit(true))
    Snapshots.mergeDeltas(spark, root, dels,
      Seq("o_orderpriority"), Seq("o_orderkey"), deleteCol = Some("__del"))
    // a delete-only merge adds NO data file: the file sets of s1 and s2
    // are identical, so only the delete-diff pass can name these dirs
    assert(manifestLines(root, 2, "add=").isEmpty)
    assert(Snapshots.changedPartitions(spark, root, 1, 2).nonEmpty)
    val ch = Snapshots.changes(spark, root, 1, 2, Seq("o_orderkey"))
    val delKeys = keys(orders).filter(_ % 11 == 0)
    assert(ch.count() == delKeys.size.toLong)
    assert(ch.select("change_type").distinct().collect()
      .map(_.getString(0)).toSet == Set("delete"))
    assert(keys(ch.drop("change_type")) == delKeys)
  }

  test("readAddedSince applies deletes newer than the added files") {
    val root = java.nio.file.Files.createTempDirectory("snap_mor_incr").toString
    for (m <- 0 to 1)
      Snapshots.write(orders.filter(col("o_orderkey") % 2 === m).coalesce(1),
        root, Seq("o_orderpriority"), SnapAppend)
    val dels = orders.filter(col("o_orderkey") % 11 === 0)
      .withColumn("__del", lit(true))
    Snapshots.mergeDeltas(spark, root, dels,
      Seq("o_orderpriority"), Seq("o_orderkey"), deleteCol = Some("__del"))
    // files added after s1 = the odd-key batch; the s3 delete suppresses
    // its % 11 keys exactly as a full read would
    val got = keys(Snapshots.readAddedSince(spark, root, sinceId = 1)
      .getOrElse(sys.error("expected added files")))
    assert(got == keys(orders).filter(x => x % 2 == 1 && x % 11 != 0))
  }

  test("rollback across a merge-on-read restores suppressed rows") {
    val root = java.nio.file.Files.createTempDirectory("snap_mor_rb").toString
    Snapshots.write(orders.coalesce(1), root, Seq("o_orderpriority"))
    val dels = orders.filter(col("o_orderkey") % 11 === 0)
      .withColumn("__del", lit(true))
    Snapshots.mergeDeltas(spark, root, dels,
      Seq("o_orderpriority"), Seq("o_orderkey"), deleteCol = Some("__del"))
    val s3 = Snapshots.rollback(spark, root, 1)
    assert(s3 == 3)
    assert(keys(Snapshots.read(spark, root)) == keys(orders),
      "rollback must restore the pre-merge delete set")
    // the merged state remains travelable with its delete applied
    assert(keys(Snapshots.read(spark, root, asOf = Some(2))) ==
      keys(orders).filterNot(_ % 11 == 0))
  }

  test("mergeDeltas replay tag converges; key-column consistency enforced until fold") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap_mor_rg").toString
    val df = (0L until 20L).map(i => (i, i * 10, "a")).toDF("k", "v", "p")
    Snapshots.write(df, root, Seq("p"))
    val b = Seq((3L, 999L, "a", true)).toDF("k", "v", "p", "__del")
    val id1 = Snapshots.mergeDeltas(spark, root, b, Seq("p"), Seq("k"),
      deleteCol = Some("__del"), batchTag = Some("batch-7"))
    val id2 = Snapshots.mergeDeltas(spark, root, b, Seq("p"), Seq("k"),
      deleteCol = Some("__del"), batchTag = Some("batch-7"))
    assert(id1 == 2 && id2 == 2, "a re-delivered batch converges")
    assert(Snapshots.read(spark, root).count() == 19)
    // while a k-keyed delete is live, a v-keyed merge must fail loudly
    intercept[IllegalArgumentException] {
      Snapshots.mergeDeltas(spark, root,
        Seq((30L, 999L, "a", false)).toDF("k", "v", "p", "__del"),
        Seq("p"), Seq("v"), deleteCol = Some("__del"))
    }
    Snapshots.foldDeletes(spark, root, Seq("p"))
    // folded: the key-column constraint re-arms
    val id4 = Snapshots.mergeDeltas(spark, root,
      Seq((0L, 999L, "a", false)).toDF("k", "v", "p", "__del"),
      Seq("p"), Seq("v"), deleteCol = Some("__del"))
    assert(id4 == 4)
  }

  test("maintain folds merge-on-read deletes by default") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap_mor_maint").toString
    val df = (0L until 50L).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("k", "p")
    Snapshots.write(df.repartition(2), root, Seq("p"))
    Snapshots.mergeDeltas(spark, root,
      Seq((0L, "a", true), (1L, "b", true)).toDF("k", "p", "__del"),
      Seq("p"), Seq("k"), deleteCol = Some("__del"))
    val r = Snapshots.maintain(spark, root, Seq("p"))
    assert(r.foldedTo.contains(3))
    assert(Snapshots.read(spark, root).count() == 48)
    assert(manifestLines(root, 3, "dremove=").length == 1)
  }

  test("oversized delete sets drop the broadcast hint, results identical") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap_mor_big").toString
    val df = (0L until 100L).map(i => (i, "a")).toDF("k", "p")
    Snapshots.write(df, root, Seq("p"))
    Snapshots.mergeDeltas(spark, root,
      (0L until 10L).map(i => (i, "a", true)).toDF("k", "p", "__del"),
      Seq("p"), Seq("k"), deleteCol = Some("__del"))
    def planOf() = Snapshots.read(spark, root)
      .queryExecution.executedPlan.toString
    // isolate the HINT: with auto-broadcast off, only the explicit hint
    // can produce a BroadcastHashJoin
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      assert(planOf().contains("BroadcastHashJoin"),
        "under the byte budget the hint forces the broadcast plan")
      spark.conf.set("graft.snapshots.broadcastDeleteBytes", "0")
      assert(!planOf().contains("BroadcastHashJoin"),
        "a delete set over the byte budget must not force-broadcast")
      assert(Snapshots.read(spark, root).count() == 90,
        "the shuffled anti-join answers identically")
    } finally {
      spark.conf.unset("graft.snapshots.broadcastDeleteBytes")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("mergeStream applies CDC batches merge-on-read, one snapshot each") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap_mor_str").toString
    val df = (0L until 30L).map(i => (i, s"v$i", if (i % 2 == 0) "a" else "b"))
      .toDF("k", "v", "p")
    Snapshots.write(df.repartition(2), root, Seq("p"))
    val input = MemoryStream[(Long, String, String, Boolean)]
    val q = Snapshots.mergeStream(
      input.toDF().toDF("k", "v", "p", "__del"),
      root, Seq("p"), Seq("k"), deleteCol = Some("__del"))
    try {
      input.addData((3L, "x", "a", true), (4L, "V4", "a", false))
      q.processAllAvailable()
      input.addData((3L, "reborn", "a", false))
      q.processAllAvailable()
    } finally q.stop()
    assert(Snapshots.currentSnapshot(spark, root).contains(3))
    val cur = Snapshots.read(spark, root)
    assert(cur.count() == 30)
    assert(cur.filter(col("k") === 3L).select("v").head().getString(0)
      == "reborn")
    assert(cur.filter(col("k") === 4L).select("v").head().getString(0)
      == "V4")
    // batch boundaries stay travelable: after batch 1, k=3 was deleted
    val mid = Snapshots.read(spark, root, asOf = Some(2))
    assert(mid.count() == 29 && mid.filter(col("k") === 3L).count() == 0)
    // each merge was O(batch): no remove lines in either stream manifest
    assert(manifestLines(root, 2, "remove=").isEmpty &&
      manifestLines(root, 3, "remove=").isEmpty)
  }

  test("partition-spec evolution: metadata-only, both eras read, pruning per era") {
    val root = java.nio.file.Files.createTempDirectory("snap_evsp").toString
    val base = graft.Tables(spark, sf0001, "orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority")
    val even = base.filter(col("o_orderkey") % 2 === 0)
    val odd = base.filter(col("o_orderkey") % 2 === 1)
    Snapshots.write(even.coalesce(1), root, Seq("o_orderpriority"))
    val s2 = Snapshots.evolvePartitioning(spark, root,
      Seq("o_orderpriority", "o_orderstatus"))
    assert(s2 == 2)
    assert(manifestLines(root, 2, "add=").isEmpty &&
      manifestLines(root, 2, "remove=").isEmpty, "evolution rewrites nothing")
    // old spec now rejected, new spec required
    intercept[IllegalArgumentException] {
      Snapshots.write(odd, root, Seq("o_orderpriority"))
    }
    Snapshots.write(odd.coalesce(1), root,
      Seq("o_orderpriority", "o_orderstatus"))
    // the era-mixed read is complete and correct on every column,
    // including the one era 1 stores in files and era 2 in dirs
    val cur = Snapshots.read(spark, root)
    assert(keys(cur) == keys(base))
    val statusByKey = base.select("o_orderkey", "o_orderstatus").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cur.select("o_orderkey", "o_orderstatus").collect()
      .forall(r => statusByKey(r.getLong(0)) == r.getString(1)))
    // pre-evolution travel unchanged
    assert(keys(Snapshots.read(spark, root, asOf = Some(1))) == keys(even))
    // partition pruning on the shared first-level column reaches BOTH eras
    val pruned = Snapshots.read(spark, root)
      .filter(col("o_orderpriority") === "5-LOW")
    assert(keys(pruned) ==
      keys(base.filter(col("o_orderpriority") === "5-LOW")))
    assert(pruned.queryExecution.executedPlan.toString
      .contains("PartitionFilters"), "dir pruning must survive evolution")
  }

  test("migrateSpec rewrites only old-era files; guards lift afterwards") {
    val root = java.nio.file.Files.createTempDirectory("snap_evmg").toString
    val base = graft.Tables(spark, sf0001, "orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority")
    Snapshots.write(
      base.filter(col("o_orderkey") % 2 === 0).coalesce(1), root,
      Seq("o_orderpriority"))
    Snapshots.evolvePartitioning(spark, root,
      Seq("o_orderpriority", "o_orderstatus"))
    Snapshots.write(
      base.filter(col("o_orderkey") % 2 === 1).coalesce(1), root,
      Seq("o_orderpriority", "o_orderstatus"))
    // partition-replacing ops are era-blocked until migration (a flat-era
    // file in the same logical partition would silently survive)
    val exBefore = intercept[IllegalStateException] {
      Snapshots.write(
        base.filter(col("o_orderkey") % 4 === 1).coalesce(1), root,
        Seq("o_orderpriority", "o_orderstatus"), SnapOverwritePartitions)
    }
    assert(exBefore.getMessage.contains("migrateSpec"))
    val beforeKeys = keys(Snapshots.read(spark, root))
    val s4 = Snapshots.migrateSpec(spark, root,
      Seq("o_orderpriority", "o_orderstatus"))
    assert(s4.contains(4))
    // only era-1 files moved: every remove is a flat-layout rel, every
    // add a two-level one; era-2 files ride through by reference
    assert(manifestLines(root, 4, "remove=").nonEmpty)
    assert(manifestLines(root, 4, "remove=")
      .forall(l => l.count(_ == '/') == 1))
    assert(manifestLines(root, 4, "add=")
      .forall(l => l.count(_ == '/') == 2))
    assert(keys(Snapshots.read(spark, root)) == beforeKeys,
      "migration is a layout rewrite, not a data change")
    // homogeneous again: compaction works, second migrate is a no-op
    assert(Snapshots.migrateSpec(spark, root,
      Seq("o_orderpriority", "o_orderstatus")).isEmpty)
    assert(keys(Snapshots.read(spark, root, asOf = Some(3))) == beforeKeys,
      "pre-migration era-mixed state stays travelable")
    // evolution guards: unknown column, unchanged spec
    intercept[IllegalArgumentException] {
      Snapshots.evolvePartitioning(spark, root, Seq("nope"))
    }
    intercept[IllegalArgumentException] {
      Snapshots.evolvePartitioning(spark, root,
        Seq("o_orderpriority", "o_orderstatus"))
    }
  }

  test("equality deletes apply across partition-spec eras and through migration") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap_evdel").toString
    val df = (0L until 40L).map(i =>
      (i, if (i % 2 == 0) "a" else "b", s"g${i % 4}")).toDF("k", "p", "g")
    Snapshots.write(df.repartition(2), root, Seq("p"))
    Snapshots.evolvePartitioning(spark, root, Seq("p", "g"))
    // a MoR delete lands under the NEW spec but must suppress rows in
    // OLD-era files too (seq ordering is era-agnostic)
    Snapshots.mergeDeltas(spark, root,
      Seq((0L, "a", "g0", true), (1L, "b", "g1", true))
        .toDF("k", "p", "g", "__del"),
      Seq("p", "g"), Seq("k"), deleteCol = Some("__del"))
    assert(Snapshots.read(spark, root).count() == 38)
    // migration applies the deletes while rewriting old-era files —
    // nothing resurrects, and the rewritten rows escape by newer seq
    Snapshots.migrateSpec(spark, root, Seq("p", "g"))
    assert(Snapshots.read(spark, root).count() == 38)
    assert(Snapshots.read(spark, root).filter(col("k") < 2).count() == 0)
    // fold now clears the (dead) delete entries metadata-only
    val fid = Snapshots.foldDeletes(spark, root, Seq("p", "g"))
    assert(fid.nonEmpty)
    assert(Snapshots.read(spark, root).count() == 38)
  }

  test("snapshotLog: manifest-only operational read with instants, spec, delete counts") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap_log").toString
    val df = (0L until 30L).map(i => (i, "a")).toDF("k", "p")
    Snapshots.write(df, root, Seq("p"))
    Snapshots.mergeDeltas(spark, root,
      Seq((3L, "a", true)).toDF("k", "p", "__del"),
      Seq("p"), Seq("k"), deleteCol = Some("__del"), batchTag = Some("b-1"))
    Snapshots.foldDeletes(spark, root, Seq("p"))
    val log = Snapshots.snapshotLog(spark, root).collect()
    assert(log.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    assert(log.map(_.getString(1)).toSeq == Seq("append", "merge_mor", "fold"))
    val instants = log.map(_.getTimestamp(2))
    assert(instants.forall(_ != null) && instants.sliding(2)
      .forall(w => !w(0).after(w(1))), "publish instants are recorded, monotone")
    assert(log.forall(_.getString(3) == "p"))
    assert(log.map(_.getLong(6)).toSeq == Seq(0L, 1L, 0L),
      "pending merge-on-read deletes are visible per snapshot")
    assert(log.map(r => Option(r.getString(7))).toSeq ==
      Seq(None, Some("b-1"), None))
    assert(log.map(_.getBoolean(8)).toSeq == Seq(false, false, true))
  }

  test("time travel by wall clock: recorded publish instants, rebase-proof") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap_ts").toString
    val t0 = System.currentTimeMillis() - 1
    Snapshots.write(Seq((1L, "a")).toDF("k", "p"), root, Seq("p"))
    Thread.sleep(5)
    val t1 = System.currentTimeMillis()
    Thread.sleep(5)
    Snapshots.write(Seq((2L, "a")).toDF("k", "p"), root, Seq("p"))
    Thread.sleep(5)
    val t2 = System.currentTimeMillis()
    assert(Snapshots.snapshotAt(spark, root, t0).isEmpty,
      "before the first publish there is no state")
    intercept[IllegalStateException] { Snapshots.readAt(spark, root, t0) }
    assert(Snapshots.snapshotAt(spark, root, t1).contains(1))
    assert(Snapshots.readAt(spark, root, t1).count() == 1)
    assert(Snapshots.snapshotAt(spark, root, t2).contains(2))
    assert(Snapshots.readAt(spark, root, t2).count() == 2)
    // far future resolves to current
    assert(Snapshots.snapshotAt(spark, root, Long.MaxValue).contains(2))
    // expire's rebase-in-place preserves the ORIGINAL recorded instant:
    // s2's manifest is rewritten full when s1 expires, and t1 still
    // resolves to nothing while t2 still finds s2
    val tagged = manifestText(root, 2)
    assert(tagged.linesIterator.exists(_.startsWith("ts=")))
    Snapshots.write(Seq((3L, "a")).toDF("k", "p"), root, Seq("p"))
    Snapshots.expire(spark, root, keepLast = 2)
    assert(manifestText(root, 2).linesIterator.filter(_.startsWith("ts="))
      .toSeq == tagged.linesIterator.filter(_.startsWith("ts=")).toSeq,
      "rebase must carry the original publish instant")
    assert(Snapshots.snapshotAt(spark, root, t1).isEmpty,
      "the only snapshot that old was expired")
    assert(Snapshots.snapshotAt(spark, root, t2).contains(2))
  }

  test("changes() applied to the from-state reproduces a merge-on-read to-state") {
    val root = java.nio.file.Files.createTempDirectory("snap_mor_rt").toString
    val base = graft.Tables(spark, sf0001, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
    Snapshots.write(base.coalesce(1), root, Seq("o_orderpriority"))
    val k = col("o_orderkey")
    val updates = base.filter(k % 7 === 0 && k % 11 =!= 0)
      .withColumn("o_totalprice", lit(1.0)).withColumn("__del", lit(false))
      .unionByName(base.filter(k % 11 === 0).withColumn("__del", lit(true)))
    Snapshots.mergeDeltas(spark, root, updates,
      Seq("o_orderpriority"), Seq("o_orderkey"), deleteCol = Some("__del"))
    val ch = Snapshots.changes(spark, root, 1, 2, Seq("o_orderkey"))
    // delete/update keys leave, insert/update-post rows join — the
    // documented apply contract, under merge-on-read this time
    val touchedKeys = ch.filter(col("change_type").isin("delete", "update"))
      .select("o_orderkey")
    val applied = Snapshots.read(spark, root, asOf = Some(1))
      .join(touchedKeys, Seq("o_orderkey"), "left_anti")
      .unionByName(ch.filter(col("change_type").isin("insert", "update"))
        .drop("change_type"))
    def rs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.toVector).toSet
    assert(rs(applied) == rs(Snapshots.read(spark, root, asOf = Some(2))))
  }

  test("WAP staged reads apply live equality deletes through the parent chain") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap_mor_wap").toString
    val df = (0L until 20L).map(i => (i, "a")).toDF("k", "p")
    Snapshots.write(df, root, Seq("p"))
    Snapshots.mergeDeltas(spark, root,
      Seq((0L, "a", true)).toDF("k", "p", "__del"),
      Seq("p"), Seq("k"), deleteCol = Some("__del"))
    Snapshots.stageWrite(Seq((100L, "a")).toDF("k", "p"), root, Seq("p"),
      name = "audit1")
    val staged = Snapshots.readStaged(spark, root, "audit1")
    assert(staged.count() == 20, "19 surviving + 1 staged")
    assert(staged.filter(col("k") === 0L).count() == 0,
      "the live delete suppresses through the staged read's parent chain")
    assert(Snapshots.publishStaged(spark, root, "audit1") == 3)
    assert(Snapshots.read(spark, root).count() == 20)
  }

  test("snapshotAt treats pre-timestamp manifests as older than every stamped one") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap_ts_leg").toString
    Snapshots.write(Seq((1L, "a")).toDF("k", "p"), root, Seq("p"))
    // strip s1's ts line in place — a dataset written before instants
    val p1 = java.nio.file.Paths.get(s"$root/snapshots/s1")
    val legacy = new String(java.nio.file.Files.readAllBytes(p1))
      .linesIterator.filterNot(_.startsWith("ts=")).mkString("", "\n", "\n")
    java.nio.file.Files.write(p1, legacy.getBytes)
    // the raw rewrite invalidates the local FS's checksum sidecar
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$root/snapshots/.s1.crc"))
    val t1 = System.currentTimeMillis()
    Thread.sleep(5)
    Snapshots.write(Seq((2L, "a")).toDF("k", "p"), root, Seq("p"))
    // before s2's stamp: the stamped head disqualifies, the legacy
    // manifest resolves (it is older than every stamped one by
    // construction)
    assert(Snapshots.snapshotAt(spark, root, t1).contains(1))
    assert(Snapshots.readAt(spark, root, t1).count() == 1)
    assert(Snapshots.snapshotAt(spark, root, Long.MaxValue).contains(2))
  }

  test("expire and vacuum account for equality-delete files") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap_mor_gc").toString
    val df = (0L until 30L).map(i => (i, "a")).toDF("k", "p")
    Snapshots.write(df, root, Seq("p"))
    Snapshots.mergeDeltas(spark, root,
      Seq((5L, "a", true)).toDF("k", "p", "__del"),
      Seq("p"), Seq("k"), deleteCol = Some("__del"))
    Snapshots.foldDeletes(spark, root, Seq("p"))
    val delDir = new java.io.File(s"$root/deletes")
    def delFiles() = Option(delDir.listFiles()).getOrElse(Array.empty)
      .count(x => x.isFile && !x.getName.startsWith("."))
    assert(delFiles() == 1, "delete file retained for s2")
    // expiring s1/s2 reclaims the delete file no kept snapshot references
    val (expired, n) = Snapshots.expire(spark, root, keepLast = 1)
    assert(expired == Seq(1, 2) && n > 0)
    assert(delFiles() == 0, "expired delete file must be swept")
    // an orphan delete file (crashed merge) is vacuum's, behind the grace
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$root/deletes/del-stray.parquet"),
      Array[Byte](1))
    assert(Snapshots.vacuum(spark, root, graceMs = Long.MaxValue)._1 == 0,
      "grace window protects a fresh file")
    assert(Snapshots.vacuum(spark, root, graceMs = 0L)._1 == 1)
  }

  test("IN-list pruning: anyOf ranges keep the UNION of holding files across stats and blooms") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap_inlist").toString
    // three appended single-file batches: two with disjoint ranges, the
    // third fully interleaved with the first — min/max separates batch 2,
    // only the bloom separates 1 from 3
    val evens = spark.range(0, 200, 2).select(col("id").as("k"),
      lit("a").as("p"))
    val high = spark.range(1000, 1100).select(col("id").as("k"),
      lit("a").as("p"))
    val odds = spark.range(1, 200, 2).select(col("id").as("k"),
      lit("a").as("p"))
    Snapshots.write(evens.coalesce(1), root, Seq("p"),
      statsColumns = Seq("k"), bloomColumns = Seq("k"))
    Snapshots.write(high.coalesce(1), root, Seq("p"), Snapshots.SnapAppend)
    Snapshots.write(odds.coalesce(1), root, Seq("p"), Snapshots.SnapAppend)
    def readIn(vs: Long*) = Snapshots.read(spark, root,
      prune = Seq(Snapshots.StatRange("k", anyOf = Some(vs))))
    // one even + one high key: the odds' file is bloom-pruned, the union
    // of the two holding files survives
    assert(readIn(42L, 1050L).inputFiles.length == 2,
      "anyOf must keep exactly the union of the holding files")
    assert(readIn(42L, 1050L).filter(col("k").isin(42L, 1050L)).count() == 2)
    // values from ALL three files keep all three
    assert(readIn(42L, 43L, 1050L).inputFiles.length == 3)
    // absent values prune everything; the empty read still answers
    assert(readIn(999L).count() == 0)
    // deleteWhere with an IN condition derives the same disjunction: the
    // two holding files rewrite, the odds' file rides through untouched
    val did = Snapshots.deleteWhere(spark, root, Seq("p"),
      col("k").isin(42L, 1050L))
    assert(did.contains(4))
    val m4 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/snapshots/s4")))
    assert(m4.linesIterator.count(_.startsWith("remove=")) == 2,
      "the IN delete must rewrite only the holding files")
    assert(Snapshots.read(spark, root).count() == 298)
    assert(Snapshots.read(spark, root)
      .filter(col("k").isin(42L, 1050L)).count() == 0)
  }

  test("derived ranges: IN / OR-of-equalities become one disjunction; equality bounds carry exact internal values") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampType}
    val sc = StructType(Seq(StructField("k", LongType),
      StructField("s", StringType), StructField("ts", TimestampType)))
    def derive(c: org.apache.spark.sql.Column) =
      Snapshots.deriveRanges(spark, sc, c, Seq("k", "s", "ts"))
    // IN over a stat column: one anyOf range with exact internal values
    val in = derive(col("k").isin(1L, 2L, 3L))
    assert(in.length == 1 && in.head.anyOf.contains(Seq("1", "2", "3")))
    assert(in.head.exactEq.exists(_.map(_._1) == Seq(1L, 2L, 3L)))
    // OR-of-equalities on ONE column folds to the same shape
    val or = derive(col("k") === 5L || col("k") === 7L)
    assert(or.length == 1 && or.head.anyOf.contains(Seq("5", "7")))
    // a cross-column OR derives nothing (a partial set would mis-prune)
    assert(derive(col("k") === 5L || col("s") === "x").isEmpty)
    // plain equality carries the internal value for the Bloom probe
    val eq = derive(col("k") === 9L)
    assert(eq.exists(r => r.lower.contains("9") &&
      r.exactEq.exists(_ == Seq((9L, LongType)))))
    // null-safe equality against a non-null literal prunes like equality
    val nseq = derive(col("k") <=> 4L)
    assert(nseq.exists(r => r.lower.contains("4")))
    // an over-cap IN degrades to no derivation, never a partial one
    val wide = derive(col("k").isin(
      (0L to Snapshots.MaxInPruneValues.toLong).map(Long.box): _*))
    assert(wide.isEmpty)
  }

  test("DST-ambiguous timestamp point delete probes the exact instant, not a re-parsed local string") {
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try {
      import spark.implicits._
      val root = java.nio.file.Files.createTempDirectory("snap_dst").toString
      // 2026-11-01 01:30:00 in America/New_York happens TWICE (fall-back):
      // once at UTC-4 (05:30Z) and once at UTC-5 (06:30Z). Both instants
      // render to the identical session-tz string, so a probe that
      // re-parses the rendered bound hashes the WRONG instant for one of
      // them — the write-side bloom hashed internal micros.
      val edt = java.sql.Timestamp.from(
        java.time.Instant.parse("2026-11-01T05:30:00Z"))
      val est = java.sql.Timestamp.from(
        java.time.Instant.parse("2026-11-01T06:30:00Z"))
      Snapshots.write(Seq((1L, "a", edt)).toDF("id", "p", "ts").coalesce(1),
        root, Seq("p"), statsColumns = Seq("id"), bloomColumns = Seq("ts"))
      Snapshots.write(Seq((2L, "a", est)).toDF("id", "p", "ts").coalesce(1),
        root, Seq("p"), Snapshots.SnapAppend)
      // delete the EST (second) occurrence: its file must NOT be
      // bloom-pruned away — silent non-deletion is the GDPR failure mode
      val did = Snapshots.deleteWhere(spark, root, Seq("p"),
        col("ts") === lit(est))
      assert(did.isDefined,
        "the delete must locate the EST row — a tz-string re-parse would " +
          "bloom-prune its file and silently leave it undeleted")
      assert(Snapshots.read(spark, root).select("id").collect()
        .map(_.getLong(0)).toSet == Set(1L))
      // the EDT occurrence stays addressable too
      assert(Snapshots.deleteWhere(spark, root, Seq("p"),
        col("ts") === lit(edt)).isDefined)
      assert(Snapshots.read(spark, root).count() == 0)
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }

  // ------------------------------------------ replaceWhere / truncate

  test("replaceWhere: one snapshot replaces exactly the matching rows, file-bounded") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap_rw").toString
    val base = (0 until 100).map(i => (i.toLong, if (i < 50) "a" else "b"))
      .toDF("k", "p")
    Snapshots.write(base, root, Seq("p"), statsColumns = Seq("k"))
    // rebuild partition b from source: twice the rows, shifted keys
    val rebuilt = (0 until 100).map(i => (1000L + i, "b")).toDF("k", "p")
    val id = Snapshots.replaceWhere(rebuilt, root, Seq("p"),
      col("p") === "b")
    assert(id == 2)
    val now = Snapshots.read(spark, root)
    assert(now.count() == 150)
    assert(now.filter(col("p") === "a").count() == 50, "a rides through")
    assert(now.filter(col("p") === "b").select(min(col("k"))).head()
      .getLong(0) == 1000L, "b is fully replaced")
    // ONE snapshot, the engine's own mode — never a delete+append pair
    assert(Snapshots.history(spark, root).collect().map(_.getString(1))
      .toSeq == Seq("append", "replace_where"))
    // file-bounded: only the files HOLDING matches left the manifest —
    // partition a's file(s) were never touched
    val removed = manifestLines(root, 2, "remove=")
    assert(removed.nonEmpty && removed.forall(_.contains("p=b")),
      s"only p=b files may rewrite, got $removed")
    // pre-replace state stays time-travelable
    assert(Snapshots.read(spark, root, asOf = Some(1)).count() == 100)
    // idempotent backfill: re-running the same replace lands the same table
    Snapshots.replaceWhere(rebuilt, root, Seq("p"), col("p") === "b")
    assert(Snapshots.read(spark, root).count() == 150)
  }

  test("replaceWhere: predicate violations fail IN the write; non-matching predicates append") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap_rwv").toString
    Snapshots.write(Seq((1L, "a")).toDF("k", "p"), root, Seq("p"))
    // a batch carrying a row OUTSIDE the predicate must abort the write
    // (codegen'd raise_error during staging), leaving the table unchanged
    val bad = Seq((2L, "b"), (3L, "a")).toDF("k", "p")
    val e = intercept[Exception] {
      Snapshots.replaceWhere(bad, root, Seq("p"), col("p") === "b")
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("does not satisfy the predicate")))
    assert(Snapshots.currentSnapshot(spark, root).contains(1))
    assert(Snapshots.read(spark, root).count() == 1)
    // a predicate matching NOTHING live is a plain append of the batch
    val id = Snapshots.replaceWhere(Seq((2L, "b")).toDF("k", "p"), root,
      Seq("p"), col("p") === "b")
    assert(id == 2 && manifestLines(root, 2, "remove=").isEmpty)
    assert(Snapshots.read(spark, root).count() == 2)
    // a batch missing a contract column is loud, never null-filled
    val thin = intercept[IllegalArgumentException] {
      Snapshots.replaceWhere(Seq("b").toDF("p"), root, Seq("p"),
        col("p") === "b")
    }
    assert(thin.getMessage.contains("missing 'k'"))
  }

  test("CHECK constraints: enforced in every write lane, carried through maintenance, validated on add") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap_ck").toString
    Snapshots.write(Seq((1L, 10.0, "a")).toDF("k", "v", "p"), root, Seq("p"))
    // metadata-only publish; recorded and readable back
    val cid = Snapshots.addConstraint(spark, root, "v_pos", "v > 0")
    assert(cid == 2)
    assert(Snapshots.constraints(spark, root) == Seq("v_pos" -> "v > 0"))
    assert(Snapshots.history(spark, root).collect().map(_.getString(1))
      .toSeq == Seq("append", "add_constraint"))
    // a valid append lands; a violating append fails NAMING the
    // constraint, with nothing published
    Snapshots.write(Seq((2L, 5.0, "a")).toDF("k", "v", "p"), root, Seq("p"),
      SnapAppend)
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + " | " + msgs(t.getCause)
    val exIns = intercept[Exception] {
      Snapshots.write(Seq((3L, -1.0, "a")).toDF("k", "v", "p"), root,
        Seq("p"), SnapAppend)
    }
    assert(msgs(exIns).contains("CHECK constraint 'v_pos'"), msgs(exIns))
    assert(Snapshots.currentSnapshot(spark, root).contains(3))
    // an UPDATE whose assignments would violate fails through the SAME
    // guard (the rewrite stages through the one choke point)
    val exUpd = intercept[Exception] {
      Snapshots.updateWhere(spark, root, Seq("p"), col("k") === 1L,
        Seq("v" -> lit(-9.0)))
    }
    assert(msgs(exUpd).contains("CHECK constraint 'v_pos'"), msgs(exUpd))
    assert(Snapshots.read(spark, root).filter(col("v") < 0).count() == 0)
    // constraints ride maintenance: compact preserves the declaration
    Snapshots.compact(spark, root, Seq("p"))
    assert(Snapshots.constraints(spark, root) == Seq("v_pos" -> "v > 0"))
    // adding a rule existing data violates is loud; novalidate declares
    // it forward-only
    val exVal = intercept[Exception] {
      Snapshots.addConstraint(spark, root, "k_big", "k > 100")
    }
    assert(msgs(exVal).contains("existing rows violate"), msgs(exVal))
    Snapshots.addConstraint(spark, root, "k_big", "k > 100",
      validateExisting = false)
    val exBoth = intercept[Exception] {
      Snapshots.write(Seq((5L, 1.0, "a")).toDF("k", "v", "p"), root,
        Seq("p"), SnapAppend)
    }
    assert(msgs(exBoth).contains("k_big"), msgs(exBoth))
    // MAINTENANCE and GDPR deletes keep working over legacy rows a
    // forward-only rule never covered: restaging unchanged history is
    // not a new write, so compact and deleteWhere survivors skip the
    // guard (a deadlocked GDPR lane would be the worse failure)
    Snapshots.compact(spark, root, Seq("p")): Unit
    Snapshots.deleteWhere(spark, root, Seq("p"), col("k") === 2L)
    assert(Snapshots.read(spark, root).filter(col("k") === 2L).count() == 0)
    assert(Snapshots.constraints(spark, root).map(_._1)
      == Seq("v_pos", "k_big"), "declarations survive the rewrites")
    // an UPDATE that restages a file holding legacy violating rows DOES
    // re-judge them (its rows changed) — the documented forward-only
    // trap, loud with the rule named
    val exLegacy = intercept[Exception] {
      Snapshots.updateWhere(spark, root, Seq("p"), col("k") === 1L,
        Seq("v" -> lit(99.0)))
    }
    assert(msgs(exLegacy).contains("k_big"), msgs(exLegacy))
    // nondeterministic / time-dependent rules are a different feature
    // (a quality filter) and are rejected at ADD
    val exRand = intercept[Exception] {
      Snapshots.addConstraint(spark, root, "coin", "rand() < 2",
        validateExisting = false)
    }
    assert(msgs(exRand).contains("deterministic"), msgs(exRand))
    val exTime = intercept[Exception] {
      Snapshots.addConstraint(spark, root, "fresh",
        "k > unix_timestamp(current_timestamp()) - 100",
        validateExisting = false)
    }
    assert(msgs(exTime).contains("deterministic"), msgs(exTime))
    // duplicates and unresolvable/non-boolean expressions are loud at ADD
    val exDup = intercept[IllegalArgumentException] {
      Snapshots.addConstraint(spark, root, "v_pos", "v > 1")
    }
    assert(exDup.getMessage.contains("already exists"))
    intercept[Exception] {
      Snapshots.addConstraint(spark, root, "ghost", "no_such_col > 0")
    }
    // drop releases the rule (and the violating write now lands)
    assert(Snapshots.dropConstraint(spark, root, "k_big").isDefined)
    assert(Snapshots.dropConstraint(spark, root, "k_big").isEmpty)
    Snapshots.write(Seq((6L, 1.0, "a")).toDF("k", "v", "p"), root,
      Seq("p"), SnapAppend)
    assert(Snapshots.constraints(spark, root) == Seq("v_pos" -> "v > 0"))
  }

  test("CHECK constraints: thin batches judge the effective row; branch merges abort on constraint drift") {
    import spark.implicits._
    // a THIN append legally omits a nullable column — a null-tolerant
    // rule referencing it must judge the EFFECTIVE row (null), never
    // die unresolved
    val root = java.nio.file.Files.createTempDirectory("snap_ckthin").toString
    Snapshots.write(Seq((1L, "x", "a")).toDF("k", "note", "p"), root,
      Seq("p"))
    Snapshots.addConstraint(spark, root, "note_ok",
      "note IS NULL OR length(note) > 0")
    Snapshots.write(Seq((2L, "a")).toDF("k", "p"), root, Seq("p"),
      SnapAppend)
    val rows = Snapshots.read(spark, root).orderBy("k").collect()
    assert(rows.length == 2 && rows(1).isNullAt(1),
      "the thin batch's omitted column reads null under the contract")
    // a batch column cased differently from the contract is the SAME
    // column under the session resolver (case-insensitive by default) —
    // the null-fill must not add a duplicate sibling that makes the rule
    // die AMBIGUOUS_REFERENCE instead of judging the batch's value
    Snapshots.write(Seq((10L, "cased", "a")).toDF("k", "NOTE", "p"), root,
      Seq("p"), SnapAppend)
    assert(Snapshots.read(spark, root).filter(col("k") === 10L)
      .head().getString(1) == "cased",
      "the case-variant batch column must satisfy the rule as itself")
    // ... and a null-REJECTING rule judges that same effective row
    Snapshots.addConstraint(spark, root, "note_set", "note IS NOT NULL",
      validateExisting = false)
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + " | " + msgs(t.getCause)
    val exThin = intercept[Exception] {
      Snapshots.write(Seq((3L, "a")).toDF("k", "p"), root, Seq("p"),
        SnapAppend)
    }
    assert(msgs(exThin).contains("note_set"), msgs(exThin))
    // branch rows were guarded under the FORK's constraint set — a rule
    // added on main since the fork never saw them, so the rebase-merge
    // must abort naming the drift, never publish unchecked rows
    val root2 = java.nio.file.Files.createTempDirectory("snap_ckbr").toString
    Snapshots.write(Seq((1L, 5.0, "a")).toDF("k", "v", "p"), root2, Seq("p"))
    Snapshots.createBranch(spark, root2, "audit")
    Snapshots.writeToBranch(Seq((2L, -1.0, "a")).toDF("k", "v", "p"),
      root2, "audit", Seq("p"))
    Snapshots.addConstraint(spark, root2, "v_pos", "v > 0") // main moves
    val exFf = intercept[Exception] {
      Snapshots.fastForward(spark, root2, "audit")
    }
    assert(msgs(exFf).contains("never checked against the new rules"),
      msgs(exFf))
    assert(Snapshots.read(spark, root2).filter(col("v") < 0).count() == 0,
      "the unchecked branch rows must not have published")
    Snapshots.dropBranch(spark, root2, "audit"): Unit
  }

  test("truncate: metadata-only empty snapshot — contract survives, history travels, no-op when empty") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap_trunc").toString
    Snapshots.write((0 until 60).map(i => (i.toLong, s"p${i % 3}"))
      .toDF("k", "p"), root, Seq("p"), statsColumns = Seq("k"))
    val dataFiles = {
      val d = java.nio.file.Paths.get(root, "data")
      java.nio.file.Files.walk(d).filter(p =>
        p.toString.endsWith(".parquet")).count()
    }
    val id = Snapshots.truncate(spark, root)
    assert(id.contains(2))
    // empty under the SAME contract — schema, spec and stat declarations
    // carry forward
    val now = Snapshots.read(spark, root)
    assert(now.count() == 0 &&
      now.schema.fieldNames.toSeq == Seq("k", "p"))
    assert(Snapshots.recordedPartitionCols(spark, root) == Seq("p"))
    // METADATA-ONLY: zero data files moved or deleted; the old snapshot
    // still reads them
    val after = {
      val d = java.nio.file.Paths.get(root, "data")
      java.nio.file.Files.walk(d).filter(p =>
        p.toString.endsWith(".parquet")).count()
    }
    assert(after == dataFiles, "truncate must move zero bytes")
    assert(Snapshots.read(spark, root, asOf = Some(1)).count() == 60)
    assert(manifestLines(root, 2, "file=").isEmpty &&
      manifestLines(root, 2, "add=").isEmpty)
    // truncating the already-empty dataset is a no-op (no history noise)
    assert(Snapshots.truncate(spark, root).isEmpty)
    assert(Snapshots.currentSnapshot(spark, root).contains(2))
    // the next write lands under the carried-forward declarations
    Snapshots.write(Seq((100L, "p0")).toDF("k", "p"), root, Seq("p"),
      SnapAppend)
    assert(Snapshots.read(spark, root).count() == 1)
    assert(Snapshots.history(spark, root).collect().map(_.getString(1))
      .toSeq == Seq("append", "truncate", "append"))
  }
}

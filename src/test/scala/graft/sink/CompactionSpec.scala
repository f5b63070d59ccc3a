package graft.sink

import graft.SparkSpec
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}

/** Compaction (in place): the file count collapses to the requested
  * budget per partition while content and partition routing stay
  * untouched. */
class CompactionSpec extends SparkSpec {

  private def dataFiles(root: Path): Map[String, Int] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .toSeq
      .groupBy(p => root.relativize(p).subpath(0, 1).toString)
      .view.mapValues(_.size).toMap
  }

  test("compaction: 8-way fragmented tree collapses to 1 file per partition") {
    val orders = graft.Tables(spark, sf0001, "orders")
    val frag = Files.createTempDirectory("graft_compact_in")
    PartitionedSink.write(orders.repartition(8), frag.toString,
      SinkConfig(ParquetFormat, Seq("o_orderpriority"), runtimeNullCheck = true))
    val before = dataFiles(frag)
    assert(before.values.max > 1, s"fixture must be fragmented: $before")

    PartitionedSink.compactInPlace(spark, frag.toString, Seq("o_orderpriority"))
    val after = dataFiles(frag)
    assert(after.keySet == before.keySet, "partition set must be preserved")
    assert(after.values.forall(_ == 1), s"expected 1 file per partition: $after")

    // content identity against the source: same rows, same routing
    val b = PartitionedSink.readBack(spark, frag.toString)
    assert(orders.count() == b.count())
    assert(orders.agg(sum("o_orderkey")).head.getLong(0) ==
      b.agg(sum("o_orderkey")).head.getLong(0))
    assert(b.groupBy("o_orderpriority").count().collect().map(r =>
      r.getString(0) -> r.getLong(1)).toMap ==
      orders.groupBy("o_orderpriority").count().collect().map(r =>
        r.getString(0) -> r.getLong(1)).toMap)
  }

  test("partitionStats tracks the fragment->compact cycle exactly") {
    val orders = graft.Tables(spark, sf0001, "orders")
    val frag = Files.createTempDirectory("graft_stats_in")
    PartitionedSink.write(orders.repartition(8), frag.toString,
      SinkConfig(ParquetFormat, Seq("o_orderpriority"), runtimeNullCheck = true))
    def stats(p: Path) = PartitionCatalog
      .partitionStats(spark, p.toString, Seq("o_orderpriority"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val before = stats(frag)
    // n_files agrees with the filesystem, n_rows with the source
    // (dataFiles keys are directory names "field=value"; stats keys are values)
    assert(before.map { case (k, v) => s"o_orderpriority=$k" -> v._2.toInt } ==
      dataFiles(frag))
    assert(before.values.map(_._1).sum == orders.count())
    assert(before.values.exists(_._2 > 1), "fixture must be fragmented")
    PartitionedSink.compactInPlace(spark, frag.toString, Seq("o_orderpriority"))
    val after = stats(frag)
    assert(after.keySet == before.keySet)
    assert(after.values.forall(_._2 == 1L), s"compacted to 1 file each: $after")
    assert(after.view.mapValues(_._1).toMap == before.view.mapValues(_._1).toMap,
      "per-partition row counts must survive compaction")
  }

  test("size-targeted compaction: budgets track per-partition input bytes") {
    import scala.jdk.CollectionConverters._
    val orders = graft.Tables(spark, sf0001, "orders")
    val frag = Files.createTempDirectory("graft_tsize_in")
    PartitionedSink.write(orders.repartition(8), frag.toString,
      SinkConfig(ParquetFormat, Seq("o_orderpriority"), runtimeNullCheck = true))
    def partBytes(root: Path): Map[String, Long] =
      java.nio.file.Files.walk(root).iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
        .toSeq.groupBy(p => root.relativize(p).subpath(0, 1).toString)
        .view.mapValues(_.map(Files.size).sum).toMap
    val pb = partBytes(frag)
    // target = half the largest partition -> that partition needs >= 2 files
    val target = pb.values.max / 2
    PartitionedSink.compactToTargetSize(spark, frag.toString,
      Seq("o_orderpriority"), target)
    val files = dataFiles(frag)
    // the byte target is approximate (converted to a row cap via observed
    // bytes/row), so allow one file of slack around the byte-derived budget
    val expected = pb.view.mapValues(b => math.max(1L, (b - 1) / target + 1)).toMap
    assert(files.keySet == pb.keySet, "partition set preserved")
    files.foreach { case (p, n) =>
      assert(n >= 1 && n <= expected(p) + 1, s"$p: $n files vs budget ${expected(p)}")
    }
    assert(files(pb.maxBy(_._2)._1) >= 2, s"largest partition must split: $files")
    assert(PartitionedSink.readBack(spark, frag.toString).count() == orders.count())
    // "one file no matter what": an unreachable target (and the overflow
    // edge near Long.MaxValue) collapses every partition to a single file
    PartitionedSink.compactToTargetSize(spark, frag.toString,
      Seq("o_orderpriority"), Long.MaxValue)
    assert(dataFiles(frag).values.forall(_ == 1))
    assert(PartitionedSink.readBack(spark, frag.toString).count() == orders.count())
  }

  test("in-place compaction: tree compacts onto itself, content identical") {
    val orders = graft.Tables(spark, sf0001, "orders")
    val tree = Files.createTempDirectory("graft_compact_inplace")
    PartitionedSink.write(orders.repartition(8), tree.toString,
      SinkConfig(ParquetFormat, Seq("o_orderpriority"), runtimeNullCheck = true))
    val before = dataFiles(tree)
    assert(before.values.max > 1, s"fixture must be fragmented: $before")
    val contentBefore = PartitionedSink.readBack(spark, tree.toString)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), sum("o_orderkey").as("s"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

    PartitionedSink.compactInPlace(spark, tree.toString, Seq("o_orderpriority"))

    val after = dataFiles(tree)
    assert(after.keySet == before.keySet, "partition set must be preserved")
    assert(after.values.forall(_ == 1), s"expected 1 file per partition: $after")
    // no staging or retired leftovers, and readers see identical content
    import scala.jdk.CollectionConverters._
    val leftovers = java.nio.file.Files.list(tree).iterator().asScala
      .map(_.getFileName.toString)
      .filter(n => n.startsWith("_compact_staging") || n.startsWith(".retired_"))
      .toSeq
    assert(leftovers.isEmpty, s"swap must clean up: $leftovers")
    val contentAfter = PartitionedSink.readBack(spark, tree.toString)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), sum("o_orderkey").as("s"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(contentAfter == contentBefore, "in-place compaction must not alter content")
    // idempotent: a second in-place pass is a no-op on layout and content
    PartitionedSink.compactInPlace(spark, tree.toString, Seq("o_orderpriority"))
    assert(dataFiles(tree) == after)
  }

  test("in-place compaction heals a crashed prior swap") {
    val orders = graft.Tables(spark, sf0001, "orders")
    val tree = Files.createTempDirectory("graft_compact_heal")
    PartitionedSink.write(orders.repartition(4), tree.toString,
      SinkConfig(ParquetFormat, Seq("o_orderpriority"), runtimeNullCheck = true))
    val total = orders.count()
    // simulate a crash between the two swap renames: one partition dir
    // retired but its replacement never landed
    val victim = dataFiles(tree).keys.head
    java.nio.file.Files.move(tree.resolve(victim), tree.resolve(s".retired_$victim"))
    PartitionedSink.compactInPlace(spark, tree.toString, Seq("o_orderpriority"))
    assert(dataFiles(tree).values.forall(_ == 1))
    assert(PartitionedSink.readBack(spark, tree.toString).count() == total,
      "healed tree must contain every row")
  }

  test("compaction with a file budget: salted split honors filesPerPartition") {
    val orders = graft.Tables(spark, sf0001, "orders")
    val frag = Files.createTempDirectory("graft_compact_in2")
    PartitionedSink.write(orders.repartition(8), frag.toString,
      SinkConfig(ParquetFormat, Seq("o_orderpriority"), runtimeNullCheck = true))
    PartitionedSink.compactInPlace(spark, frag.toString,
      Seq("o_orderpriority"), filesPerPartition = 2)
    val after = dataFiles(frag)
    assert(after.values.forall(n => n >= 1 && n <= 2), s"file budget: $after")
    assert(after.values.exists(_ == 2), s"the salt must split: $after")
    assert(PartitionedSink.readBack(spark, frag.toString).count() ==
      orders.count())
  }

  test("size-targeted compaction counts only visible bytes: leftovers change nothing") {
    import scala.jdk.CollectionConverters._
    val orders = graft.Tables(spark, sf0001, "orders")
    val clean = Files.createTempDirectory("graft_tsize_clean")
    PartitionedSink.write(orders.repartition(8), clean.toString,
      SinkConfig(ParquetFormat, Seq("o_orderpriority"), runtimeNullCheck = true))
    def copyTree(from: Path, to: Path): Unit =
      Files.walk(from).iterator().asScala.toSeq.foreach { p =>
        val dst = to.resolve(from.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(dst)
        else Files.copy(p, dst)
      }
    // a byte-identical twin carrying a crashed compaction's leftovers:
    // a full copy of the tree under _compact_staging/, and a retired copy
    // of one partition beside its live directory
    val dirty = Files.createTempDirectory("graft_tsize_dirty")
    copyTree(clean, dirty)
    dataFiles(clean).keys.foreach(d =>
      copyTree(clean.resolve(d), dirty.resolve(s"_compact_staging/$d")))
    val victim = dataFiles(clean).keys.head
    copyTree(clean.resolve(victim), dirty.resolve(s".retired_$victim"))
    val target = dataFiles(clean).keys.map(d =>
      Files.walk(clean.resolve(d)).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .map(Files.size).sum).max / 2
    Seq(clean, dirty).foreach(t => PartitionedSink.compactToTargetSize(
      spark, t.toString, Seq("o_orderpriority"), target))
    assert(dataFiles(clean).values.max >= 2, s"fixture must split: ${dataFiles(clean)}")
    assert(dataFiles(dirty) == dataFiles(clean))
    assert(PartitionedSink.readBack(spark, dirty.toString).count() == orders.count())
  }

  test("a __HIVE_DEFAULT_PARTITION__ directory compacts in place and keeps its rows") {
    import spark.implicits._
    val tree = Files.createTempDirectory("graft_compact_nullpart")
    val rows = (0L until 200L).map(i =>
      (i, if (i % 10 == 0) None else Some(i % 17), i % 5))
    // a null layout value routes its rows to the null bucket partition
    PartitionedSink.writeZOrdered(rows.toDF("id", "a", "b").repartition(4),
      tree.toString, "a", "b", nBuckets = 3)
    PartitionedSink.write(
      rows.take(50).toDF("id", "a", "b").withColumn("zbucket", lit(0L)),
      tree.toString, SinkConfig(ParquetFormat, Seq("zbucket")))
    val nullDir = "zbucket=__HIVE_DEFAULT_PARTITION__"
    assert(dataFiles(tree).contains(nullDir), s"fixture: ${dataFiles(tree)}")
    assert(dataFiles(tree).values.max > 1, s"fixture must be fragmented: ${dataFiles(tree)}")
    def content() = PartitionedSink.readBack(spark, tree.toString)
      .groupBy("zbucket").agg(count(lit(1)).as("n"), sum("id").as("s"))
      .collect().map(r => Option(r.getString(0)) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val before = content()
    assert(before(None)._1 == 20L, s"null bucket rows: $before")
    PartitionedSink.compactInPlace(spark, tree.toString, Seq("zbucket"))
    assert(dataFiles(tree).keySet.contains(nullDir))
    assert(dataFiles(tree).values.forall(_ == 1), s"${dataFiles(tree)}")
    assert(content() == before)
  }

  test("retention drop: exact partition scope, escaped values, idempotent, audited") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft_retention").toString
    // a partition value needing Hive escaping ('/' is rejected by the
    // writer, so use a space + colon — escaped as %3A in the dir name)
    val rows = Seq(
      (1L, "2024:old", "a"), (2L, "2024:old", "b"),
      (3L, "2025:new", "c"), (4L, "keep me", "d"))
      .toDF("id", "ptn", "payload")
    PartitionedSink.write(rows, out,
      SinkConfig(ParquetFormat, Seq("ptn"), Some("snappy"),
        runtimeNullCheck = true))
    val dropped = PartitionedSink.dropPartitionsWhere(spark, out,
      Seq("ptn"), _("ptn") == "2024:old")
    assert(dropped == Seq(Map("ptn" -> "2024:old")))
    val left = PartitionedSink.readBack(spark, out)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(left == Set(3L, 4L), "only the expired partition's rows gone")
    // idempotent: re-dropping an absent partition is a no-op
    assert(PartitionedSink.dropPartitionsWhere(spark, out,
      Seq("ptn"), _("ptn") == "2024:old").isEmpty)
    // predicate matching nothing drops nothing
    assert(PartitionedSink.dropPartitionsWhere(spark, out,
      Seq("ptn"), _ => false).isEmpty)
    assert(PartitionedSink.readBack(spark, out).count() == 2)
  }
}

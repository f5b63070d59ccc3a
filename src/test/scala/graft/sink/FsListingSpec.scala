package graft.sink

import java.net.URI
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec
import org.apache.hadoop.fs.{FileStatus, FileSystem, LocalFileSystem, LocatedFileStatus, Path, RawLocalFileSystem, RemoteIterator}
import org.apache.spark.sql.functions._

/** The engine's recursive listings: one `listStatus` per directory
  * ([[FsOps.walkFiles]]), never a `LocatedFileStatus` — whose constructor
  * reads each file's permission, a forked `ls -ld` on the local FS
  * without libhadoop. */
class FsListingSpec extends SparkSpec {

  private def write(f: FileSystem, p: Path, bytes: Int): Unit = {
    val out = f.create(p, true)
    try out.write(Array.fill[Byte](bytes)(1))
    finally out.close()
  }

  test("the tree walk lists what listFiles lists, under each caller's hidden-name rule") {
    val f = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val root = f.makeQualified(new Path(
      java.nio.file.Files.createTempDirectory("fs_walk").toString))
    // written through the checksummed FS, so every file gets a .crc sidecar
    Seq("a=1/b=x/part-0.parquet" -> 10, "a=1/b=y/part-1.parquet" -> 20,
      "a=1/b=x/_SUCCESS" -> 0, "a=1/b=y/.part-9.tmp" -> 5,
      "_src=s/part-2.parquet" -> 30, "_compact_staging/a=1/part-3.parquet" -> 40,
      ".retired_a=2/part-4.parquet" -> 50, "part-5.parquet" -> 60,
      "_metadata" -> 7, ".hidden" -> 8).foreach { case (rel, n) =>
      write(f, new Path(root, rel), n)
    }
    Seq("a=3", "a=4/b=z").foreach(d => f.mkdirs(new Path(root, d)))
    assert(new java.io.File(new Path(root, "a=1/b=x/.part-0.parquet.crc")
      .toUri.getPath).isFile, "the checksummed FS wrote its sidecar")

    val prefix = root.toUri.getPath + "/"
    def rel(s: FileStatus) = s.getPath.toUri.getPath.stripPrefix(prefix)
    val walked = FsOps.walkFiles(f, root).toSeq
    val located = {
      val it = f.listFiles(root, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).toSeq
    }
    // same files, same order, same mtimes and lengths as listFiles
    assert(walked.map(s => (rel(s), s.getModificationTime, s.getLen)) ==
      located.map(s => (rel(s), s.getModificationTime, s.getLen)))
    assert(!walked.exists(_.getPath.getName.endsWith(".crc")))
    assert(walked.forall(s => !s.isInstanceOf[LocatedFileStatus]))

    // Snapshots' rule: `_`/`.`-led FILE names drop, directories don't matter
    val data = Snapshots.listDataFilesWithMtime(f, root)
    assert(data.map(_._1).toSet == Set("a=1/b=x/part-0.parquet",
      "a=1/b=y/part-1.parquet", "_src=s/part-2.parquet",
      "_compact_staging/a=1/part-3.parquet", ".retired_a=2/part-4.parquet",
      "part-5.parquet"))
    data.foreach { case (r, mtime, len) =>
      val st = f.getFileStatus(new Path(root, r))
      assert((mtime, len) == ((st.getModificationTime, st.getLen)), r)
    }
    // a reader's rule: any hidden segment hides, a `_field=` dir stays
    assert(FsOps.visibleFiles(f, root).map(rel).toSet == Set(
      "a=1/b=x/part-0.parquet", "a=1/b=y/part-1.parquet",
      "_src=s/part-2.parquet", "part-5.parquet"))

    // empty trees: the emptied-partition probe sees no file
    assert(!FsOps.walkFiles(f, new Path(root, "a=3")).hasNext)
    assert(!FsOps.walkFiles(f, new Path(root, "a=4")).hasNext)
    assert(Snapshots.listDataFilesWithMtime(f, new Path(root, "a=4")).isEmpty)
    intercept[java.io.FileNotFoundException] {
      FsOps.walkFiles(f, new Path(root, "missing"))
    }
  }

  test("no engine listing builds a LocatedFileStatus: snapshot write, merge-on-read, maintain, plain-tree compaction") {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.nolocated.impl", classOf[NoLocatedFs].getName)
    NoLocatedFs.calls.set(0)
    def under(name: String) = "nolocated://" +
      java.nio.file.Files.createTempDirectory(name).toString

    val root = under("nolocated_snap")
    val rows = spark.range(0, 60).select(col("id").as("k"),
      (col("id") % 3).cast("string").as("p"), (col("id") * 1.5).as("v"))
    // staging, bloom-sidecar and stats listings
    Snapshots.write(rows.repartition(2), root, Seq("p"),
      statsColumns = Seq("k"), bloomColumns = Seq("k"))
    Snapshots.write(rows.filter(col("k") < 6).withColumn("k", col("k") + 100)
      .coalesce(1), root, Seq("p"))
    // the delete-key staging listing
    Snapshots.mergeDeltas(spark, root,
      Seq((1L, "1", 0.0, true), (2L, "2", 9.0, false))
        .toDF("k", "p", "v", "__del").coalesce(1),
      Seq("p"), Seq("k"), deleteCol = Some("__del"))
    // a whole partition's files die with the expired snapshots, and an
    // orphan sits in a partition of its own: expire and vacuum each empty
    // a partition directory
    Snapshots.deleteWhere(spark, root, Seq("p"), col("p") === "0")
    val (f, qroot) = FsOps.fs(spark, root)
    write(f, new Path(qroot, "data/p=9/part-orphan.parquet"), 4)
    Thread.sleep(20)
    Snapshots.maintain(spark, root, Seq("p"),
      Snapshots.MaintenancePolicy(keepLast = 1, vacuumGraceMs = 0))
    assert(!f.exists(new Path(qroot, "data/p=0")))
    assert(!f.exists(new Path(qroot, "data/p=9")))
    assert(Snapshots.read(spark, root).count() == 60 - 20 + 4 - 1)

    val tree = under("nolocated_plain")
    PartitionedSink.write(rows.repartition(4), tree,
      SinkConfig(ParquetFormat, Seq("p"), runtimeNullCheck = true))
    PartitionedSink.compactToTargetSize(spark, tree, Seq("p"), 1L << 20)
    assert(spark.sql(s"CALL graft_compact('$tree', 'p')").head().getInt(1) == 3)
    assert(PartitionedSink.readBack(spark, tree).count() == 60)
    assert(NoLocatedFs.calls.get == 0)
  }
}

/** The local FS under its own `nolocated` scheme. */
class NoLocatedRawFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("nolocated:///")
  override def getScheme: String = "nolocated"
}

/** The checksummed local FS under the `nolocated` scheme, whose
  * `LocatedFileStatus` listings fail (and are counted, in case a caller
  * swallows the failure). */
class NoLocatedFs extends LocalFileSystem(new NoLocatedRawFs) {
  override def getScheme: String = "nolocated"
  private def refuse(f: Path) = {
    NoLocatedFs.calls.incrementAndGet()
    throw new UnsupportedOperationException(
      s"LocatedFileStatus listing of $f: each status forks a permission read")
  }
  override def listFiles(
      f: Path, recursive: Boolean): RemoteIterator[LocatedFileStatus] = refuse(f)
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] =
    refuse(f)
}

object NoLocatedFs {
  val calls = new AtomicInteger
}

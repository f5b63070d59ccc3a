package graft.sink

import java.util.ConcurrentModificationException

import scala.util.Try

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Every snapshot operation reads the `MANIFEST` pointer once and
  * publishes against the head it read. A concurrent writer landing after
  * that read must surface as the commit race (rebased or refused), never
  * as a publish whose removes were computed on one head and rendered onto
  * another. [[HookedFs]] lands the writer inside the operation's 2nd
  * pointer open, and counts the opens before the publish. */
class ResolveOnceSpec extends SparkSpec
    with org.scalatest.BeforeAndAfterEach {

  override def afterEach(): Unit =
    try super.afterEach()
    finally {
      Snapshots.prePublishInterleave = () => ()
      HookedFs.reset()
    }

  private def rows(ks: Long*): DataFrame = {
    import spark.implicits._
    ks.map(k => (k, "a", "x")).toDF("k", "p", "q").coalesce(1)
  }

  /** A merge-on-read batch deleting `ks`. */
  private def deletes(ks: Long*): DataFrame = {
    import spark.implicits._
    ks.map(k => (k, "a", "x", true)).toDF("k", "p", "q", "__del")
  }

  private def keys(root: String): Set[Long] =
    Snapshots.read(spark, root).select("k").collect().map(_.getLong(0)).toSet

  /** Run `op` with a concurrent writer landing inside its 2nd pointer
    * open; the operation may rebase or refuse with the race. */
  private def raced(winner: => Unit)(op: => Any): Unit = {
    HookedFs.onManifestOpen(2)(winner)
    Try(op).failed.foreach(e =>
      assert(e.isInstanceOf[ConcurrentModificationException], e))
    assert(!HookedFs.armed, "the concurrent writer never landed")
  }

  test("compact against an appending winner: the winner's key survives") {
    val root = HookedFs.tempRoot(spark, "win_compact")
    Snapshots.write(rows(1, 2), root, Seq("p"))
    Snapshots.write(rows(3, 4), root, Seq("p"))
    raced(Snapshots.write(rows(5), root, Seq("p"))) {
      Snapshots.compact(spark, root, Seq("p"))
    }
    assert(keys(root) == Set(1L, 2L, 3L, 4L, 5L))
  }

  test("foldDeletes against a merge-on-read winner: the key stays deleted") {
    val root = HookedFs.tempRoot(spark, "win_fold")
    Snapshots.write(rows(1, 2, 3), root, Seq("p"))
    Snapshots.mergeDeltas(spark, root, deletes(1), Seq("p"), Seq("k"),
      deleteCol = Some("__del"))
    raced(Snapshots.mergeDeltas(spark, root, deletes(2), Seq("p"), Seq("k"),
      deleteCol = Some("__del"))) {
      Snapshots.foldDeletes(spark, root, Seq("p"))
    }
    assert(keys(root) == Set(3L))
  }

  test("migrateSpec against a merge-on-read winner: the key stays deleted") {
    val root = HookedFs.tempRoot(spark, "win_migrate")
    Snapshots.write(rows(1, 2, 3), root, Seq("p"))
    Snapshots.evolvePartitioning(spark, root, Seq("q"))
    raced(Snapshots.mergeDeltas(spark, root, deletes(2), Seq("q"), Seq("k"),
      deleteCol = Some("__del"))) {
      Snapshots.migrateSpec(spark, root, Seq("q"))
    }
    assert(keys(root) == Set(1L, 3L))
  }

  test("one pointer read per operation, up to its publish") {
    val root = HookedFs.tempRoot(spark, "one_read")
    Snapshots.write(rows(1, 2), root, Seq("p"), statsColumns = Seq("k"))
    Snapshots.write(rows(3, 4), root, Seq("p"))
    def pointerReads(op: => Any): Int = {
      var seen = -1
      HookedFs.reset()
      Snapshots.prePublishInterleave = () => seen = HookedFs.manifestOpens.get
      op
      assert(seen >= 0, "the operation never published")
      seen
    }
    assert(pointerReads(Snapshots.compact(spark, root, Seq("p"))) == 1)
    assert(pointerReads(Snapshots.mergeDeltas(spark, root, deletes(1),
      Seq("p"), Seq("k"), deleteCol = Some("__del"))) == 1)
    assert(pointerReads(Snapshots.foldDeletes(spark, root, Seq("p"))) == 1)
    assert(pointerReads(Snapshots.updateWhere(spark, root, Seq("p"),
      col("k") === 2, Seq("q" -> lit("y")))) == 1)
    Snapshots.evolvePartitioning(spark, root, Seq("q"))
    assert(pointerReads(Snapshots.migrateSpec(spark, root, Seq("q"))) == 1)
    assert(keys(root) == Set(2L, 3L, 4L))
  }
}

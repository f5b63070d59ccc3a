package graft.sink

import java.net.URI
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession

/** The local FS under its own `hooked` scheme. */
class HookedRawFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create(s"${HookedFs.Scheme}:///")
  override def getScheme: String = HookedFs.Scheme
}

/** The checksummed local FS under the `hooked` scheme, observing the
  * calls a snapshot operation makes: it counts opens of the `MANIFEST`
  * pointer (and can run a one-shot hook on the k-th, to land a concurrent
  * writer at an exact point of an operation), and counts the creates and
  * mkdirs that stage anything. Driver and executor threads share one JVM
  * in local mode, so the counts cover Spark's own writes too. */
class HookedFs extends LocalFileSystem(new HookedRawFs) {
  override def getScheme: String = HookedFs.Scheme

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    if (f.getName == "MANIFEST") HookedFs.manifestOpened()
    super.open(f, bufferSize)
  }

  override def create(
      f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    HookedFs.mutations.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }

  override def mkdirs(f: Path): Boolean = {
    HookedFs.mutations.incrementAndGet()
    super.mkdirs(f)
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    HookedFs.mutations.incrementAndGet()
    super.mkdirs(f, permission)
  }
}

object HookedFs {
  val Scheme = "hooked"

  /** `MANIFEST` opens since the last [[reset]] or [[onManifestOpen]]. */
  val manifestOpens = new AtomicInteger
  /** Creates and mkdirs since the last [[reset]]. */
  val mutations = new AtomicInteger

  private var hook: Option[(Int, () => Unit)] = None

  /** `path` seen through the `hooked` scheme, registered on the session's
    * Hadoop configuration: the same files, observed by this FS. */
  def view(spark: SparkSession, path: String): String = {
    spark.sparkContext.hadoopConfiguration
      .set(s"fs.$Scheme.impl", classOf[HookedFs].getName)
    s"$Scheme://${new Path(path).toUri.getPath}"
  }

  /** A fresh temp directory under the `hooked` scheme. */
  def tempRoot(spark: SparkSession, prefix: String): String =
    view(spark, java.nio.file.Files.createTempDirectory(prefix).toString)

  def reset(): Unit = synchronized {
    manifestOpens.set(0)
    mutations.set(0)
    hook = None
  }

  /** Run `body` once, inside the `k`-th `MANIFEST` open from now — before
    * that open reads, so the opener sees what `body` published. */
  def onManifestOpen(k: Int)(body: => Unit): Unit = synchronized {
    manifestOpens.set(0)
    hook = Some((k, () => body))
  }

  /** Whether an armed hook is still waiting for its open. */
  def armed: Boolean = synchronized(hook.isDefined)

  private def manifestOpened(): Unit = {
    // disarmed before it runs: the hook's own pointer reads pass through
    val due = synchronized {
      val n = manifestOpens.incrementAndGet()
      val body = hook.filter(_._1 == n).map(_._2)
      if (body.isDefined) hook = None
      body
    }
    due.foreach(_())
  }
}

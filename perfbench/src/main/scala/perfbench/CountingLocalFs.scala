package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local checksummed FileSystem, unchanged except that it counts the
  * calls made through it: opens, listings and status probes as read ops;
  * creates, renames, deletes and mkdirs as write ops. It also notes which
  * data files (visible `.parquet`, `.orc`, `.avro` files) were opened.
  * Hadoop's own statistics carry bytes only for the local scheme.
  * Installed through the public `fs.file.impl` setting. */
class CountingLocalFs extends LocalFileSystem {
  import CountingLocalFs._
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    readOps.incrementAndGet()
    val n = f.getName
    if (!n.startsWith(".") && !n.startsWith("_") &&
      (n.endsWith(".parquet") || n.endsWith(".orc") || n.endsWith(".avro")))
      dataFilesOpened.add(f.toUri.getPath)
    super.open(f, bufferSize)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    readOps.incrementAndGet(); super.listStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    readOps.incrementAndGet(); super.getFileStatus(f)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    writeOps.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    writeOps.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    writeOps.incrementAndGet(); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    writeOps.incrementAndGet(); super.mkdirs(f, permission)
  }
}

object CountingLocalFs {
  val readOps = new AtomicLong
  val writeOps = new AtomicLong
  /** distinct data files opened since the last clear */
  val dataFilesOpened: java.util.Set[String] = java.util.concurrent.ConcurrentHashMap.newKeySet()
}

package graft.sink

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Hadoop-FileSystem helpers for staged-write → rename-swap maintenance
  * operations ([[PartitionedSink.compactInPlace]],
  * `Similarity.rebuildIvfIndex`). Everything goes through the Hadoop API —
  * `java.io.File`/`java.nio` renames only work on a local/posix mount,
  * while these paths accept any Hadoop filesystem (HDFS, object stores). */
private[graft] object FsOps {

  def fs(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (f, f.makeQualified(p))
  }

  /** The hidden-entry rule of Spark's file index (Hadoop's `_SUCCESS`/
    * `.crc` convention): a name, or a path relative to a tree root, is
    * hidden when ANY segment starts with `.`, or with `_` and is no
    * `field=value` directory — so `_compact_staging/` and `.retired_*`
    * leftovers hide their subtree while a `_src=a` partition stays. */
  def isHidden(rel: String): Boolean = rel.split('/').exists(seg =>
    seg.startsWith(".") || (seg.startsWith("_") && !seg.contains("=")))

  /** Every file under `root` (`root` itself when it is a file), depth
    * first in listing order: what `listFiles(root, true)` returns, from
    * one `listStatus` per directory, walked lazily. `listFiles` wraps each
    * file in a `LocatedFileStatus`, whose constructor reads the file's
    * permission, and without libhadoop the local FS reads a permission by
    * starting an `ls -ld` process. A plain status never reads it. A
    * missing `root` throws `FileNotFoundException`, as `listFiles` does;
    * callers apply their own hidden-name rule. */
  def walkFiles(f: FileSystem, root: Path): Iterator[FileStatus] =
    f.listStatus(root).iterator.flatMap(s =>
      if (s.isFile) Iterator.single(s) else walkFiles(f, s.getPath))

  /** The data files a reader of the tree at `root` sees (one walk). */
  def visibleFiles(f: FileSystem, root: Path): Iterator[FileStatus] = {
    val prefix = root.toString.stripSuffix("/") + "/"
    walkFiles(f, root).filter(s =>
      !isHidden(s.getPath.toString.stripPrefix(prefix)))
  }

  def deleteIfExists(f: FileSystem, p: Path): Unit = { f.delete(p, true): Unit }

  def renameOrFail(f: FileSystem, src: Path, dst: Path): Unit =
    if (!f.rename(src, dst))
      throw new java.io.IOException(s"rename $src -> $dst failed")

  private val RetiredPrefix = ".retired_"

  private def retiredOf(dst: Path) =
    new Path(dst.getParent, RetiredPrefix + dst.getName)

  /** Settle a crashed prior [[swapIn]] of `dst`: its retired copy is
    * restored (crash between the two renames: `dst` missing) or dropped
    * (the swap completed, its cleanup didn't). */
  def healSwap(f: FileSystem, dst: Path): Unit = {
    val retired = retiredOf(dst)
    if (f.exists(retired)) {
      if (!f.exists(dst)) renameOrFail(f, retired, dst)
      else deleteIfExists(f, retired)
    }
  }

  /** [[healSwap]] every swapped entry directly under `dir`. */
  def healSwaps(f: FileSystem, dir: Path): Unit =
    f.listStatus(dir).map(_.getPath.getName).filter(_.startsWith(RetiredPrefix))
      .foreach(n => healSwap(f, new Path(dir, n.stripPrefix(RetiredPrefix))))

  /** Swap `incoming` into `dst`: retire the current `dst` (if any) to a
    * dot-hidden sibling, rename `incoming` in, drop the retired copy.
    * Two metadata ops — the reader-visible window is rename-sized. A
    * leftover retired dir from a crashed prior swap is healed first. */
  def swapIn(f: FileSystem, incoming: Path, dst: Path): Unit = {
    healSwap(f, dst)
    val retired = retiredOf(dst)
    if (f.exists(dst)) renameOrFail(f, dst, retired)
    renameOrFail(f, incoming, dst)
    deleteIfExists(f, retired)
  }

  // ------------------------- versioned-generation (manifest-pointer) layout
  //
  // `swapIn` above is rename-sized on any FS with directory rename — but on
  // object stores a "rename" is a key-by-key copy, so the two-rename window
  // becomes copy-sized. The alternative layout: each published state lives
  // under an immutable `v<N>/` generation directory and a tiny `MANIFEST`
  // file names the live one. Publishing = one small-file overwrite (a
  // single PUT — atomic on object stores, where it matters most), readers
  // resolve the manifest first, and the immediately-previous generation is
  // retained so a reader that resolved just before the flip finishes its
  // scan against a complete, immutable tree.

  def readManifest(f: FileSystem, root: Path): Option[String] = {
    val m = new Path(root, "MANIFEST")
    // on a checksummed local FS `atomicWrite`'s overwrite-rename moves the
    // file, then its .crc: a read between the two steps fails the checksum
    // of complete content, so it is retried (real corruption still throws
    // after the last attempt)
    def read(attempt: Int): Option[String] =
      if (!f.exists(m)) None
      else try {
        val in = f.open(m)
        try Some(new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8).trim).filter(_.nonEmpty)
        finally in.close()
      } catch {
        case _: org.apache.hadoop.fs.ChecksumException if attempt < 5 =>
          Thread.sleep(10L * attempt)
          read(attempt + 1)
      }
    read(1)
  }

  /** Replace `target`'s content: write to a dot-hidden sibling, then
    * rename it onto `target` through `FileContext` with `OVERWRITE` — a
    * plain `create(overwrite=true)` would TRUNCATE the live file first,
    * and a reader in that window would see a partial or empty file. The
    * rename is atomic only where the filesystem overrides overwrite-rename
    * (HDFS). The local FS (Hadoop 3.4) takes `AbstractFileSystem`'s
    * default: it deletes `target`, then renames, so a reader between the
    * two steps finds no `target` at all (open in ROADMAP item 4); it also
    * probes both paths and their `.crc` with `getFileLinkStatus`, a
    * `readlink` process each without libhadoop. Filesystems without
    * FileContext support fall back to the direct create — on object
    * stores a small single PUT is atomic anyway, which is the case the
    * versioned layout targets. */
  def atomicWrite(f: FileSystem, target: Path, content: String): Unit = {
    val bytes = content.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val tmp = new Path(target.getParent, s".${target.getName}.tmp")
    val out = f.create(tmp, true)
    try out.write(bytes)
    finally out.close()
    try {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        target.toUri, f.getConf)
      fc.rename(tmp, target, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch {
      case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
        val direct = f.create(target, true)
        try direct.write(bytes)
        finally direct.close()
        deleteIfExists(f, tmp)
    }
  }

  /** Flip the MANIFEST pointer atomically (see [[atomicWrite]]). */
  def writeManifest(f: FileSystem, root: Path, version: String): Unit =
    atomicWrite(f, new Path(root, "MANIFEST"), version)

  /** Publish `staging` as the next generation under `root`: rename it to
    * `v<N+1>`, flip the MANIFEST pointer (the one atomic step), and drop
    * every generation older than the PREVIOUS one. A crash before the
    * manifest write leaves an unreferenced `v<N+1>` dir (garbage, swept by
    * the next publish) and the live pointer untouched — there is no state
    * in which readers see a partial or mixed tree. */
  private val VersionRe = "^v(\\d+)$".r

  def publishGeneration(f: FileSystem, root: Path, staging: Path): String = {
    val cur = readManifest(f, root)
    // a malformed manifest must fail with an actionable message, not a
    // NumberFormatException that blocks every future publish opaquely
    val curN = cur.map {
      case VersionRe(n) => n.toInt
      case other => throw new IllegalStateException(
        s"corrupt MANIFEST at $root: expected v<N>, got '$other' — restore " +
          "it to the live generation's name (the newest complete v*/ dir)")
    }
    val next = s"v${curN.getOrElse(0) + 1}"
    deleteIfExists(f, new Path(root, next)) // crashed prior publish's orphan
    renameOrFail(f, staging, new Path(root, next))
    writeManifest(f, root, next)
    val keep = Set(next) ++ cur
    Option(f.listStatus(root)).getOrElse(Array.empty)
      .filter(s => s.isDirectory && s.getPath.getName.matches("v\\d+")
        && !keep(s.getPath.getName))
      .foreach(s => deleteIfExists(f, s.getPath))
    next
  }
}

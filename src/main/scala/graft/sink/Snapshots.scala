package graft.sink

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/**
 * Snapshot / time-travel layer over a partitioned dataset — the
 * "index is the state" posture applied to the DATASET ITSELF (the
 * IVF / BM25 / dup-graph discipline, [[graft.ops.Similarity.writeIvfIndex]]):
 * data files are immutable once landed, and each write publishes a new
 * SNAPSHOT — a small manifest naming exactly the live files — behind the
 * same atomic `MANIFEST` pointer flip the versioned index layout uses
 * ([[FsOps.writeManifest]]). Reads resolve a snapshot first and scan only
 * its files, so:
 *
 *  - an APPEND adds files and a manifest; nothing is rewritten,
 *  - an OVERWRITE-PARTITIONS write replaces partitions LOGICALLY — the
 *    new manifest drops the replaced partitions' files, but the bytes
 *    stay until retention expires the snapshots referencing them,
 *  - TIME TRAVEL is "read an older manifest" — metadata cost only,
 *  - concurrent readers never see a partial state: a reader that
 *    resolved `s<N>` keeps scanning `s<N>`'s immutable files while
 *    `s<N+1>` publishes.
 *
 * 100 TB shape — the two costs that matter and how each stays bounded:
 *
 *  - '''Manifest write cost is O(change), not O(live files)''': each
 *    snapshot is a DELTA — `parent=<id>` plus its `add=`/`remove=`
 *    lines — so a micro-batch append writes a manifest proportional to
 *    the BATCH. Resolution walks the parent chain; every
 *    [[RebaseEvery]]-th snapshot is written as a rebased FULL manifest
 *    so chains stay ≤ that constant (the Iceberg manifest-list
 *    argument). Without this, a 100 TB dataset under per-minute appends
 *    rewrites its entire file inventory every minute.
 *  - '''Read planning is pruned twice''': partition pruning (the file
 *    listing is handed to the scan with `basePath`, so partition
 *    directories become partition COLUMNS and planning-time pruning
 *    applies), and FILE-LEVEL DATA SKIPPING — manifests carry per-file
 *    min/max for declared `statsColumns`, and [[read]] drops files whose
 *    stat range cannot intersect a [[StatRange]] filter before the scan
 *    ever sees them. This is what makes a z-order/range-clustered layout
 *    ([[PartitionedSink.writeZOrdered]]) pay off at the FILE level.
 *
 * Layout under `root`:
 * {{{
 *   data/<field>=<value>/.../part-*.<ext>     immutable data files
 *   snapshots/s<N>                            one text manifest per snapshot
 *   MANIFEST                                  current snapshot name, e.g. "s3"
 * }}}
 *
 * Manifest format (v2, `graftsnap=2` header): `key=value` lines —
 * `mode`, `schema` (Spark StructType JSON — the dataset's recorded read
 * contract), `format` (parquet/orc/avro — fixed at dataset creation),
 * `codec`, `statscols`, `batch` (stream replay tag), `parent` (delta
 * chaining), then `add=`/`remove=` lines (delta) or `file=` lines
 * (full). File lines carry optional per-column min/max stats after a
 * tab. v1 manifests (positional: mode, schema, bare paths) still parse.
 *
 * Writes are gated by [[graft.schema.SchemaEvolution]] against the
 * recorded schema — safe widening updates the contract, breakage fails
 * loudly with nothing published. Crash safety: a write that died between
 * its snapshot file and the pointer flip leaves an orphan `s<N+1>` that
 * the next write REPLACES (and [[vacuum]] reclaims) — it can never block
 * the dataset or be mistaken for the newest snapshot ([[history]],
 * [[expire]] and [[vacuum]] only consider ids ≤ the committed pointer).
 *
 * Same single-WRITER discipline as the rest of the sink maintenance
 * surface ([[PartitionedSink.compactInPlace]]): writes and expiry are one
 * maintainer's job; readers are unrestricted.
 */
object Snapshots {

  sealed abstract class SnapshotMode(val name: String)
  case object SnapAppend extends SnapshotMode("append")
  case object SnapOverwritePartitions extends SnapshotMode("overwrite_partitions")

  /** File-skipping filter for [[read]]: keep only files whose recorded
    * [min,max] for `column` can intersect [lower,upper] (either bound
    * optional). Files without recorded stats are conservatively kept —
    * pruning never changes results, only the file list. Bounds compare
    * type-aware per the recorded schema (numerics numerically; strings
    * and dates by their Spark string form). TimestampType RANGES never
    * prune: the recorded strings are writer-session-tz renderings no
    * other session can safely compare — timestamp EQUALITY still prunes
    * through declared bloomColumns (internal-value hashing), and
    * nullness prunes are count-based and always on. The rule lives in
    * `survives` alone (every pruned lane plans through `planFiles`), so
    * producers pass timestamp ranges through unfiltered; its twin for two
    * recorded ranges lives in `provablyDisjoint`.
    *
    * `nullness = Some(true)` selects rows where the column IS NULL
    * (bounds must be empty — null matches no range): files whose recorded
    * null count is 0 are skipped. `Some(false)` (IS NOT NULL) skips files
    * whose every row is null for the column. Both degrade conservatively
    * when counts weren't recorded (pre-counting manifests).
    *
    * `anyOf = Some(vs)` is a DISJUNCTIVE equality set — `column IN (vs)`,
    * the batched point-lookup shape: a file survives when ANY value can
    * lie inside its recorded [min,max] (and, on declared bloomColumns,
    * when any value's Bloom probe says "maybe"); bounds must be empty.
    * Derivation sites cap the set at [[MaxInPruneValues]] and degrade to
    * no-prune past it — never wrong, only less pruning.
    *
    * `exactEq` carries the INTERNAL (Catalyst) value + type of each
    * equality bound when the producer knows it — one element for a plain
    * equality, one per `anyOf` value. The Bloom probe prefers these over
    * re-deriving internal values from the rendered bound: a session-tz
    * STRING rendering of a DST-ambiguous local time can re-parse to a
    * different instant than the one the write side hashed, and a wrong
    * "definite no" would wrongly prune a file holding the match. Bounds
    * without it still probe exactly when the value is a typed object
    * (Timestamp, Long, …); string-sourced timestamp equalities without it
    * skip the Bloom probe (conservative). */
  case class StatRange(
      column: String, lower: Option[Any] = None, upper: Option[Any] = None,
      nullness: Option[Boolean] = None,
      anyOf: Option[Seq[Any]] = None,
      exactEq: Option[Seq[(Any, DataType)]] = None)

  /** Largest `IN`-list a derivation site converts into a [[StatRange]]
    * disjunction ([[StatRange.anyOf]]): each value costs two bound hashes
    * plus a per-file compare, so an unbounded list would turn pruning
    * into the scan it replaces. Longer lists derive nothing — the read
    * stays correct, it just skips less. */
  val MaxInPruneValues: Int = 128

  /** Delta chains rebase into a full manifest at this depth: manifest
    * WRITE cost stays O(batch) (amortized O(live/RebaseEvery)), manifest
    * READ cost stays ≤ this many small file opens. */
  val RebaseEvery: Int = 8

  /** How many stream replay tags each manifest carries forward (the
    * Delta-Lake per-appId-txn idea, collapsed to a rolling window): a
    * re-delivered micro-batch must be recognized even when maintenance
    * publishes (compact/fold/expire — which the streaming docs tell you
    * to schedule) landed between its snapshot and its replay, so the
    * guard matches against the last [[MaxRecentTags]] tags, not just the
    * head's. A redelivery can only be the most recent uncommitted batch,
    * so the window needs to cover one maintain() cycle plus interleaved
    * batches — 64 is generous at ~25 bytes/tag. */
  val MaxRecentTags: Int = 64

  /** [[vacuum]]'s default grace window: unreferenced files younger than
    * this survive, so an in-flight writer's staged-but-not-yet-published
    * files are never swept out from under it — defense in depth on top of
    * the single-maintainer contract (the failure mode is silent data
    * loss, so the guard is on by default). */
  val DefaultVacuumGraceMs: Long = 10L * 60L * 1000L

  private val SnapRe = "^s(\\d+)$".r

  private def snapshotsDir(root: Path) = new Path(root, "snapshots")
  private def dataDir(root: Path) = new Path(root, "data")
  private def deletesDir(root: Path) = new Path(root, "deletes")
  private def bloomsDir(root: Path) = new Path(root, "blooms")

  private def parentDirOf(rel: String): String = {
    val i = rel.lastIndexOf('/')
    if (i < 0) "" else rel.substring(0, i)
  }

  /** The partition-column signature a data file was WRITTEN under, parsed
    * from its own `name=value` directory segments — the per-file record
    * that makes partition-spec evolution metadata-free: no era tag is
    * stored because the path already is one. */
  private def sigOf(rel: String): Seq[String] =
    rel.split('/').dropRight(1).toSeq.map { seg =>
      val i = seg.indexOf('=')
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName(if (i < 0) seg else seg.substring(0, i))
    }

  // ------------------------------------------------------ manifest model

  /** One live data file with its optional per-column (min, max) stats —
    * values in Spark cast-to-string form; `None` = the file's every value
    * for that column is null. `seq` is the snapshot id the file was ADDED
    * at — the merge-on-read sequencing token: an equality-delete file
    * suppresses only rows in data files with a STRICTLY OLDER seq, so a
    * merge batch's own upserts (same snapshot) and any later re-insert of
    * a deleted key are never suppressed. Entries that predate seq
    * recording carry 0 (every delete applies — correct: deletes are
    * always newer than a pre-MoR file). */
  /** `rows` is the file's row count, `nulls` its per-stat-column null
    * counts — both recorded at write from the same staging pass that
    * computes min/max, so `count(*)`-shaped reads ([[snapshotLog]]) and
    * `IS [NOT] NULL` pruning answer from metadata instead of scanning
    * footers. -1 / absent = unrecorded (pre-counting manifests) —
    * consumers degrade conservatively. */
  /** `bloomRef` names the batch sidecar (under `blooms/`) holding this
    * file's per-bloom-column filters — absent when the dataset declares
    * no bloomColumns or the file predates them. */
  private case class FileEntry(
      rel: String, stats: Map[String, (Option[String], Option[String])],
      seq: Int = 0, rows: Long = -1L, nulls: Map[String, Long] = Map.empty,
      bytes: Long = -1L, bloomRef: Option[String] = None)

  /** One live EQUALITY-DELETE file (merge-on-read): rows of `keyCols`
    * values whose matching data rows are suppressed at read in every data
    * file with seq < this entry's `seq`. `stats` records the delete
    * batch's per-key-column min/max so reads and [[foldDeletes]] can skip
    * data files whose key range provably cannot intersect. Lives under
    * `deletes/` (rel to that dir), in the dataset's format. */
  private case class DeleteEntry(
      rel: String, seq: Int, keyCols: Seq[String],
      stats: Map[String, (Option[String], Option[String])],
      bytes: Long = -1L)

  /** Dataset-level write metadata recorded in every manifest. `schema` is
    * absent only where the state it describes has none — a legacy (v1)
    * head, or a rollback to one: readers then infer from the files. */
  /** `ts` is the wall-clock publish instant (epoch millis) — recorded in
    * the manifest so [[snapshotAt]]/[[readAt]] resolve "the table as of
    * 9am" without trusting file mtimes (expire's rebase-in-place rewrites
    * old manifests; their RECORDED ts is carried verbatim). */
  /** `renames` is the dataset's COLUMN-MAPPING LEDGER — one entry per
    * RENAME COLUMN (`(snapshotId, from, to)`) or DROP COLUMN
    * (`(snapshotId, name, "")`) event, re-rendered in FULL by every
    * manifest (the constraints discipline, bytes are trivial): the
    * requested manifest alone answers "what physical column does
    * contract column c have in a file of seq s" — walk the events
    * newest-first, mapping `to → from` for every event NEWER than the
    * file (the Iceberg field-id idea at parquet-name granularity, no
    * file is ever rewritten). Names a rename/drop RETIRES can never
    * re-enter the contract (guarded at ADD COLUMN, rename, and the
    * write-path widening gate) — an old file's physical column would
    * otherwise resurrect its bytes into an unrelated new column. */
  private case class SnapMeta(
      mode: String, schema: Option[StructType], format: String,
      codec: Option[String], statsCols: Seq[String], batchTag: Option[String],
      partitionCols: Seq[String], ts: Option[Long] = None,
      recentTags: Seq[String] = Seq.empty,
      bloomCols: Seq[String] = Seq.empty,
      constraints: Seq[(String, String)] = Seq.empty,
      renames: Seq[(Int, String, String)] = Seq.empty)

  /** One manifest as stored: a FULL file listing (`full` defined) or a
    * DELTA against `parent` (adds/removes). Delete-file lines ride the
    * same shapes (`dfile=` in full manifests, `dadd=`/`dremove=` in
    * deltas). */
  private case class RawManifest(
      id: Int, mode: String, schema: Option[StructType], format: String,
      codec: Option[String], statsCols: Seq[String], batchTag: Option[String],
      partitionCols: Seq[String], parent: Option[Int], adds: Seq[FileEntry],
      removes: Seq[String], full: Option[Seq[FileEntry]],
      dAdds: Seq[DeleteEntry], dRemoves: Seq[String],
      dFull: Option[Seq[DeleteEntry]], ts: Option[Long],
      recentTags: Seq[String] = Seq.empty,
      bloomCols: Seq[String] = Seq.empty,
      constraints: Seq[(String, String)] = Seq.empty,
      renames: Seq[(Int, String, String)] = Seq.empty) {
    /** The rolling replay-tag window this manifest represents: manifests
      * predating `rtags=` recording carry only their own tag. */
    def effectiveRecentTags: Seq[String] =
      if (recentTags.nonEmpty) recentTags else batchTag.toSeq
  }

  /** A snapshot with its delta chain applied: the complete live file set
    * (plus live equality-delete files) and the requested manifest's
    * metadata. */
  private case class Resolved(
      id: Int, mode: String, schema: Option[StructType], format: String,
      codec: Option[String], statsCols: Seq[String], batchTag: Option[String],
      partitionCols: Seq[String], files: Seq[FileEntry],
      deletes: Seq[DeleteEntry], chainDepth: Int, ts: Option[Long],
      recentTags: Seq[String] = Seq.empty,
      bloomCols: Seq[String] = Seq.empty,
      constraints: Seq[(String, String)] = Seq.empty,
      renames: Seq[(Int, String, String)] = Seq.empty)

  /** Quoted resolution of a LITERAL column name: this surface admits
    * field names containing dots (the sink's qcol discipline), and bare
    * `functions.col(name)` would parse a dot as nested-field access. */
  private def qname(n: String): String = s"`${n.replace("`", "``")}`"
  private def qc(n: String): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.col(qname(n))

  private def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String) = java.net.URLDecoder.decode(s, "UTF-8")

  // rel paths never contain a tab (Hive partition-path escaping encodes
  // control characters; part-file names are alphanumeric), so tab cleanly
  // separates the path from its seq and stats fields
  private def encodeStats(
      stats: Map[String, (Option[String], Option[String])]): String =
    stats.toSeq.sortBy(_._1).map { case (c, (lo, hi)) =>
      s"${enc(c)}=${lo.fold("~")(enc)},${hi.fold("~")(enc)}"
    }.mkString("&")

  private def decodeStats(
      s: String): Map[String, (Option[String], Option[String])] =
    s.split("&").filter(_.nonEmpty).map { kv =>
      val eq = kv.indexOf('=')
      val Array(lo, hi) = kv.substring(eq + 1).split(",", 2)
      dec(kv.substring(0, eq)) ->
        ((if (lo == "~") None else Some(dec(lo))),
          (if (hi == "~") None else Some(dec(hi))))
    }.toMap

  private val SeqField = "^seq=(\\d+)$".r
  private val RowsField = "^rows=(\\d+)$".r
  private val BytesField = "^bytes=(\\d+)$".r
  // a sidecar rel is URL-encoded (never a raw comma), while a stats blob
  // for a column literally named "bloom" always carries "lo,hi"
  private val BloomField = "^bloom=([^,\\t]+)$".r
  // URL-encoding never emits a raw ':' (it encodes to %3A), so a
  // `col:count` payload is unambiguous against any stats blob
  private val NullsField = "^nulls=((?:[^:,\\t]*:\\d+)(?:,[^:,\\t]*:\\d+)*)?$".r

  private def encodeEntry(e: FileEntry): String = {
    val b = new StringBuilder(e.rel)
    if (e.seq > 0) b ++= s"\tseq=${e.seq}"
    if (e.rows >= 0) b ++= s"\trows=${e.rows}"
    if (e.bytes >= 0) b ++= s"\tbytes=${e.bytes}"
    e.bloomRef.foreach(r => b ++= s"\tbloom=${enc(r)}")
    if (e.nulls.nonEmpty) {
      b ++= "\tnulls="
      b ++= e.nulls.toSeq.sortBy(_._1)
        .map { case (c, n) => s"${enc(c)}:$n" }.mkString(",")
    }
    if (e.stats.nonEmpty) { b += '\t'; b ++= encodeStats(e.stats) }
    b.result()
  }

  // a stats blob always contains "=lo,hi" (comma included), so a bare
  // `seq=<digits>` / `rows=<digits>` field is unambiguous against a stat
  // column named "seq" or "rows"
  private def decodeEntry(s: String): FileEntry = {
    val fields = s.split("\t")
    var seq = 0
    var rows = -1L
    var bytes = -1L
    var bloomRef: Option[String] = None
    var nulls = Map.empty[String, Long]
    var stats = Map.empty[String, (Option[String], Option[String])]
    fields.tail.foreach {
      case SeqField(n) => seq = n.toInt
      case RowsField(n) => rows = n.toLong
      case BytesField(n) => bytes = n.toLong
      case BloomField(r) => bloomRef = Some(dec(r))
      case NullsField(payload) =>
        nulls = Option(payload).toSeq.flatMap(_.split(","))
          .filter(_.nonEmpty).map { kv =>
            val i = kv.lastIndexOf(':')
            dec(kv.substring(0, i)) -> kv.substring(i + 1).toLong
          }.toMap
      case blob => stats = decodeStats(blob)
    }
    FileEntry(fields.head, stats, seq, rows, nulls, bytes, bloomRef)
  }

  private def encodeDelete(d: DeleteEntry): String = {
    val b = new StringBuilder(d.rel)
    b ++= s"\tseq=${d.seq}"
    if (d.bytes >= 0) b ++= s"\tbytes=${d.bytes}"
    b ++= s"\tkeys=${d.keyCols.map(enc).mkString(",")}"
    if (d.stats.nonEmpty) { b += '\t'; b ++= encodeStats(d.stats) }
    b.result()
  }

  private def decodeDelete(s: String): DeleteEntry = {
    val fields = s.split("\t")
    var seq = 0
    var bytes = -1L
    var keyCols = Seq.empty[String]
    var stats = Map.empty[String, (Option[String], Option[String])]
    fields.tail.foreach {
      case SeqField(n) => seq = n.toInt
      case BytesField(n) => bytes = n.toLong
      case kf if kf.startsWith("keys=") =>
        keyCols = kf.stripPrefix("keys=").split(",").toSeq
          .filter(_.nonEmpty).map(dec)
      case blob => stats = decodeStats(blob)
    }
    DeleteEntry(fields.head, seq, keyCols, stats, bytes)
  }

  private def renderManifest(
      meta: SnapMeta, parent: Option[Int], adds: Seq[FileEntry],
      removes: Seq[String], full: Option[Seq[FileEntry]],
      dAdds: Seq[DeleteEntry] = Seq.empty,
      dRemoves: Seq[String] = Seq.empty,
      dFull: Seq[DeleteEntry] = Seq.empty): String = {
    val b = new StringBuilder
    b ++= "graftsnap=2\n"
    b ++= s"mode=${meta.mode}\n"
    meta.schema.foreach(sc => b ++= s"schema=${sc.json}\n")
    b ++= s"format=${meta.format}\n"
    meta.codec.foreach(c => b ++= s"codec=$c\n")
    if (meta.statsCols.nonEmpty)
      b ++= s"statscols=${meta.statsCols.map(enc).mkString(",")}\n"
    if (meta.bloomCols.nonEmpty)
      b ++= s"bloomcols=${meta.bloomCols.map(enc).mkString(",")}\n"
    // every manifest re-renders the FULL constraint set (the statsCols
    // discipline): the requested manifest alone answers "what holds"
    meta.constraints.foreach { case (n, e) =>
      b ++= s"constraint=${enc(n)}=${enc(e)}\n"
    }
    // the full column-mapping ledger, like constraints: the requested
    // manifest alone resolves every file's physical names
    meta.renames.foreach { case (id, from, to) =>
      b ++= s"rename=$id=${enc(from)}=${enc(to)}\n"
    }
    if (meta.partitionCols.nonEmpty)
      b ++= s"partitionby=${meta.partitionCols.map(enc).mkString(",")}\n"
    meta.batchTag.foreach(t => b ++= s"batch=${enc(t)}\n")
    if (meta.recentTags.nonEmpty)
      b ++= s"rtags=${meta.recentTags.map(enc).mkString(",")}\n"
    meta.ts.foreach(t => b ++= s"ts=$t\n")
    parent.foreach(p => b ++= s"parent=$p\n")
    full match {
      case Some(files) =>
        files.sortBy(_.rel).foreach(e => b ++= s"file=${encodeEntry(e)}\n")
        dFull.sortBy(_.rel).foreach(d => b ++= s"dfile=${encodeDelete(d)}\n")
      case None =>
        removes.sorted.foreach(r => b ++= s"remove=$r\n")
        adds.sortBy(_.rel).foreach(e => b ++= s"add=${encodeEntry(e)}\n")
        dRemoves.sorted.foreach(r => b ++= s"dremove=$r\n")
        dAdds.sortBy(_.rel).foreach(d => b ++= s"dadd=${encodeDelete(d)}\n")
    }
    b.result()
  }

  private def parseSchema(json: String): StructType =
    DataType.fromJson(json).asInstanceOf[StructType]

  private def parseManifest(id: Int, text: String): RawManifest = {
    val lines = text.split("\n").toSeq.map(_.stripSuffix("\r")).filter(_.nonEmpty)
    if (lines.headOption.contains("graftsnap=2")) {
      var mode = ""; var schema: Option[StructType] = None
      var format = "parquet"; var codec: Option[String] = None
      var statsCols: Seq[String] = Seq.empty
      var bloomCols: Seq[String] = Seq.empty
      var partitionCols: Seq[String] = Seq.empty
      var batchTag: Option[String] = None; var parent: Option[Int] = None
      var ts: Option[Long] = None
      var recentTags: Seq[String] = Seq.empty
      val constraints = Seq.newBuilder[(String, String)]
      val renames = Seq.newBuilder[(Int, String, String)]
      val adds = Seq.newBuilder[FileEntry]
      val removes = Seq.newBuilder[String]
      val fulls = Seq.newBuilder[FileEntry]
      val dAdds = Seq.newBuilder[DeleteEntry]
      val dRemoves = Seq.newBuilder[String]
      val dFulls = Seq.newBuilder[DeleteEntry]
      lines.tail.foreach {
        case l if l.startsWith("mode=") => mode = l.stripPrefix("mode=")
        case l if l.startsWith("schema=") =>
          schema = Some(parseSchema(l.stripPrefix("schema=")))
        case l if l.startsWith("format=") => format = l.stripPrefix("format=")
        case l if l.startsWith("codec=") =>
          codec = Some(l.stripPrefix("codec="))
        case l if l.startsWith("statscols=") =>
          statsCols = l.stripPrefix("statscols=").split(",").toSeq
            .filter(_.nonEmpty).map(dec)
        case l if l.startsWith("bloomcols=") =>
          bloomCols = l.stripPrefix("bloomcols=").split(",").toSeq
            .filter(_.nonEmpty).map(dec)
        case l if l.startsWith("partitionby=") =>
          partitionCols = l.stripPrefix("partitionby=").split(",").toSeq
            .filter(_.nonEmpty).map(dec)
        case l if l.startsWith("batch=") =>
          batchTag = Some(dec(l.stripPrefix("batch=")))
        case l if l.startsWith("rtags=") =>
          recentTags = l.stripPrefix("rtags=").split(",").toSeq
            .filter(_.nonEmpty).map(dec)
        case l if l.startsWith("constraint=") =>
          // URL-encoding escapes '=' inside name/expr, so the FIRST '='
          // of the payload is always the separator
          val payload = l.stripPrefix("constraint=")
          val sep = payload.indexOf('=')
          require(sep > 0, s"corrupt constraint line in s$id: '$l'")
          constraints += ((dec(payload.substring(0, sep)),
            dec(payload.substring(sep + 1))))
        case l if l.startsWith("rename=") =>
          // URL-encoding escapes '=' inside names, so the first two '='
          // of the payload are always the separators
          val payload = l.stripPrefix("rename=")
          val s1 = payload.indexOf('=')
          val s2 = payload.indexOf('=', s1 + 1)
          require(s1 > 0 && s2 > s1, s"corrupt rename line in s$id: '$l'")
          renames += ((payload.substring(0, s1).toInt,
            dec(payload.substring(s1 + 1, s2)),
            dec(payload.substring(s2 + 1))))
        case l if l.startsWith("ts=") =>
          ts = Some(l.stripPrefix("ts=").toLong)
        case l if l.startsWith("parent=") =>
          parent = Some(l.stripPrefix("parent=").toInt)
        case l if l.startsWith("remove=") =>
          removes += l.stripPrefix("remove=")
        case l if l.startsWith("add=") =>
          adds += decodeEntry(l.stripPrefix("add="))
        case l if l.startsWith("file=") =>
          fulls += decodeEntry(l.stripPrefix("file="))
        case l if l.startsWith("dremove=") =>
          dRemoves += l.stripPrefix("dremove=")
        case l if l.startsWith("dadd=") =>
          dAdds += decodeDelete(l.stripPrefix("dadd="))
        case l if l.startsWith("dfile=") =>
          dFulls += decodeDelete(l.stripPrefix("dfile="))
        case other => throw new IllegalStateException(
          s"corrupt snapshot manifest s$id: unrecognized line '${other.take(80)}'")
      }
      RawManifest(id, mode, schema, format, codec, statsCols, batchTag,
        partitionCols, parent, adds.result(), removes.result(),
        if (parent.isEmpty) Some(fulls.result()) else None,
        dAdds.result(), dRemoves.result(),
        if (parent.isEmpty) Some(dFulls.result()) else None, ts, recentTags,
        bloomCols, constraints.result(), renames.result())
    } else {
      // v1 (positional): mode line, optional schema line, bare file paths
      val mode = lines.head.stripPrefix("mode=")
      val (schema, files) = lines.tail match {
        case s +: rest if s.startsWith("schema=") =>
          (Some(parseSchema(s.stripPrefix("schema="))), rest)
        case rest => (None, rest)
      }
      RawManifest(id, mode, schema, "parquet", None, Seq.empty, None,
        Seq.empty, None, Seq.empty, Seq.empty,
        Some(files.map(FileEntry(_, Map.empty))),
        Seq.empty, Seq.empty, Some(Seq.empty), None)
    }
  }

  private type ManifestCache = scala.collection.mutable.Map[Int, RawManifest]

  /** Read manifest `s<id>` from a manifests directory — the main
    * `snapshots/` tree or a `branches/<name>/` tree ([[createBranch]];
    * branch chains are self-contained because the fork manifest is FULL,
    * so resolution never crosses namespaces) — through `cache` when the
    * caller shares one across resolutions (the default is a fresh one). */
  private def readSnapshotFile(
      f: FileSystem, msDir: Path, id: Int,
      cache: ManifestCache = scala.collection.mutable.Map.empty): RawManifest =
    cache.getOrElseUpdate(id, {
      val p = new Path(msDir, s"s$id")
      if (!f.exists(p))
        throw new IllegalStateException(
          s"snapshot s$id does not exist under $msDir — never written, or " +
            "expired by Snapshots.expire (time travel only reaches retained " +
            "snapshots)")
      val in = f.open(p)
      val text =
        try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      parseManifest(id, text)
    })

  /** Apply the delta chain below `head`: walk `parent` pointers through
    * `msDir` to the nearest full manifest (≤ [[RebaseEvery]] hops by
    * construction), then replay removes/adds oldest-first. Metadata comes
    * from `head` — each snapshot carries its own schema/mode. The head
    * need not live in `msDir` (a STAGED write's manifest resolves through
    * its committed parent chain exactly like a published one). */
  private def resolveFrom(
      f: FileSystem, msDir: Path, head: RawManifest,
      cache: ManifestCache = scala.collection.mutable.Map.empty): Resolved = {
    var chain = List(head)
    while (chain.head.parent.isDefined) {
      val p = chain.head.parent.get
      require(p < chain.head.id,
        s"corrupt manifest chain: s${chain.head.id} points at s$p")
      chain = readSnapshotFile(f, msDir, p, cache) :: chain
    }
    val top = chain.last
    val files = scala.collection.mutable.LinkedHashMap[String, FileEntry]()
    val dels = scala.collection.mutable.LinkedHashMap[String, DeleteEntry]()
    chain.head.full.getOrElse(Seq.empty).foreach(e => files(e.rel) = e)
    chain.head.dFull.getOrElse(Seq.empty).foreach(d => dels(d.rel) = d)
    chain.tail.foreach { m =>
      m.removes.foreach(files.remove)
      m.adds.foreach(e => files(e.rel) = e)
      m.dRemoves.foreach(dels.remove)
      m.dAdds.foreach(d => dels(d.rel) = d)
    }
    Resolved(top.id, top.mode, top.schema, top.format, top.codec,
      top.statsCols, top.batchTag, top.partitionCols, files.values.toSeq,
      dels.values.toSeq, chain.length - 1, top.ts, top.effectiveRecentTags,
      top.bloomCols, top.constraints, top.renames)
  }

  /** [[resolveFrom]] manifest `s<id>` of `msDir`. */
  private def resolve(
      f: FileSystem, msDir: Path, id: Int,
      cache: ManifestCache = scala.collection.mutable.Map.empty): Resolved =
    resolveFrom(f, msDir, readSnapshotFile(f, msDir, id, cache), cache)

  /** How an operation that needs a published snapshot fails on a dataset
    * with none; `why` names the operation's remedy. */
  private def noSnapshot(root: String, why: String = ""): Nothing =
    throw new IllegalStateException(s"no snapshot published under $root$why")

  /** The resolved head of main, or of `branch` (which must exist) — one
    * pointer read, one chain walk; None when main has published nothing. */
  private def headOf(
      f: FileSystem, qroot: Path,
      branch: Option[String] = None): Option[Resolved] =
    branch match {
      case None => mainPointer(f, qroot).map(resolve(f, snapshotsDir(qroot), _))
      case Some(b) =>
        Some(resolve(f, branchDir(qroot, b), branchHead(f, qroot, b)))
    }

  /** The snapshot id an operation works on — retained snapshot `asOf`, or
    * main's current one through ONE pointer read — with the dataset's
    * filesystem and qualified root. For operations that read one manifest
    * or resolve a snapshot other than the head. */
  private def headId(
      spark: SparkSession, root: String, why: String = "",
      asOf: Option[Int] = None): (FileSystem, Path, Int) = {
    val (f, qroot) = FsOps.fs(spark, root)
    (f, qroot,
      asOf.orElse(mainPointer(f, qroot)).getOrElse(noSnapshot(root, why)))
  }

  /** THE snapshot resolver of every operation: the dataset's filesystem,
    * its qualified root, and the snapshot resolved through one pointer
    * read and one chain walk — main's head, `branch`'s head, or retained
    * snapshot `asOf` (no pointer read). An operation that publishes hands
    * this head down to [[commit]], so a pointer that moved after the read
    * surfaces as the commit race (rebased or refused per lane) — never as
    * removes computed on one head and published against another. */
  private def resolveHead(
      spark: SparkSession, root: String, why: String = "",
      asOf: Option[Int] = None,
      branch: Option[String] = None): (FileSystem, Path, Resolved) = {
    val (f, qroot) = FsOps.fs(spark, root)
    val head = asOf.fold(headOf(f, qroot, branch))(id =>
      Some(resolve(f, snapshotsDir(qroot), id)))
    (f, qroot, head.getOrElse(noSnapshot(root, why)))
  }

  /** The current snapshot id, if any write has published. */
  def currentSnapshot(spark: SparkSession, root: String): Option[Int] = {
    val (f, qroot) = FsOps.fs(spark, root)
    mainPointer(f, qroot)
  }

  private def mainPointer(f: FileSystem, qroot: Path): Option[Int] =
    FsOps.readManifest(f, qroot).map(parseSnapRef(s"MANIFEST at $qroot", _))

  /** Recursive data-file listing as (relative path, mtime, length),
    * skipping `_`- and `.`-led file names — mtime and length ride along
    * from the walk's own statuses ([[FsOps.walkFiles]]), so age filters
    * (vacuum/expire grace) and manifest byte recording cost zero extra
    * RPCs. */
  private[sink] def listDataFilesWithMtime(
      f: FileSystem, base: Path): Seq[(String, Long, Long)] = {
    val baseUri = base.toUri.getPath
    FsOps.walkFiles(f, base).filter { s =>
      val name = s.getPath.getName
      !name.startsWith("_") && !name.startsWith(".")
    }.map(s => (s.getPath.toUri.getPath.stripPrefix(baseUri).stripPrefix("/"),
      s.getModificationTime, s.getLen)).toSeq
  }

  // --------------------------------------------------- format dispatch

  private def formatToken(fmt: SinkFormat): String = fmt match {
    case ParquetFormat => "parquet"
    case OrcFormat => "orc"
    case AvroFormat => "avro"
  }

  private def sinkFormatOf(token: String): SinkFormat = token match {
    case "parquet" => ParquetFormat
    case "orc" => OrcFormat
    case "avro" => AvroFormat
    case other => throw new IllegalStateException(
      s"unknown snapshot format '$other'")
  }

  /** Every snapshot data file is written/read through the provider name
    * the sink surface uses (avro needs the fully-qualified FileFormat —
    * [[SinkFormat.name]]). */
  private def reader(
      spark: SparkSession, formatTok: String, base: String,
      schema: Option[StructType]): org.apache.spark.sql.DataFrameReader = {
    val r0 = spark.read.format(sinkFormatOf(formatTok).name)
      .option("basePath", base)
    schema.fold(r0)(r0.schema)
  }

  // -------------------------------------------------------------- stats

  private def isStatType(dt: DataType): Boolean = dt match {
    case _: NumericType | StringType | DateType | TimestampType |
        BooleanType => true
    case _ => false
  }

  /** Type-aware comparison of two stat values in their string form.
    * Floating specials use Spark's total order (-Infinity < finite <
    * Infinity < NaN) — a NaN-bearing stats column must degrade pruning,
    * never crash the read. Strings compare by UTF-8 BYTES: the recorded
    * min/max came from Spark's UTF8String binary (code-point) ordering,
    * and `String.compareTo`'s UTF-16 code-unit order diverges from it on
    * supplementary-plane characters — comparing in the wrong order would
    * wrongly DROP a file that holds matching rows (silent row loss), not
    * merely prune conservatively. Dates/timestamps are ASCII digits where
    * both orders agree, so they share the byte path. */
  private def statCompare(dt: DataType, a: String, b: String): Int = dt match {
    case _: NumericType =>
      def rank(s: String): Int = s match {
        case "NaN" => 3; case "Infinity" => 2; case "-Infinity" => -2
        case _ => 0
      }
      val (ra, rb) = (rank(a), rank(b))
      if (ra != 0 || rb != 0) ra.compare(rb)
      else BigDecimal(a).compare(BigDecimal(b))
    case BooleanType => a.toBoolean.compare(b.toBoolean)
    case _ => java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  private[sink] def statCompareForTest(dt: DataType, a: String, b: String): Int =
    statCompare(dt, a, b)

  /** A caller-supplied prune bound in the same string form the recorded
    * stats use (Spark cast-to-string): `java.sql.Timestamp.toString`
    * appends `.0` on whole seconds where the cast prints none — left
    * unnormalized it would lexicographically exclude boundary files. */
  private def boundString(v: Any): String = v match {
    case t: java.sql.Timestamp => t.toString.stripSuffix(".0")
    case other => other.toString
  }

  private[sink] def boundStringForTest(v: Any): String = boundString(v)

  /** One staged file's recorded metadata: per-column min/max, row count,
    * per-column null counts, per-bloom-column filter images — all from
    * the same single staging pass. */
  private case class StagedStats(
      stats: Map[String, (Option[String], Option[String])],
      rows: Long, nulls: Map[String, Long],
      blooms: Map[String, Array[Byte]] = Map.empty)

  /** The one place a staged file becomes a manifest entry — first
    * publish and commit retry must thread identical metadata. */
  private def entryFor(
      rel: String, st: Option[StagedStats], seq: Int,
      bytes: Long, bloomRef: Option[String]): FileEntry =
    FileEntry(rel,
      st.fold(Map.empty[String, (Option[String], Option[String])])(_.stats),
      seq = seq, rows = st.fold(-1L)(_.rows),
      nulls = st.fold(Map.empty[String, Long])(_.nulls), bytes = bytes,
      bloomRef = bloomRef)

  /** Per-staged-file min/max + row/null counts of the declared stat
    * columns, keyed by the file's staging-RELATIVE path (dir + name).
    * Keying by bare part name is wrong: one write task that lands rows in
    * TWO partition directories reuses its part-file name in both
    * (range-clustered and salted compaction do this at every partition
    * boundary), and a name-keyed map would collapse the two files onto
    * one file's stats — silently mis-pruning reads. One batch-sized
    * aggregate over the staging tree — never over the dataset. */
  private def computeStats(
      spark: SparkSession, staging: Path, formatTok: String,
      statsCols: Seq[String],
      bloomCols: Seq[(String, DataType)] = Seq.empty)
      : Map[String, StagedStats] = {
    if (statsCols.isEmpty && bloomCols.isEmpty) return Map.empty
    import org.apache.spark.sql.functions._
    val df = spark.read.format(sinkFormatOf(formatTok).name)
      .load(staging.toString)
    // bloom values hash under the CONTRACT type, not the batch's: Widen
    // admits a narrower batch (int files in a long dataset), and a probe
    // hashing the contract-typed bound must agree bit for bit with what
    // the write recorded
    val aggs = (statsCols.flatMap(c => Seq(
      min(qc(c)).cast("string").as(s"__min_$c"),
      max(qc(c)).cast("string").as(s"__max_$c"),
      count(qc(c)).as(s"__cnt_$c"))) :+ count(lit(1)).as("__rows")) ++
      bloomCols.map { case (c, dt) =>
        graft.functions.bloom.bloom_sketch(qc(c).cast(dt))
          .as(s"__bloom_$c")
      }
    val stagingPrefix = staging.toUri.getPath
    val rowsIdx = 1 + 3 * statsCols.length
    df.groupBy(input_file_name().as("__f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .map { r =>
        // input_file_name returns a percent-ENCODED URI (a partition value
        // with a space reads `%20`); java.net.URI.getPath decodes it to
        // the same form the staged listing's Path.toUri.getPath produces,
        // so the keys line up exactly
        val rel = java.net.URI.create(r.getString(0)).getPath
          .stripPrefix(stagingPrefix).stripPrefix("/")
        val rows = r.getLong(rowsIdx)
        rel -> StagedStats(
          statsCols.zipWithIndex.map { case (c, i) =>
            c -> ((Option(r.getString(1 + 3 * i)),
              Option(r.getString(2 + 3 * i))))
          }.toMap,
          rows,
          statsCols.zipWithIndex.map { case (c, i) =>
            c -> (rows - r.getLong(3 + 3 * i))
          }.toMap,
          bloomCols.zipWithIndex.map { case ((c, _), i) =>
            c -> r.getAs[Array[Byte]](rowsIdx + 1 + i)
          }.toMap)
      }.toMap
  }

  private def statType(schema: StructType, c: String): DataType =
    schema.fields.find(_.name == c).map(_.dataType).getOrElse(StringType)

  /** True iff the file can hold a row matching every range: missing stats
    * keep the file (conservative); recorded all-null stats (min and max
    * both None) cannot match a range filter, which excludes nulls. An
    * `IS NULL` range ([[StatRange.nullness]] Some(true)) keeps the file
    * unless its recorded null count proves no nulls exist. A non-nullness
    * range on a TimestampType column keeps the file: its recorded min/max
    * are renderings in the WRITING session's time zone, and a bound
    * rendered in any other zone would compare shifted — dropping files
    * that hold matches. */
  private def survives(
      e: FileEntry, ranges: Seq[StatRange], schema: StructType): Boolean =
    ranges.forall { r =>
      val dt = statType(schema, r.column)
      if (r.nullness.contains(true))
        // IS NULL: bounds are meaningless (null matches no range) — the
        // file survives unless provably null-free for the column
        !e.nulls.get(r.column).contains(0L)
      else if (r.nullness.isEmpty && dt == TimestampType) true
      else e.stats.get(r.column) match {
        case None => true
        case Some((lo, hi)) =>
          // all-null file: recorded stats say so directly (min and max
          // both None), or the null count equals the row count
          if ((lo.isEmpty && hi.isEmpty) ||
            (e.rows >= 0 && e.nulls.get(r.column).contains(e.rows))) false
          else if (r.anyOf.isDefined)
            // disjunctive equality set (IN): ANY value inside [lo,hi]
            // keeps the file; a value that fails to render/compare keeps
            // it too (conservative, like a missing stat)
            r.anyOf.get.exists { v =>
              scala.util.Try {
                val s = boundString(v)
                lo.forall(l => statCompare(dt, l, s) <= 0) &&
                  hi.forall(h => statCompare(dt, h, s) >= 0)
              }.getOrElse(true)
            }
          else if (r.lower.isEmpty && r.upper.isEmpty) true // bare IS NOT NULL
          else {
            val belowUpper = (r.upper, lo) match {
              case (Some(u), Some(l)) => statCompare(dt, l, boundString(u)) <= 0
              case _ => true
            }
            val aboveLower = (r.lower, hi) match {
              case (Some(l), Some(h)) => statCompare(dt, h, boundString(l)) >= 0
              case _ => true
            }
            belowUpper && aboveLower
          }
      }
    }

  /** Drop entries whose per-file Bloom filter PROVES an equality bound
    * absent — the point-lookup prune min/max ranges cannot make on
    * interleaved high-cardinality keys (a GDPR `WHERE user_id = X`
    * against unclustered appends). Applies to [[StatRange]]s with
    * `lower == upper` and to [[StatRange.anyOf]] disjunctions (IN-lists —
    * a file survives when ANY value's probe says "maybe") on declared
    * bloomColumns. The referenced batch sidecars are decoded on the
    * driver by [[LocalParquet.read]] — no Spark job, no schema
    * inference — and only when such a bound is present: every other read
    * path pays nothing, and a lookup that prunes every file launches no
    * job at all. Timestamp columns work here when the
    * probe value is exact: [[StatRange.exactEq]]-carried internal values,
    * or typed objects (Timestamp/Instant) that convert losslessly. A
    * string-sourced timestamp bound WITHOUT exactEq never probes — a
    * DST-ambiguous local-time string can re-parse to a different instant
    * than the one the write side hashed, and a wrong "definite no" would
    * wrongly prune the file holding the match. Missing refs/filters keep
    * the file; a bound that fails to convert disables ITS range entirely
    * (never probes a partial disjunction); a Bloom "maybe" keeps the
    * file — pruning is a superset guarantee, as ever. */
  private def bloomPrune(
      spark: SparkSession, qroot: Path, m: Resolved,
      entries: Seq[FileEntry], ranges: Seq[StatRange]): Seq[FileEntry] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    val eqs = ranges.filter(r => m.bloomCols.contains(r.column) &&
      r.nullness.isEmpty &&
      (r.anyOf.exists(_.nonEmpty) || (r.lower.isDefined && r.lower == r.upper)))
    if (eqs.isEmpty) return entries
    val schema = m.schema.getOrElse(return entries)
    val refs = entries.flatMap(_.bloomRef).distinct
    if (refs.isEmpty) return entries
    // each bound as the INTERNAL value under the column's recorded type —
    // the exact bytes the write-side aggregate hashed. ALL of a range's
    // values must convert or the range derives no probe: probing a subset
    // of a disjunction could prune a file holding the missing value.
    def internals(r: StatRange, dt: DataType): Option[Seq[Any]] =
      r.exactEq match {
        case Some(ivs) =>
          // producer-supplied internal values — trusted only when typed
          // under the recorded contract (a drifted type skips the probe)
          if (ivs.nonEmpty && ivs.forall(_._2 == dt)) Some(ivs.map(_._1))
          else None
        case None =>
          val raws = r.anyOf.getOrElse(Seq(r.lower.get))
          // tz-rendered strings are not re-parseable exactly (DST) — the
          // statRangesFromCondition path carries exactEq instead
          if (dt == TimestampType && raws.exists(_.isInstanceOf[String])) None
          else {
            val conv = raws.map { v =>
              scala.util.Try {
                val cast = Cast(Literal.create(v), dt,
                  Some(spark.sessionState.conf.sessionLocalTimeZone))
                if (!cast.resolved) None else Option(cast.eval())
              }.toOption.flatten
            }
            if (conv.forall(_.isDefined)) Some(conv.map(_.get)) else None
          }
      }
    val bounds = eqs.flatMap { r =>
      schema.fields.find(_.name == r.column).flatMap(fd =>
        internals(r, fd.dataType).map(ivs => (r.column, ivs, fd.dataType)))
    }
    if (bounds.isEmpty) return entries
    // a missing sidecar (partial restore, manual cleanup) degrades to
    // no-bloom-pruning for its files — the documented superset guarantee
    val f = qroot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val present = refs.filter(r => f.exists(new Path(bloomsDir(qroot), r)))
    if (present.isEmpty) return entries
    // hash each bound ONCE and decode each image ONCE — the probe loop
    // is (files × bounds × IN-values) and must do neither per iteration
    val probes = bounds.map { case (col, ivs, dt) =>
      col -> ivs.map(iv => graft.functions.BloomBuf.hashes(iv, dt))
    }
    val filters = LocalParquet
      .read(spark, present.map(r => new Path(bloomsDir(qroot), r).toString): _*)
      .map(row => (row.getString(0), row.getString(1)) ->
        graft.functions.BloomBuf.fromBytes(row.getAs[Array[Byte]](2))).toMap
    entries.filter { e =>
      e.bloomRef.forall(!present.contains(_)) || probes.forall {
        case (col, hs) =>
          filters.get((e.rel, col)).forall(fl =>
            hs.exists { case (h1, h2) => fl.mightContain(h1, h2) })
      }
    }
  }

  /** The one file planner of every pruned snapshot lane: the `files`
    * that can hold a row matching every range, by recorded stats
    * ([[survives]]) then Bloom probe ([[bloomPrune]]). An unknown prune
    * column fails loudly — a typo must not silently disable skipping. */
  private def planFiles(
      spark: SparkSession, qroot: Path, m: Resolved,
      files: Seq[FileEntry], ranges: Seq[StatRange]): Seq[FileEntry] = {
    ranges.foreach(r => require(
      m.schema.forall(s => s.fields.exists(_.name == r.column)),
      s"prune column ${r.column} is not in the snapshot schema"))
    val schema = m.schema.getOrElse(StructType(Seq.empty))
    bloomPrune(spark, qroot, m, files.filter(survives(_, ranges, schema)),
      ranges)
  }

  /** Whether two recorded [min, max] ranges of column `c` PROVABLY share
    * no value — the one compare of two recorded bounds. Unproven (false)
    * when either side is missing or all-null, and always for a
    * TimestampType column: each side's bounds were rendered in its own
    * writer's session time zone, so byte order says nothing about the
    * instants. */
  private def provablyDisjoint(
      schema: StructType, c: String,
      a: Option[(Option[String], Option[String])],
      b: Option[(Option[String], Option[String])]): Boolean = {
    val dt = statType(schema, c)
    dt != TimestampType && ((a, b) match {
      case (Some((Some(alo), Some(ahi))), Some((Some(blo), Some(bhi)))) =>
        statCompare(dt, ahi, blo) < 0 || statCompare(dt, bhi, alo) < 0
      case _ => false
    })
  }

  /** Whether equality-delete `d` can suppress rows in data file `e`:
    * strictly-older files only (seq ordering — a merge's own upserts and
    * later re-inserts are never suppressed), and unless the file's
    * recorded key range is [[provablyDisjoint]] from the delete batch's
    * on some key column. */
  private def deleteApplies(
      d: DeleteEntry, e: FileEntry, schema: StructType): Boolean =
    d.seq > e.seq && !d.keyCols.exists(c =>
      provablyDisjoint(schema, c, e.stats.get(c), d.stats.get(c)))

  /** Partition dirs holding a live file of `m` that one of `dels`
    * applies to. */
  private def deleteDirs(m: Resolved, dels: Seq[DeleteEntry]): Set[String] = {
    val schema = m.schema.getOrElse(StructType(Seq.empty))
    m.files.filter(e => dels.exists(deleteApplies(_, e, schema)))
      .map(e => parentDirOf(e.rel)).toSet
  }

  /**
   * Scan `kept` data files with the snapshot's equality-delete files
   * applied — the MERGE-ON-READ read path. Files are grouped into classes
   * by which deletes apply (seq ordering + key-range stats pruning — a
   * file no delete can touch scans clean, no join at all); each class is
   * one scan anti-joined against the BROADCAST union of its applicable
   * delete keys. Every data file is read exactly once; class count is
   * bounded by the live delete-file count, which [[foldDeletes]] /
   * [[compact]] keep small — the Iceberg v2 merge-on-read shape.
   */
  /** Era-union RAW scan of `entries` under the recorded contract — NO
    * equality-delete application ([[scanWithDeletes]] layers that on).
    * Files written under DIFFERENT partition specs (spec evolution —
    * [[evolvePartitioning]]) load as separate scans: each era's directory
    * layout infers its own consistent partition columns against the same
    * recorded contract (an elided column reads from dirs in its era,
    * from file content in the others), then the eras union by name.
    * One era → one scan: the common homogeneous case pays nothing. */
  /** Physical (as-written) column name of contract column `c` in a file
    * added at snapshot `seq`: walk the rename ledger newest-first,
    * mapping `to → from` for every event NEWER than the file. Drop
    * events (`to` empty) never match a contract name — inert here. The
    * walk is a bijection per epoch, so two contract columns can never
    * collide on one physical name (retired names are barred from
    * re-entering the contract). */
  private def physicalName(
      renames: Seq[(Int, String, String)], c: String, seq: Int): String = {
    var cur = c
    renames.sortBy(-_._1).foreach { case (id, from, to) =>
      if (id > seq && to == cur) cur = from
    }
    cur
  }

  private def scanRaw(
      spark: SparkSession, qroot: Path, m: Resolved,
      entries: Seq[FileEntry]): DataFrame = {
    val base = dataDir(qroot).toString
    // files written under a different COLUMN-NAME epoch (rename ledger)
    // load with their physical schema and alias back to the contract —
    // the spec-era grouping's twin; a rename-free dataset (or one whose
    // files all postdate every rename) stays one scan and pays nothing
    def mapping(seq: Int): Seq[String] = m.schema match {
      case Some(sc) if m.renames.nonEmpty =>
        sc.fieldNames.toSeq.map(c => physicalName(m.renames, c, seq))
      case _ => Seq.empty
    }
    entries.groupBy(e => (sigOf(e.rel), mapping(e.seq))).toSeq
      .sortBy { case ((sig, phys), _) =>
        (sig.mkString(","), phys.mkString(","))
      }
      .map { case ((_, phys), es) =>
        val paths = es.map(e => s"$base/${e.rel}")
        val sc = m.schema
        if (phys.isEmpty || sc.exists(_.fieldNames.toSeq == phys))
          reader(spark, m.format, base, sc).load(paths: _*)
        else {
          val contract = sc.get
          val physSchema = StructType(contract.fields.toSeq.zip(phys)
            .map { case (fd, pn) => fd.copy(name = pn) })
          reader(spark, m.format, base, Some(physSchema)).load(paths: _*)
            .select(contract.fields.toSeq.zip(phys).map {
              case (fd, pn) => qc(pn).as(fd.name)
            }: _*)
        }
      }.reduce(_ unionByName _)
  }

  private def scanWithDeletes(
      spark: SparkSession, qroot: Path, m: Resolved,
      kept: Seq[FileEntry]): DataFrame = {
    val base = dataDir(qroot).toString
    def load(entries: Seq[FileEntry]): DataFrame =
      scanRaw(spark, qroot, m, entries)
    if (m.deletes.isEmpty) return load(kept)
    val schema = m.schema.getOrElse(StructType(Seq.empty))
    val keyCols = m.deletes.head.keyCols
    require(m.deletes.forall(_.keyCols == keyCols),
      "live equality-delete files disagree on key columns — corrupt state")
    val keySchema = StructType(keyCols.map(c =>
      schema.fields.find(_.name == c).getOrElse(throw new IllegalStateException(
        s"equality-delete key $c is not in the snapshot schema"))))
    val delBase = deletesDir(qroot).toString
    // size-dispatch the anti-join: delete batches are small by contract
    // (fold cadence bounds them) and broadcast is the right plan — but a
    // dataset whose folds were neglected must not force-broadcast an
    // unbounded key set into the driver. Above the byte budget the hint
    // is dropped and the join shuffles; correctness is identical.
    val limit = spark.conf.getOption("graft.snapshots.broadcastDeleteBytes")
      .map(_.toLong).getOrElse(64L << 20)
    // sizes come from the manifest when recorded (zero RPCs on the read
    // path); only pre-recording entries fall back to the filesystem
    lazy val fs = qroot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val delSize = m.deletes.map(d => d.rel ->
      (if (d.bytes >= 0) d.bytes
       else fs.getFileStatus(new Path(delBase, d.rel)).getLen)).toMap
    val classes = kept.groupBy(e =>
      m.deletes.filter(deleteApplies(_, e, schema)).map(_.rel).sorted)
    classes.toSeq.sortBy(_._1.mkString(","))
      .map { case (delRels, entries) =>
        val df = load(entries)
        if (delRels.isEmpty) df
        else {
          val keys = spark.read.format(sinkFormatOf(m.format).name)
            .schema(keySchema)
            .load(delRels.map(r => s"$delBase/$r"): _*).distinct()
          val hinted =
            if (delRels.map(delSize).sum <= limit)
              org.apache.spark.sql.functions.broadcast(keys)
            else keys
          df.join(hinted, keyCols, "left_anti")
        }
      }.reduce(_ unionByName _)
  }

  /**
   * Land `df` as the next snapshot. The batch is staged as a partitioned
   * file tree in the dataset's format, its files MOVED (rename —
   * metadata-cost) into `data/` under their partition directories, and
   * the new manifest published with one atomic pointer flip. Spark's
   * job-unique part-file names make staged files collision-free against
   * every previously landed batch.
   *
   * `SnapAppend`: the batch's files join the live set.
   * `SnapOverwritePartitions`: partitions the batch touches are logically
   * replaced (their previous files leave the live set but stay on disk
   * for older snapshots); untouched partitions ride through unchanged —
   * the dynamic-overwrite semantics of the reference's CREATE_OR_APPEND
   * surface, but non-destructive.
   *
   * Dataset-level properties — `format`/`codec` (the sink's surface,
   * modern codecs incl. zstd admitted) and `statsColumns` (per-file
   * min/max recorded for data skipping) — are fixed by the FIRST write
   * and inherited afterwards (pass `None`/empty to inherit; a conflicting
   * value fails loudly).
   *
   * `batchTag` is the stream replay guard: a write whose tag equals the
   * current snapshot's tag is a re-delivered micro-batch and returns the
   * already-published id without staging anything (exactly-once
   * publishing over at-least-once delivery — [[snapshotStream]]).
   *
   * Returns the published snapshot id (1-based, monotonic).
   */
  def write(
      df: DataFrame, root: String, partitionFields: Seq[String],
      mode: SnapshotMode = SnapAppend,
      evolution: graft.schema.SchemaEvolution.Policy =
        graft.schema.SchemaEvolution.Widen,
      statsColumns: Seq[String] = Seq.empty,
      format: Option[SinkFormat] = None, codec: Option[String] = None,
      batchTag: Option[String] = None,
      bloomColumns: Seq[String] = Seq.empty): Int = {
    val (f, qroot) = FsOps.fs(df.sparkSession, root)
    writeInternal(df, root, partitionFields, mode, mode.name, evolution,
      headOf(f, qroot), batchTag = batchTag, statsColumns = statsColumns,
      format = format, codec = codec, bloomColumns = bloomColumns)
  }

  /** The staging-and-publish step every data-writing lane shares. `prev`
    * is the head the caller read (None on a first write): the batch is
    * validated against it and the publish is rendered onto it, so a
    * pointer that moved since the caller's read surfaces as the commit
    * race — this step never reads the pointer itself. */
  private def writeInternal(
      batch: DataFrame, root: String, partitionFields: Seq[String],
      mode: SnapshotMode, modeLabel: String,
      evolution: graft.schema.SchemaEvolution.Policy,
      prev: Option[Resolved],
      touchedDirs: Option[Set[String]] = None,
      batchTag: Option[String] = None,
      statsColumns: Seq[String] = Seq.empty,
      format: Option[SinkFormat] = None,
      codec: Option[String] = None,
      stageAs: Option[String] = None,
      deleteKeys: Option[(DataFrame, Seq[String])] = None,
      dropDeletes: Boolean = false,
      extraRemoves: Seq[String] = Seq.empty,
      branch: Option[String] = None,
      bloomColumns: Seq[String] = Seq.empty,
      enforceConstraints: Boolean = true): Int = {
    require(partitionFields.nonEmpty, "snapshot datasets are partitioned")
    stageAs.foreach { n =>
      requireRefName("staged write", n)
      require(batchTag.isEmpty,
        "stageWrite is the manual audit lane — streaming batches publish " +
          "directly with their replay tag")
      require(deleteKeys.isEmpty && !dropDeletes,
        "merge-on-read deletes publish directly, not through the WAP lane")
    }
    branch.foreach { b =>
      requireRefName("branch", b)
      require(stageAs.isEmpty && batchTag.isEmpty && deleteKeys.isEmpty &&
        !dropDeletes,
        "branch writes are appends, overwrites and file rewrites — WAP, " +
          "stream tags and merge-on-read publish against main")
    }
    val spark = batch.sparkSession
    val (f, qroot) = FsOps.fs(spark, root)
    val cur = prev.map(_.id)
    // canonicalize batch column CASING to the stored contract's (session
    // resolver — case-insensitive by default, like every analyzer
    // comparison): a batch column cased differently IS the contract
    // column. Without this, the evolution gate would record a duplicate
    // case-variant contract field no later reader could resolve
    // unambiguously, and the constraint null-fill would add a duplicate
    // sibling that dies AMBIGUOUS_REFERENCE instead of judging the value.
    val df = prev.flatMap(_.schema) match {
      case Some(stored) =>
        val resolver = spark.sessionState.conf.resolver
        val renames = batch.columns.flatMap { c =>
          stored.fields.find(fd => resolver(fd.name, c))
            .filter(_.name != c).map(c -> _.name)
        }.toMap
        if (renames.isEmpty) batch
        else batch.select(batch.columns.toSeq.map(c =>
          renames.get(c).map(n => qc(c).as(n)).getOrElse(qc(c))): _*)
      case None => batch
    }
    // replay short-circuit BEFORE any staging: a re-delivered micro-batch
    // (same id + content tag as a snapshot it already published) must
    // converge, not double-append. The match is against the head's whole
    // ROLLING TAG WINDOW ([[MaxRecentTags]], carried forward manifest to
    // manifest), not just the head's own tag — a maintain() publish
    // (compact/fold/expire) landing between a crashed batch attempt and
    // its redelivery must not reopen the double-append hole
    if (batchTag.isDefined && prev.exists(p =>
        p.batchTag == batchTag || p.recentTags.contains(batchTag.get)))
      return cur.get
    // dataset-fixed properties: first write declares, later writes inherit
    val fmtTok = prev match {
      case Some(p) =>
        format.foreach(g => require(formatToken(g) == p.format,
          s"dataset at $root is ${p.format}; cannot write ${formatToken(g)}"))
        p.format
      case None => formatToken(format.getOrElse(ParquetFormat))
    }
    val fmtObj = sinkFormatOf(fmtTok)
    val userCodec = codec.map(c => graft.schema.Validators.resolveCodec(
      fmtObj.codecs ++ fmtObj.modernCodecs, c, fmtTok))
    val dsCodec = prev match {
      case Some(p) =>
        require(userCodec.isEmpty || userCodec == p.codec,
          s"dataset at $root uses codec ${p.codec.getOrElse("(default)")}; " +
            s"cannot write ${userCodec.get}")
        p.codec
      case None => userCodec
    }
    val statsCols = prev match {
      case Some(p) =>
        require(statsColumns.isEmpty || statsColumns == p.statsCols,
          s"dataset at $root records stats for ${p.statsCols.mkString(",")}; " +
            s"cannot switch to ${statsColumns.mkString(",")}")
        p.statsCols
      case None => statsColumns
    }
    val bloomCols = prev match {
      case Some(p) =>
        require(bloomColumns.isEmpty || bloomColumns == p.bloomCols,
          s"dataset at $root records bloom filters for " +
            s"${p.bloomCols.mkString(",")}; cannot switch to " +
            bloomColumns.mkString(","))
        p.bloomCols
      case None => bloomColumns
    }
    // the partition SPEC is a dataset property too: a write under a
    // different spec would route files into a second directory layout the
    // manifest can't distinguish — so every write targets the CURRENT
    // spec, and changing it is an explicit metadata operation
    // ([[evolvePartitioning]]). Legacy manifests predate the recorded
    // spec; the first v2 write pins it.
    prev.map(_.partitionCols).filter(_.nonEmpty).foreach { stored =>
      require(partitionFields == stored,
        s"dataset at $root is partitioned by ${stored.mkString(",")}; " +
          s"cannot write under ${partitionFields.mkString(",")} " +
          "(evolvePartitioning changes the spec going forward)")
    }
    // directory-match replacement assumes every live file sits in the
    // CURRENT spec's layout — a file written under an older spec would
    // silently survive an overwrite of its logical partition, so
    // partition-replacing writes on an era-mixed dataset fail loudly
    // BEFORE anything stages (migrateSpec itself removes by explicit rel)
    if (mode == SnapOverwritePartitions && extraRemoves.isEmpty)
      prev.toSeq.flatMap(_.files).find(e => sigOf(e.rel) != partitionFields)
        .foreach(e => throw new IllegalStateException(
          s"dataset at $root holds files from an older partition spec " +
            s"(e.g. ${e.rel}) — run migrateSpec before partition-replacing " +
            "writes (overwrite/compact/fold)"))
    // schema-evolution gate BEFORE any file lands (the PartitionedSink
    // append/merge discipline): the batch either breaks the recorded
    // contract loudly with nothing written, or the recorded schema
    // becomes the (possibly widened) merge — so every reader resolves a
    // single authoritative schema instead of per-file footer inference
    val contract = prev.flatMap(_.schema) match {
      case Some(stored) => graft.schema.SchemaEvolution.validate(
        stored, df.schema, partitionFields, evolution)
      case None => df.schema
    }
    // a widening batch must not RE-INTRODUCE a name the rename ledger
    // RESERVES: old files still physically hold `from` names (the "new"
    // column would resurrect their bytes on read), and a `to` name
    // outside the current contract (rollback past the rename) would
    // collide with the ledger walk's mapping. Compared with the SESSION
    // resolver like every other contract check — a case-variant spelling
    // IS the same name under the default case-insensitive resolution.
    prev.map(_.renames).filter(_.nonEmpty).foreach { ledger =>
      val resolver = spark.sessionState.conf.resolver
      val reserved = (ledger.map(_._2) ++ ledger.map(_._3))
        .filter(_.nonEmpty).distinct
      val stored = prev.flatMap(_.schema).map(_.fieldNames.toSeq)
        .getOrElse(Seq.empty)
      contract.fieldNames.filterNot(c => stored.exists(resolver(_, c)))
        .find(c => reserved.exists(resolver(_, c))).foreach(c =>
          throw new IllegalArgumentException(
            s"column name '$c' is reserved by the RENAME/DROP COLUMN " +
              "ledger and cannot re-enter the contract (files written " +
              "before the event still hold it physically) — pick " +
              "another name"))
    }
    statsCols.foreach { c =>
      require(!partitionFields.contains(c),
        s"stat column $c is a partition field — partition pruning already " +
          "covers it")
      val fld = contract.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"stat column $c is not in the dataset schema"))
      require(isStatType(fld.dataType),
        s"stat column $c has non-orderable-atomic type ${fld.dataType}")
    }
    bloomCols.foreach { c =>
      require(!partitionFields.contains(c),
        s"bloom column $c is a partition field — partition pruning " +
          "already covers it")
      val fld = contract.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"bloom column $c is not in the dataset schema"))
      require(isStatType(fld.dataType),
        s"bloom column $c has non-atomic type ${fld.dataType}")
      // a bloom column's TYPE is frozen: recorded filters hashed values
      // under the stored type, and a widened contract would probe with
      // different hash bits — silently pruning files that hold the key.
      // Widening a point-lookup key type is a deliberate migration
      // (rewrite, or re-create the dataset), not a side effect.
      prev.flatMap(_.schema).flatMap(_.fields.find(_.name == c))
        .foreach(stored => require(stored.dataType == fld.dataType,
          s"bloom column $c cannot widen from ${stored.dataType} to " +
            s"${fld.dataType} — recorded filters hash the stored type"))
    }
    // equality-delete key columns are a dataset property while any delete
    // file is live: every reader anti-joins on ONE key set
    deleteKeys.foreach { case (_, kc) =>
      require(kc.nonEmpty, "merge-on-read needs at least one key column")
      kc.foreach { c =>
        require(!partitionFields.contains(c),
          s"merge key $c cannot be a partition field")
        require(contract.fields.exists(_.name == c),
          s"merge key $c is not in the dataset schema")
      }
      prev.foreach(_.deletes.headOption.foreach(d =>
        require(d.keyCols == kc,
          s"dataset at $root has live equality-deletes keyed by " +
            s"${d.keyCols.mkString(",")}; cannot merge by ${kc.mkString(",")} " +
            "until foldDeletes clears them")))
    }
    // CHECK constraints (dataset policy, carried manifest to manifest):
    // enforced HERE — the ONE staging pass every NEW-OR-CHANGED-row lane
    // funnels through (appends, streams, merges, updateWhere/
    // replaceWhere rewrites) — as codegen'd raise_error guards, so a
    // violating row fails the write with the constraint NAMED and
    // nothing published. No second scan, and sound for nondeterministic
    // sources (the checked rows ARE the written rows). Lanes that
    // restage EXISTING rows verbatim (compact/fold/migrateSpec,
    // deleteWhere survivors) pass enforceConstraints = false: re-judging
    // unchanged history would let a forward-only ('novalidate') rule
    // deadlock maintenance and GDPR deletes on rows that predate it.
    // the dataset's recorded set rides EVERY manifest (meta + the
    // commit-retry drift check) regardless of whether this lane
    // enforces it on its rows
    val dsConstraints = prev.map(_.constraints).getOrElse(Seq.empty)
    val constraints =
      if (enforceConstraints) dsConstraints else Seq.empty
    val checked = constraints.foldLeft {
      // a THIN batch may omit nullable contract columns (the Widen
      // policy: its files read null for them) — a rule referencing one
      // must judge the EFFECTIVE row (null), not die unresolved; the
      // staged output keeps the batch's own columns
      import org.apache.spark.sql.functions.lit
      // missing-set comparison uses the SESSION resolver (case-insensitive
      // by default, like analyzer resolution): a batch column cased
      // differently from the contract is the SAME column — a
      // case-sensitive compare would add a duplicate null-filled sibling
      // and the rule would then die AMBIGUOUS_REFERENCE instead of
      // judging the batch's value
      val resolver = spark.sessionState.conf.resolver
      val missing =
        if (constraints.isEmpty) Seq.empty
        else contract.fields.toSeq
          .filterNot(f => df.columns.exists(c => resolver(c, f.name)))
      missing.foldLeft(df)((d, fd) =>
        d.withColumn(fd.name, lit(null).cast(fd.dataType)))
    } { case (d, (n, sql)) =>
      import org.apache.spark.sql.functions.{coalesce, concat, expr, lit, raise_error, struct, to_json, when}
      d.filter(when(coalesce(expr(sql), lit(false)), lit(true))
        .otherwise(raise_error(concat(
          lit(s"CHECK constraint '$n' ($sql) violated by row: "),
          to_json(struct(d.columns.toSeq.map(qc): _*))))))
    }.select(df.columns.toSeq.map(qc): _*)
    val staging = new Path(qroot,
      s".stage_${java.util.UUID.randomUUID().toString.take(12)}")
    val w0 = checked.write.mode("overwrite").partitionBy(partitionFields: _*)
      .format(fmtObj.name)
    dsCodec.fold(w0)(c => w0.option("compression", c)).save(staging.toString)
    // file lengths ride the same listing (zero extra RPCs) and are
    // recorded per entry: MoR read-side broadcast sizing and relation
    // size estimates answer from the manifest instead of the filesystem
    val stagedInfo = listDataFilesWithMtime(f, staging)
    val staged = stagedInfo.map(_._1)
    val stagedLen = stagedInfo.map(t => t._1 -> t._3).toMap
    // per-file stats while the batch is still small and local to this
    // write — one batch-sized pass, keyed by job-unique part-file name
    val statsByName =
      if (staged.isEmpty) Map.empty[String, StagedStats]
      else computeStats(spark, staging, fmtTok, statsCols,
        bloomCols.map(c =>
          c -> contract.fields.find(_.name == c).get.dataType))
    val stagedDirs = staged.map(parentDirOf).toSet
    // partitions a fold rewrote but staged nothing back into: every row
    // deleted — they must leave the manifest even with no replacement file
    val emptied = touchedDirs.map(_ -- stagedDirs).getOrElse(Set.empty)
    if (staged.isEmpty && emptied.isEmpty && deleteKeys.isEmpty &&
      extraRemoves.isEmpty && modeLabel == "replace_where" &&
        prev.flatMap(_.schema).contains(contract)) {
      // an idempotent backfill re-run (the predicate matched nothing and
      // the source was empty) changes nothing — publishing would burn a
      // snapshot id to record a no-op, and "rebuild day X" MUST be
      // re-runnable against an already-empty region (the replaceWhere
      // contract). Gated on the contract being UNCHANGED: an empty batch
      // that carries a WIDENING must not silently drop it — that shape
      // keeps the loud empty-batch error below (widen via
      // ALTER/addColumns instead).
      FsOps.deleteIfExists(f, staging)
      return cur.get
    }
    require(staged.nonEmpty || emptied.nonEmpty || deleteKeys.isDefined ||
      extraRemoves.nonEmpty,
      "empty batch — nothing to snapshot")
    val data = dataDir(qroot)
    staged.foreach { rel =>
      val dst = new Path(data, rel)
      f.mkdirs(dst.getParent)
      FsOps.renameOrFail(f, new Path(staging, rel), dst)
    }
    FsOps.deleteIfExists(f, staging)
    val id = cur.getOrElse(0) + 1
    // merge-on-read seq: main writes stamp the manifest id itself; BRANCH
    // writes live in a branch-LOCAL id space that must not collide with
    // the main-namespace seqs carried in from the fork (a fork-carried
    // equality delete with a larger main seq would suppress the branch's
    // own newer rows), so they stamp one past the largest seq visible in
    // the branch state — and fastForward re-stamps branch-added files to
    // the published main id, re-anchoring them in main's space
    val seq = branch match {
      case None => id
      case Some(_) =>
        (prev.toSeq.flatMap(p =>
          p.files.map(_.seq) ++ p.deletes.map(_.seq)) :+ 0).max + 1
    }
    // per-file Bloom filters land in ONE batch sidecar under blooms/
    // (the Iceberg-puffin shape — binary images per file per column would
    // bloat a text manifest; a sidecar parquet costs one small read per
    // batch at point-lookup time and nothing otherwise). Each image is
    // right-sized by bloom_sketch (the smallest fold within
    // BloomBuf.PersistFpp, 64 bits to 128 KiB) and records its own size,
    // so one sidecar may mix sizes. Crash before the manifest publish
    // leaves an unreferenced sidecar — vacuum food.
    val bloomRef: Option[String] =
      if (bloomCols.isEmpty || staged.isEmpty) None
      else {
        import spark.implicits._
        val rows = statsByName.toSeq.flatMap { case (rel, st) =>
          st.blooms.toSeq.map { case (c, img) => (rel, c, img) }
        }
        val rel =
          s"bl-${java.util.UUID.randomUUID().toString.take(12)}.parquet"
        // the filters were collected by computeStats, so the sidecar is
        // driver data — written in place without spawning a Spark job
        LocalParquet.write(rows.toDF("rel", "col", "filter"),
          bloomsDir(qroot).toString, rel)
        Some(rel)
      }
    // stage the equality-delete file (merge-on-read): the batch's key
    // rows, one small file in the dataset's format under deletes/, with
    // per-key min/max recorded so reads and folds can skip clean files
    val dAdds: Seq[DeleteEntry] = deleteKeys match {
      case None => Seq.empty
      case Some((keysDf, kc)) =>
        val typed = keysDf.select(kc.map(c => qc(c).cast(
          contract.fields.find(_.name == c).get.dataType).as(c)): _*)
        val dstage = new Path(qroot,
          s".stage_${java.util.UUID.randomUUID().toString.take(12)}")
        val dw = typed.distinct().coalesce(1).write.mode("overwrite")
          .format(fmtObj.name)
        dsCodec.fold(dw)(c => dw.option("compression", c)).save(dstage.toString)
        val parts = listDataFilesWithMtime(f, dstage)
        require(parts.length == 1,
          s"delete-key staging produced ${parts.length} files, expected 1")
        // rendered like computeStats, in one task, with no re-read; an
        // all-null key column records no entry: unknown, so it applies
        val dstats = minMaxStatRanges(typed.coalesce(1), kc.map(c => c -> c))
          .map(r => r.column -> ((r.lower.map(_.toString),
            r.upper.map(_.toString)))).toMap
        val rel = s"del-s$id-${parts.head._1}"
        f.mkdirs(deletesDir(qroot))
        FsOps.renameOrFail(f, new Path(dstage, parts.head._1),
          new Path(deletesDir(qroot), rel))
        FsOps.deleteIfExists(f, dstage)
        Seq(DeleteEntry(rel, id, kc, dstats, bytes = parts.head._3))
    }
    val removes: Seq[String] = (mode match {
      case SnapAppend => Seq.empty[String]
      case SnapOverwritePartitions =>
        val replaced = stagedDirs ++ emptied
        prev.toSeq.flatMap(_.files).map(_.rel)
          .filter(p => replaced(parentDirOf(p)))
    }) ++ extraRemoves
    val prevDeleteRels = prev.toSeq.flatMap(_.deletes).map(_.rel)
    val dRemoves: Seq[String] = if (dropDeletes) prevDeleteRels else Seq.empty
    // the first write DECLARES the dataset-fixed properties; every later
    // publish carries its head's (checked equal above, and per rebase)
    val declared = SnapMeta(modeLabel, None, fmtTok, dsCodec, statsCols,
      None, partitionFields, bloomCols = bloomCols)
    // one publish attempt onto head `h`: the validated contract, the
    // staged files and the equality-delete entry stamped with `seq` (a
    // rebased delete entry must keep suppressing everything strictly
    // older), and the rolling replay-tag window carried forward —
    // including through tag-less maintenance snapshots, which must not
    // evict it
    def attempt(h: Option[Resolved], contract: StructType, seq: Int,
        dRem: Seq[String]): (SnapMeta, Change) = {
      val meta = h.fold(declared)(metaOf(_, modeLabel)).copy(
        schema = Some(contract), partitionCols = partitionFields,
        batchTag = batchTag,
        recentTags = (h.toSeq.flatMap(_.recentTags) ++ batchTag)
          .takeRight(MaxRecentTags))
      val adds = staged.map(rel => entryFor(rel, statsByName.get(rel), seq,
        stagedLen.getOrElse(rel, -1L), bloomRef))
      (meta, Delta(adds, removes, dAdds.map(_.copy(seq = seq)), dRem))
    }
    val (meta, change) = attempt(prev, contract, seq, dRemoves)
    stageAs match {
      case Some(name) =>
        // WAP: the manifest parks under staged/<name> with its base id in a
        // header line; the committed pointer does NOT move. Data files are
        // already in data/ (immutable, referenced only by this staged
        // manifest — vacuum counts staged references, so they are safe
        // until the write is published or abandoned).
        f.mkdirs(stagedDir(qroot))
        FsOps.atomicWrite(f, new Path(stagedDir(qroot), name),
          s"wapbase=${cur.getOrElse(-1)}\n" + renderCommit(prev, meta, change))
        id
      case None =>
        // a rebase re-checks what the staged files were written under:
        // format/codec/stat and bloom declarations/spec, the rename
        // ledger (the files' physical column names), and the stat-column
        // types (staged min/max strings render the BASE type — a FLOAT
        // bound republished under a DOUBLE contract is the wrong-prune
        // hazard widenColumn strips for every other file)
        def fixedPropsHold(p: Resolved): Boolean =
          p.format == fmtTok && p.codec == dsCodec &&
            p.statsCols == statsCols && p.bloomCols == bloomCols &&
            p.renames == prev.toSeq.flatMap(_.renames) &&
            (p.partitionCols.isEmpty || p.partitionCols == partitionFields) &&
            statTypesStable(prev.flatMap(_.schema), p.schema, statsCols)
        def revalidate(h: Option[Resolved]): StructType =
          h.flatMap(_.schema).fold(df.schema)(stored =>
            graft.schema.SchemaEvolution.validate(
              stored, df.schema, partitionFields, evolution))
        val rebase: Option[Rebase] =
          if (branch.isDefined || ReadDependentModes(modeLabel)) None
          else if (mode == SnapAppend && extraRemoves.isEmpty && !dropDeletes)
            // METADATA-ONLY RETRY for a race-losing PURE APPEND (no
            // removes): its staged files are already in data/ and
            // conflict with nothing, so redoing the data write would be
            // pure waste — rebase onto the new head, RE-STAMP the seqs to
            // the new id (a winner's newer equality deletes must not
            // suppress this batch's rows) and re-publish (the Iceberg
            // retry posture). A merge-on-read batch (adds + one
            // equality-delete file) retries the same way IFF its key
            // range is provably disjoint from everything the interleaved
            // winners added and removed ([[mergeRebaseConflict]] — the
            // Iceberg snapshot-isolation retry).
            Some { (h, race) =>
              // the winner may have been a redelivery of this very batch
              h.filter(p => batchTag.exists(t =>
                p.batchTag.contains(t) || p.recentTags.contains(t)))
                .foreach(p => return p.id)
              // constraints must MATCH the base's: the staged rows were
              // guarded under those — an interleaved add_constraint means
              // this data was never checked against the new rule, so the
              // original race surfaces and the re-run re-stages under it
              h.foreach(p => if (!fixedPropsHold(p) ||
                p.constraints != dsConstraints) throw race)
              val contract = revalidate(h)
              if (dAdds.nonEmpty)
                mergeRebaseConflict(f, qroot, cur, h.map(_.id), dAdds,
                  contract, h.toSeq.flatMap(_.deletes)).foreach { why =>
                  val e = new java.util.ConcurrentModificationException(
                    s"merge-on-read batch lost a publish race at $qroot and " +
                      s"cannot rebase: $why — re-read the new state and " +
                      "re-merge")
                  e.initCause(race)
                  throw e
                }
              attempt(h, contract, h.fold(0)(_.id) + 1, dRemoves)
            }
          else if (RewriteRetryModes(modeLabel) && dAdds.isEmpty)
            // a ROW-PRESERVING maintenance rewrite (compact/fold) that
            // lost to a commuting winner rebases instead of aborting —
            // the Iceberg RewriteFiles retry. The staged output holds
            // exactly the rows of the files it retires, so the rebase
            // equals the winners-then-rewrite serialization whenever
            // every retired file is STILL LIVE at the head (a winner that
            // removed or replaced one invalidated the rewrite) and no
            // winner ADDED equality-deletes (the restaged rows' rebased
            // seq would outrank them). Retired delete entries a winner
            // already dropped retire as the intersection. A winner's pure
            // APPEND — even into a compacted directory — always commutes:
            // the explicit retire LIST (never a directory recomputation)
            // keeps its file live beside the output. Constraint drift
            // does not abort: restaged rows are pre-existing rows, and the
            // rebased manifest inherits the head's constraint set.
            Some { (h, race) =>
              def conflict(why: String): Nothing = {
                val e = new java.util.ConcurrentModificationException(
                  s"$modeLabel lost a publish race at $qroot and cannot " +
                    s"rebase: $why — re-read the new state and re-run the " +
                    "maintenance")
                e.initCause(race)
                throw e
              }
              val p = h.getOrElse(
                conflict("the dataset no longer has a committed snapshot"))
              if (!fixedPropsHold(p))
                conflict("an interleaved winner changed the dataset-fixed " +
                  "properties (format/codec/stats/bloom/partition spec/" +
                  "stat-column types) or the column-mapping ledger")
              val live = p.files.map(_.rel).toSet
              removes.find(!live(_)).foreach(rel =>
                conflict(s"an interleaved winner removed or replaced $rel, " +
                  "which this rewrite retires"))
              val headDel = p.deletes.map(_.rel).toSet
              (headDel -- prevDeleteRels).headOption.foreach(rel =>
                conflict(s"an interleaved winner added equality-delete " +
                  s"$rel — the restaged rows' rebased seq would outrank it"))
              attempt(h, revalidate(h), p.id + 1, dRemoves.filter(headDel))
            }
          // anything else that removes files resolved its base state and
          // must re-read: the race surfaces
          else None
        commit(f, qroot, branch, prev, meta, change, rebase)
    }
  }

  /** Bounded commit retries ([[commit]]) — each failure means yet
    * another concurrent publish landed first; past this many, surface the
    * race (the single-maintainer contract is clearly being violated at a
    * rate retrying can't absorb). */
  val MaxCommitRetries: Int = 5

  /** True iff every declared stat column has the SAME type in the retry
    * base's contract and the new head's — a commit retry past an
    * interleaved type widening (widenColumn, or a winner's widening
    * write) must surface the race instead: the staged entries' min/max
    * strings were rendered under the BASE type (a FLOAT-rendered bound
    * republished under a DOUBLE contract is the exact wrong-prune hazard
    * widenColumn's stale-stats path strips for every other file). Bloom
    * drift is separately caught by the bloomCols equality check
    * (widening RETIRES a bloom declaration). Missing schemas compare
    * stable — legacy manifests record no contract and no typed stats. */
  private def statTypesStable(
      base: Option[StructType], head: Option[StructType],
      statsCols: Seq[String]): Boolean = (base, head) match {
    case (Some(b), Some(h)) => statsCols.forall { c =>
      (b.fields.find(_.name == c), h.fields.find(_.name == c)) match {
        case (Some(bf), Some(hf)) => bf.dataType == hf.dataType
        case _ => true
      }
    }
    case _ => true
  }

  /** Mode labels whose lost races may rebase as a rewrite: the
    * ROW-PRESERVING maintenance rewrites — their staged output re-adds
    * exactly the rows of the files they retire, so ordering against a
    * commuting winner is immaterial. Content-CHANGING remove-bearing
    * lanes (overwrite, delete_where, replace_where, merge, rollback,
    * truncate) keep the loud abort: a winner interleaving with one of
    * those is a real write-write conflict whose resolution needs the
    * caller's intent. */
  private val RewriteRetryModes = Set("compact", "fold")

  /** Mode labels whose added rows were decided against the state they
    * read, so even a remove-free publish (a MERGE that only inserts, a
    * replaceWhere that matched nothing) never takes the pure-append
    * metadata retry: two MERGEs inserting one new key would both land,
    * breaking the per-key uniqueness [[changes]] assumes. */
  private val ReadDependentModes = Set("merge", "replace_where")

  /** Test-only interleave injection: consumed (reset to no-op) and invoked
    * by [[commit]] immediately before its next pointer flip — every
    * publish lane, main or branch — so specs can land a deterministic
    * concurrent writer between a publish's base resolution and its flip. */
  private[sink] var prePublishInterleave: () => Unit = () => ()

  // --------------------------------------------------------- commit step

  /** What one publish changes against the head it resolved. */
  private sealed trait Change

  /** Added and retired entries: a delta manifest, or — at a rebase — the
    * head's live set with them applied. */
  private case class Delta(
      adds: Seq[FileEntry] = Seq.empty, removes: Seq[String] = Seq.empty,
      dAdds: Seq[DeleteEntry] = Seq.empty,
      dRemoves: Seq[String] = Seq.empty) extends Change

  /** A whole live set (rollback, fast-forward, truncate, a stat strip, a
    * staged write): rendered as-is at a rebase or when `forceFull`, else
    * as its delta against the head. */
  private case class LiveSet(
      files: Seq[FileEntry], deletes: Seq[DeleteEntry],
      forceFull: Boolean = false) extends Change

  /** The head's declarations carried into a new manifest under `mode`
    * (no replay tag — a lane that publishes one sets it). Lanes change
    * only the fields they change, with `.copy`. */
  private def metaOf(h: Resolved, mode: String): SnapMeta =
    SnapMeta(mode, h.schema, h.format, h.codec, h.statsCols, None,
      h.partitionCols, h.ts, h.recentTags, h.bloomCols, h.constraints,
      h.renames)

  /** The manifest publishing `change` onto `head` writes, stamped with the
    * render instant — the one delta-or-rebase decision: a delta against
    * the head unless there is no head or the chain would reach
    * [[RebaseEvery]] (then a FULL manifest caps every future resolution's
    * chain walk). */
  private def renderCommit(
      head: Option[Resolved], meta: SnapMeta, change: Change): String = {
    val stamped = meta.copy(ts = Some(System.currentTimeMillis()))
    val rebase = head.forall(_.chainDepth + 1 >= RebaseEvery)
    val files = head.toSeq.flatMap(_.files)
    val dels = head.toSeq.flatMap(_.deletes)
    def full(fs: Seq[FileEntry], ds: Seq[DeleteEntry]): String =
      renderManifest(stamped, None, Seq.empty, Seq.empty, Some(fs),
        dFull = ds)
    def delta(d: Delta): String =
      renderManifest(stamped, head.map(_.id), d.adds, d.removes, None,
        d.dAdds, d.dRemoves)
    change match {
      case LiveSet(fs, ds, force) if force || rebase => full(fs, ds)
      case LiveSet(fs, ds, _) =>
        val (rels, dRels) = (fs.map(_.rel).toSet, ds.map(_.rel).toSet)
        val headRels = files.map(_.rel).toSet
        val headDRels = dels.map(_.rel).toSet
        delta(Delta(fs.filterNot(e => headRels(e.rel)),
          files.map(_.rel).filterNot(rels),
          ds.filterNot(d => headDRels(d.rel)),
          dels.map(_.rel).filterNot(dRels)))
      case d: Delta if rebase =>
        val (removed, dRemoved) = (d.removes.toSet, d.dRemoves.toSet)
        full(files.filterNot(e => removed(e.rel)) ++ d.adds,
          dels.filterNot(x => dRemoved(x.rel)) ++ d.dAdds)
      case d: Delta => delta(d)
    }
  }

  /** A lane's rebase check, run on each commit retry against the
    * re-resolved head, with the race that forced it: the meta and change
    * to republish there, or a throw naming the conflict. A check may also
    * return from its lane outright (a redelivered batch, a merge that
    * already landed). */
  private type Rebase = (Option[Resolved],
    java.util.ConcurrentModificationException) => (SnapMeta, Change)

  /** THE commit step every snapshot publish goes through: render `change`
    * onto `head` ([[renderCommit]]), consume [[prePublishInterleave]], and
    * flip main's MANIFEST — or branch `branch`'s HEAD — through
    * [[publishPointer]]. A lost race re-resolves the head and runs the
    * lane's `rebase` check, at most [[MaxCommitRetries]] times; a lane
    * without one aborts with the race, nothing flipped. Returns the
    * published id. */
  private def commit(
      f: FileSystem, qroot: Path, branch: Option[String],
      head: Option[Resolved], meta: SnapMeta, change: Change,
      rebase: Option[Rebase] = None): Int = {
    val msDir = branch.fold(snapshotsDir(qroot))(branchDir(qroot, _))
    @annotation.tailrec
    def publish(h: Option[Resolved], meta: SnapMeta, change: Change,
        retries: Int): Int = {
      val id = h.fold(0)(_.id) + 1
      val content = renderCommit(h, meta, change)
      val hook = prePublishInterleave
      prePublishInterleave = () => ()
      hook()
      val lost =
        try {
          branch match {
            case None => publishManifest(f, qroot, id, h.map(_.id), content)
            case Some(b) =>
              publishBranchManifest(f, qroot, b, id, h.map(_.id), content)
          }
          None
        } catch {
          case race: java.util.ConcurrentModificationException => Some(race)
        }
      (lost, rebase) match {
        case (None, _) => id
        case (Some(race), Some(check)) if retries < MaxCommitRetries =>
          val now = branch.fold(mainPointer(f, qroot))(
            branchHeadOpt(f, qroot, _)).map(resolve(f, msDir, _))
          val (m, c) = check(now, race)
          publish(now, m, c, retries + 1)
        case (Some(race), _) => throw race
      }
    }
    publish(head, meta, change, 0)
  }

  /** Why a race-losing merge-on-read batch may NOT rebase onto the new
    * head — None when provably safe. Safe means: every interleaved winner
    * manifest (ids in (base, cur]) is a readable DELTA whose added data
    * files, added delete files, AND removed files/deletes (resolved
    * against the loser's base state — a predicate delete or overwrite
    * the batch's keys intersect must abort, the Iceberg row-level
    * snapshot-isolation validation) are key-range-DISJOINT from this
    * batch's recorded key range on at least one key column
    * ([[provablyDisjoint]]), and no winner changed the live delete-key
    * contract. Missing stats on
    * either side, a full (rebased) interleaved manifest (its changes are
    * unattributable), or an intersecting range all return the reason —
    * conservative, never a silent wrong merge. */
  private def mergeRebaseConflict(
      f: FileSystem, qroot: Path, baseCur: Option[Int], cur: Option[Int],
      dAdds: Seq[DeleteEntry], contract: StructType,
      headDeletes: Seq[DeleteEntry]): Option[String] = {
    val mine = dAdds.head
    val keyCols = mine.keyCols
    // the live delete-key contract must still be ours (a winner may have
    // folded everything and re-merged under different keys)
    headDeletes.find(_.keyCols != keyCols).foreach(d =>
      return Some(s"the head's live equality-deletes are keyed by " +
        s"${d.keyCols.mkString(",")}, not ${keyCols.mkString(",")}"))
    // disjoint on ANY key column ⇒ no key can be in both batches
    def disjoint(
        theirs: Map[String, (Option[String], Option[String])]): Boolean =
      keyCols.exists(c =>
        provablyDisjoint(contract, c, mine.stats.get(c), theirs.get(c)))
    val ms = snapshotsDir(qroot)
    val cache: ManifestCache = scala.collection.mutable.Map.empty
    // the base state the loser resolved: removed rels look their key
    // stats up here (a delta manifest's remove lines are bare paths)
    lazy val baseState: Option[Resolved] =
      try baseCur.map(resolve(f, ms, _, cache))
      catch {
        // an interleaved expire reclaimed the base chain: removed rels
        // can't be attributed — every remove becomes a conflict below
        case _: IllegalStateException => None
      }
    val interleaved = committedIds(f, qroot, cur)
      .filter(_ > baseCur.getOrElse(0))
      .map(id => readSnapshotFile(f, ms, id, cache))
    // row-preserving rewrites hold no NEW keys and remove only files
    // whose rows they re-add verbatim — their files carry rows this
    // batch's delete would have suppressed in the originals just the
    // same (both have seq < the rebased id), so an interleaved
    // maintain() never blocks a mergeStream batch's rebase ([[SkipModes]]
    // — the incremental consumers' row-preserving set)
    // entries interleaved winners ADDED then possibly removed later —
    // a later remove's stats may live here rather than in the base
    val interAdds = scala.collection.mutable.Map.empty[String, FileEntry]
    val interDAdds = scala.collection.mutable.Map.empty[String, DeleteEntry]
    interleaved.foreach { w =>
      (w.adds ++ w.full.getOrElse(Seq.empty)).foreach(e =>
        interAdds(e.rel) = e)
      (w.dAdds ++ w.dFull.getOrElse(Seq.empty)).foreach(d =>
        interDAdds(d.rel) = d)
      if (SkipModes(w.mode)) ()
      else {
        if (w.full.isDefined)
          return Some(s"interleaved snapshot s${w.id} is a full manifest " +
            "— its own changes cannot be attributed for the " +
            "key-disjointness check")
        w.adds.find(e => !disjoint(e.stats)).foreach(e =>
          return Some(s"interleaved snapshot s${w.id} added data file " +
            s"${e.rel} whose recorded key range cannot be proven disjoint " +
            s"from this batch's (record stats for ${keyCols.mkString(",")} " +
            "via statsColumns to enable this check)"))
        w.dAdds.find(d => !disjoint(d.stats)).foreach(d =>
          return Some(s"interleaved snapshot s${w.id} added " +
            s"equality-delete ${d.rel} whose key range intersects this " +
            "batch's"))
        // REMOVED data files: a winner that deleted or replaced rows
        // (delete_where, overwrite, CoW merge, rollback) conflicts when
        // this batch's keys can touch the removed rows — rebasing would
        // re-assert rows the winner just removed without the check
        w.removes.foreach { rel =>
          val entry = interAdds.get(rel)
            .orElse(baseState.flatMap(_.files.find(_.rel == rel)))
          if (!entry.exists(e => disjoint(e.stats)))
            return Some(s"interleaved snapshot s${w.id} removed data file " +
              s"$rel whose key range cannot be proven disjoint from this " +
              "batch's")
        }
        // REMOVED equality-deletes outside a fold resurrect suppressed
        // rows (rollback does this) — same rule
        w.dRemoves.foreach { rel =>
          val entry = interDAdds.get(rel)
            .orElse(baseState.flatMap(_.deletes.find(_.rel == rel)))
          if (!entry.exists(d => disjoint(d.stats)))
            return Some(s"interleaved snapshot s${w.id} removed " +
              s"equality-delete $rel whose key range cannot be proven " +
              "disjoint from this batch's")
        }
      }
    }
    None
  }

  /** Publish one snapshot manifest and flip the pointer to it, with the
    * two safety rails every publish needs: an orphan `s<id>` from a
    * crashed prior writer is REPLACED, not died on (the
    * [[FsOps.publishGeneration]] discipline — a crash between the
    * manifest write and the flip leaves the committed pointer at
    * `s<id-1>`, so the next write computes the same id); and a
    * concurrent-writer race is detected rather than silently clobbered —
    * if the committed pointer moved since this write resolved its base,
    * the publish aborts loudly with nothing flipped (optimistic
    * concurrency on the single atomic object the layer already has; the
    * staged files become vacuum-reclaimable orphans). */
  private[sink] def publishManifest(
      f: FileSystem, qroot: Path, id: Int, expectedCur: Option[Int],
      content: String): Unit =
    publishPointer(f, snapshotsDir(qroot), id, expectedCur, content,
      () => mainPointer(f, qroot), () => FsOps.writeManifest(f, qroot, s"s$id"),
      now => s"snapshot write lost a race at $qroot: resolved base " +
        s"${expectedCur.fold("(none)")(c => s"s$c")} but the committed " +
        s"pointer is now ${now.fold("(none)")(c => s"s$c")} — " +
        "another writer published first; re-read and retry (this " +
        "dataset's write surface is single-maintainer by contract)")

  /** The one pointer-publish discipline both lineages share (main's
    * MANIFEST, a branch's HEAD): check the pointer BEFORE touching
    * `s<id>` — in the common same-computed-id race the winner has
    * already committed s<id>, and deleting it first would destroy the
    * WINNING write (a pointer at a nonexistent manifest is a bricked
    * dataset); only when the pointer still matches can an existing s<id>
    * be a crashed writer's orphan, safe to replace. Re-check after the
    * write, before the flip — narrows the remaining window to flip size
    * (detection, not a lock; the single-writer contract still governs,
    * and losers' staged files are vacuum food). */
  private def publishPointer(
      f: FileSystem, msDir: Path, id: Int, expectedCur: Option[Int],
      content: String, readPtr: () => Option[Int], flip: () => Unit,
      raceMsg: Option[Int] => String): Unit = {
    def raceLost(now: Option[Int]): Nothing =
      throw new java.util.ConcurrentModificationException(raceMsg(now))
    val before = readPtr()
    if (before != expectedCur) raceLost(before)
    val p = new Path(msDir, s"s$id")
    f.mkdirs(msDir)
    FsOps.deleteIfExists(f, p)
    val out = f.create(p, false)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val after = readPtr()
    if (after != expectedCur) {
      FsOps.deleteIfExists(f, p)
      raceLost(after)
    }
    flip()
  }

  /**
   * ROLLBACK: make an older retained snapshot the current state again —
   * published as a NEW snapshot (mode `rollback`) whose live set is the
   * target's, so the rolled-back-over states remain time-travelable for
   * audit until [[expire]] reclaims them ("bad batch landed, restore
   * yesterday" without rewriting a byte — metadata cost only). The new
   * manifest is a delta against the current snapshot when the chain
   * allows, a rebased full manifest otherwise. Returns the new id.
   */
  def rollback(spark: SparkSession, root: String, toId: Int): Int = {
    val (f, qroot, cur) = headId(spark, root)
    require(toId <= cur, s"cannot roll back to s$toId: newest is s$cur")
    if (toId == cur) return cur
    val cache: ManifestCache = scala.collection.mutable.Map.empty
    val target = resolve(f, snapshotsDir(qroot), toId, cache)
    val live = resolve(f, snapshotsDir(qroot), cur, cache)
    // the replay window is the HEAD's (rollback rewinds data, not the
    // stream guard — a re-delivered recent batch must still converge)
    // constraints follow the TARGET (like its schema/stat declarations):
    // the restored state must re-declare what held when it was current —
    // a live-carried rule could reference a column the target predates
    // a legacy (v1) target records no schema, and neither does the
    // restored head: reads infer from the files exactly as time travel
    // to the target does
    commit(f, qroot, None, Some(live),
      metaOf(target, "rollback").copy(recentTags = live.recentTags,
        renames = live.renames),
      LiveSet(target.files, target.deletes))
  }

  /**
   * NON-DESTRUCTIVE compaction: partitions whose live file count exceeds
   * `targetFilesPerPartition` are rewritten into that many files and
   * published as a new snapshot (history mode `compact`); every older
   * snapshot keeps reading the original fragments until [[expire]]
   * reclaims them — contrast [[PartitionedSink.compactInPlace]], whose
   * swap retires the fragments immediately. This is what the append lane
   * needs operationally: micro-batches land one file per partition per
   * batch, fragment counts grow linearly, and the streaming-side fix is
   * a maintenance rewrite that cannot disturb concurrent readers.
   *
   * Scale shape: only over-fragmented partitions' files are read (the
   * manifest names them — untouched partitions ride through by
   * reference), and the rewrite repartitions by the partition columns so
   * each partition compacts in parallel on its own task. Returns the new
   * snapshot id, or None when nothing is fragmented.
   */
  def compact(
      spark: SparkSession, root: String, partitionFields: Seq[String],
      targetFilesPerPartition: Int = 1,
      sortBy: Seq[String] = Seq.empty): Option[Int] = {
    require(targetFilesPerPartition >= 1, "need at least one file")
    val (_, qroot, m) = resolveHead(spark, root)
    sortBy.foreach { c =>
      require(m.schema.forall(s => s.fields.exists(_.name == c)),
        s"sort column $c is not in the snapshot schema")
      require(!partitionFields.contains(c),
        s"sort column $c is a partition field — directory routing already " +
          "clusters it")
    }
    val fragmented = m.files.groupBy(e => parentDirOf(e.rel))
      .filter(_._2.length > targetFilesPerPartition)
    if (fragmented.isEmpty) return None
    // rewrite under the RECORDED contract, not per-file inference — a
    // widened dataset's old fragments must compact into contract-typed
    // files, not resurrect their pre-widening footer schemas. Equality
    // deletes are APPLIED during the rewrite (the rewritten files' newer
    // seq would otherwise let suppressed rows resurrect) — compaction
    // doubles as a partial fold for the partitions it touches
    val frag = scanWithDeletes(spark, qroot, m,
      fragmented.values.flatten.toSeq)
    // one task (→ one file) per partition value under the partition-column
    // repartition; a >1 target without a sort key splits each partition
    // into exactly that many balanced tasks ([[splitPerPartition]]).
    // WITH a sort key, the split is a RANGE partitioning over
    // (partition cols, sortBy) + an in-task sort: every rewritten file
    // covers a contiguous sort-key range, so the manifest's per-file
    // min/max stats become (near-)disjoint and a stat-pruned [[read]]
    // skips sibling files — clustered compaction is what turns recorded
    // stats into actual file pruning on the append lane
    val rewritten = (targetFilesPerPartition, sortBy) match {
      case (1, Nil) => frag.repartition(partitionFields.map(qc): _*)
      case (1, s) => frag.repartition(partitionFields.map(qc): _*)
        .sortWithinPartitions(s.map(qc): _*)
      case (t, Nil) => splitPerPartition(frag, partitionFields, t)
      case (t, s) =>
        // clustered split with a PER-PARTITION bound: ntile(t) over each
        // partition's sort order assigns contiguous key ranges to at most
        // t buckets per partition value; routing on (partition, bucket)
        // by RANGE keeps every task's slice of a partition a contiguous
        // bucket run (equal route keys land whole on one task; any merge
        // under task pressure joins ADJACENT buckets), so each partition
        // compacts to ≤ t files, every file a contiguous sort range —
        // and the fragmentation predicate (> t files) can never re-fire
        // on already-compacted output. The previous global
        // repartitionByRange over the raw keys could not promise the
        // per-partition cap (range-task boundaries straddle partition
        // values), so a dir could stay "fragmented" forever and a
        // scheduled maintain() would rewrite the same bytes every pass.
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(partitionFields.map(qc): _*)
          .orderBy(s.map(qc): _*)
        frag
          .withColumn("__bkt", org.apache.spark.sql.functions.ntile(t).over(w))
          .repartitionByRange(fragmented.size * t,
            (partitionFields :+ "__bkt").map(qc): _*)
          .sortWithinPartitions((partitionFields ++ s).map(qc): _*)
          .drop("__bkt")
    }
    Some(writeInternal(rewritten, root, partitionFields,
      SnapOverwritePartitions, "compact", graft.schema.SchemaEvolution.Widen,
      Some(m), enforceConstraints = false))
  }

  /**
   * CDC MERGE (upsert + delete) published as a NEW SNAPSHOT —
   * [[PartitionedSink.mergeUpsert]]'s per-key semantics made
   * non-destructive and file-bounded: the files holding a batch key are
   * rewritten without it and leave the live set by name (they stay on
   * disk, so the pre-merge state remains time-travelable until
   * [[expire]] reclaims it); every other file rides through by
   * reference, even in the partitions the merge touches.
   *
   * Semantics match the sink: per key, a non-delete row REPLACES the
   * stored row (inserting if absent; the replacement may land in a
   * different partition and the old copy leaves its old one), a
   * `deleteCol=true` row removes the key wherever it lives; batch keys
   * must be unique (checked). The rewrite is [[rewriteMatching]], the
   * core DELETE and UPDATE share: one [min, max] bound over the batch
   * keys stat-prunes the candidates (when the dataset records stats or
   * blooms for a key column), a semi join on the keys names the files
   * holding one, an anti join drops the keys from them, and the upserts
   * publish in the same snapshot. A batch that changes nothing (e.g.
   * deletes of absent keys) publishes nothing. Returns the new snapshot
   * id (the current one for a no-op).
   */
  def mergeUpsert(
      spark: SparkSession, root: String, updates: DataFrame,
      partitionFields: Seq[String], keyFields: Seq[String],
      deleteCol: Option[String] = None,
      evolution: graft.schema.SchemaEvolution.Policy =
        graft.schema.SchemaEvolution.Widen,
      branch: Option[String] = None): Int = {
    import org.apache.spark.sql.functions.broadcast
    require(keyFields.nonEmpty, "mergeUpsert needs at least one key field")
    require(!keyFields.exists(partitionFields.contains),
      "partition fields cannot be merge keys (a key that IS the partition " +
        "value cannot move; route through a payload column instead)")
    // PIN the batch for the statement's lifetime: the dup-key guard, the
    // key-range bound, the discovery join and the staging write each
    // execute the updates frame (a SQL MERGE arrives as source⋈target
    // projections — re-deriving that join per action re-scans the table
    // each time). O(batch) state, spilled past memory, dropped before
    // returning — never a cross-run cache.
    val pinned = updates.persist()
    try {
      val upserts = mergeBatchUpserts(pinned, keyFields, deleteCol)
      val allKeys = pinned.select(keyFields.map(qc): _*).distinct()
      val (_, _, m) = resolveHead(spark, root, branch = branch)
      // update keys broadcast: CDC batches are small by definition
      rewriteMatching(spark, root, m, partitionFields, "merge", 1,
        deriveFor = (_, statsCols, bloomCols) => minMaxStatRanges(allKeys,
          keyFields.filter((statsCols ++ bloomCols).contains).map(k => k -> k)),
        discover = _.join(broadcast(allKeys), keyFields, "left_semi"),
        transform = _.join(broadcast(allKeys), keyFields, "left_anti"),
        adds = Some(upserts), evolution = evolution, branch = branch).get
    } finally pinned.unpersist(): Unit
  }

  /** The upsert rows of a pinned merge batch (its `deleteCol=true` rows
    * and the delete column itself dropped), after checking that no key
    * repeats — the batch check both merge lanes share. */
  private def mergeBatchUpserts(
      pinned: DataFrame, keyFields: Seq[String],
      deleteCol: Option[String]): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, count, lit}
    val dupKeys = pinned.groupBy(keyFields.map(qc): _*)
      .agg(count(lit(1)).as("__n")).filter(col("__n") > 1).limit(1).count()
    require(dupKeys == 0L,
      s"update batch has multiple rows for one (${keyFields.mkString(",")}) key")
    val isDelete = deleteCol
      .map(c => coalesce(qc(c), lit(false))).getOrElse(lit(false))
    deleteCol.foldLeft(pinned.filter(!isDelete))((d, c) => d.drop(c))
  }

  /**
   * MERGE-ON-READ CDC (Iceberg-v2-style equality deletes): the same
   * per-key semantics as [[mergeUpsert]] — a non-delete row replaces the
   * stored row wherever it lives, a `deleteCol=true` row removes the key —
   * but the WRITE is O(batch), not O(touched files): upsert rows
   * land as ordinary data files (seq = the new snapshot id) and ONE small
   * equality-delete file records every key the batch touches; no base
   * data is read, located, or rewritten. [[read]] suppresses matching
   * rows in STRICTLY OLDER files (broadcast anti-join, seq- and
   * key-range-pruned), so the batch's own upserts and any later
   * re-insert are never suppressed. Read cost grows with the live
   * delete-file count — run [[foldDeletes]] (or [[maintain]]) on a
   * cadence to fold them back into plain data files.
   *
   * This is the CDC lane to choose when change batches are small and
   * frequent relative to file size (the 100 TB streaming-CDC shape):
   * [[mergeUpsert]]'s copy-on-write rewrites every file holding a batch
   * key, and remains better for rare, large batches whose reads must
   * stay join-free.
   *
   * Returns the published snapshot id (the current one unchanged for an
   * empty batch).
   */
  def mergeDeltas(
      spark: SparkSession, root: String, updates: DataFrame,
      partitionFields: Seq[String], keyFields: Seq[String],
      deleteCol: Option[String] = None,
      evolution: graft.schema.SchemaEvolution.Policy =
        graft.schema.SchemaEvolution.Widen,
      batchTag: Option[String] = None): Int = {
    require(keyFields.nonEmpty, "mergeDeltas needs at least one key field")
    require(!keyFields.exists(partitionFields.contains),
      "partition fields cannot be merge keys (a key that IS the partition " +
        "value cannot move; route through a payload column instead)")
    val (_, _, m) = resolveHead(spark, root,
      " — land the initial state with write() first")
    // PIN the batch (the mergeUpsert discipline): the emptiness probe,
    // the dup-key guard, the upsert staging write and the delete-key
    // staging write each execute the updates frame otherwise. O(batch)
    // state, dropped before returning.
    val pinned = updates.persist()
    try {
      if (pinned.isEmpty) return m.id
      val upserts = mergeBatchUpserts(pinned, keyFields, deleteCol)
      val allKeys = pinned.select(keyFields.map(qc): _*)
      writeInternal(upserts, root, partitionFields, SnapAppend, "merge_mor",
        evolution, Some(m), batchTag = batchTag,
        deleteKeys = Some((allKeys, keyFields)))
    } finally pinned.unpersist(): Unit
  }

  /**
   * Fold every live equality-delete file back into plain data: partitions
   * holding files any delete can still touch (seq- and key-range-pruned)
   * are rewritten with the deletes APPLIED, published as one new snapshot
   * that drops all delete entries — after which reads join nothing and
   * [[mergeUpsert]]-style key re-merges are unconstrained. Untouched
   * partitions ride through by reference; a delete set that touches
   * nothing folds as a metadata-only snapshot. Older snapshots keep
   * reading the original files + deletes until [[expire]] reclaims them.
   * Returns the new snapshot id, or None when no deletes are live.
   */
  def foldDeletes(
      spark: SparkSession, root: String,
      partitionFields: Seq[String],
      targetFilesPerPartition: Int = 1): Option[Int] = {
    require(targetFilesPerPartition >= 1, "need at least one file")
    val (f, qroot, m) = resolveHead(spark, root)
    // the dispatch, re-decided against every head a lost race re-resolves
    // (a winner may have added files or deletes that change it): nothing
    // to fold; a data fold of the partitions any delete still touches,
    // published against `h`, the head it scanned; or
    // — every delete dead weight (already folded by compaction or
    // key-range-pruned everywhere) — a metadata-only drop of the entries,
    // which is safe to recompute wholesale against any head
    val dispatch: Resolved => (SnapMeta, Change) = h => {
      if (h.deletes.isEmpty) return None
      val affectedDirs = deleteDirs(h, h.deletes)
      if (affectedDirs.nonEmpty) {
        val entries = h.files.filter(e => affectedDirs(parentDirOf(e.rel)))
        val folded = scanWithDeletes(spark, qroot, h, entries)
        return Some(writeInternal(
          splitPerPartition(folded, partitionFields, targetFilesPerPartition),
          root, partitionFields, SnapOverwritePartitions, "fold",
          graft.schema.SchemaEvolution.Widen, Some(h),
          touchedDirs = Some(affectedDirs), dropDeletes = true,
          enforceConstraints = false))
      }
      (metaOf(h, "fold"), Delta(dRemoves = h.deletes.map(_.rel)))
    }
    val (meta, change) = dispatch(m)
    Some(commit(f, qroot, None, Some(m), meta, change,
      Some((h, race) => dispatch(h.getOrElse(throw race)))))
  }

  /** Conservative [[StatRange]]s implied by a predicate's top-level AND
    * conjuncts: for `column <op> literal` shapes over recorded stat
    * columns, every matching row provably lies inside the derived range,
    * so a file whose recorded min/max cannot intersect it cannot hold a
    * match. Strict bounds relax to inclusive (a superset — still
    * conservative); unrecognized shapes derive nothing (no pruning, never
    * wrong pruning). A comparison also implies the column is non-null in
    * any matching row, which [[survives]]' all-null-file rule exploits. */
  /** `statsCols` governs range derivation; `nullCols` governs
    * `IS [NOT] NULL` derivation. */
  private def statRangesFromCondition(
      e: org.apache.spark.sql.catalyst.expressions.Expression,
      statsCols: Seq[String], sessionTz: String,
      nullCols: Seq[String] = Seq.empty): Seq[StatRange] = {
    import org.apache.spark.sql.catalyst.expressions._
    // a constant bound (a Literal, or the foldable cast analysis wraps an
    // int bound on a bigint column in) renders to the EXACT string form
    // the recorded stats use — Cast-to-string under the SESSION timezone,
    // the same expression computeStats evaluates. Converting to external
    // types first (java.sql.Timestamp.toString prints the JVM-default
    // zone) would shift timestamp bounds off the recorded min/max and
    // wrongly prune files holding matches.
    def asLit(x: Expression): Option[Literal] = (x match {
      case l: Literal => Some(l)
      case f if f.foldable => Some(Literal.create(f.eval(), f.dataType))
      case _ => None
    }).filter(_.value != null)
    def sv(x: Expression): Option[Any] = asLit(x).map(l =>
      Cast(l, StringType, Some(sessionTz)).eval().toString)
    // the INTERNAL value behind an equality bound, alongside its string
    // rendering: the Bloom probe must hash the exact bytes the write side
    // hashed, and a tz-rendered timestamp string cannot re-parse to them
    // under a DST-ambiguous local time
    def iv(x: Expression): Option[Seq[(Any, DataType)]] =
      asLit(x).map(l => Seq((l.value, l.dataType)))
    def attr(x: Expression): Option[String] = x match {
      case a: AttributeReference if statsCols.contains(a.name) => Some(a.name)
      // a caller-built Column is an UNRESOLVED tree — bare single-part
      // names only (a qualified name can't be trusted to be this dataset)
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
          if u.nameParts.length == 1 && statsCols.contains(u.nameParts.head) =>
        Some(u.nameParts.head)
      case _ => None
    }
    def range(c: Option[String], lo: Option[Any], hi: Option[Any]) =
      c.map(n => StatRange(n, lo, hi)).toSeq
    def nullAttr(x: Expression): Option[String] = x match {
      case a: AttributeReference if nullCols.contains(a.name) => Some(a.name)
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
          if u.nameParts.length == 1 && nullCols.contains(u.nameParts.head) =>
        Some(u.nameParts.head)
      case _ => None
    }
    def eqRange(a: Expression, b: Expression): Seq[StatRange] =
      attr(a).map(n =>
        StatRange(n, sv(b), sv(b), exactEq = iv(b))).toSeq ++
        attr(b).map(n =>
          StatRange(n, sv(a), sv(a), exactEq = iv(a))).toSeq
    // a same-column disjunction of equalities (`c IN (...)`, chained ORs)
    // as (column, constant literals) — None the moment any disjunct isn't
    // one (a partial set would prune files holding the unmatched branch)
    def eqDisjuncts(x: Expression): Option[(String, Seq[Literal])] = x match {
      case Or(l, r) =>
        for {
          (cl, vl) <- eqDisjuncts(l)
          (cr, vr) <- eqDisjuncts(r)
          if cl == cr
        } yield (cl, vl ++ vr)
      case EqualTo(a, b) =>
        attr(a).flatMap(n => asLit(b).map(n -> Seq(_))).orElse(
          attr(b).flatMap(n => asLit(a).map(n -> Seq(_))))
      case EqualNullSafe(a, b) =>
        // `c <=> v` with v non-null matches exactly the rows `c = v` does
        attr(a).flatMap(n => asLit(b).map(n -> Seq(_))).orElse(
          attr(b).flatMap(n => asLit(a).map(n -> Seq(_))))
      case In(a, vs) =>
        attr(a).flatMap { n =>
          val lits = vs.map(asLit)
          if (lits.forall(_.isDefined)) Some(n -> lits.map(_.get)) else None
        }
      case _ => None
    }
    def disjunctive(x: Expression): Seq[StatRange] =
      eqDisjuncts(x).filter(_._2.length <= MaxInPruneValues).map {
        case (n, lits) =>
          StatRange(n, anyOf = Some(lits.map(l =>
            Cast(l, StringType, Some(sessionTz)).eval().toString)),
            exactEq = Some(lits.map(l => (l.value, l.dataType))))
      }.toSeq
    e match {
      case And(l, r) =>
        statRangesFromCondition(l, statsCols, sessionTz, nullCols) ++
          statRangesFromCondition(r, statsCols, sessionTz, nullCols)
      case IsNull(a) =>
        nullAttr(a).map(n => StatRange(n, nullness = Some(true))).toSeq
      case IsNotNull(a) =>
        nullAttr(a).map(n => StatRange(n, nullness = Some(false))).toSeq
      case EqualTo(a, b) => eqRange(a, b)
      case EqualNullSafe(a, b) if asLit(a).isDefined || asLit(b).isDefined =>
        eqRange(a, b) // non-null literal side: same rows as EqualTo
      case GreaterThan(a, b) =>
        range(attr(a), sv(b), None) ++ range(attr(b), None, sv(a))
      case GreaterThanOrEqual(a, b) =>
        range(attr(a), sv(b), None) ++ range(attr(b), None, sv(a))
      case LessThan(a, b) =>
        range(attr(a), None, sv(b)) ++ range(attr(b), sv(a), None)
      case LessThanOrEqual(a, b) =>
        range(attr(a), None, sv(b)) ++ range(attr(b), sv(a), None)
      case d @ (_: In | _: Or) => disjunctive(d)
      case _ => Seq.empty
    }
  }

  /** Resolve a caller-built condition against the recorded contract via
    * an EMPTY probe frame (analysis validates every referenced column
    * loudly) and derive the [[StatRange]]s its conjuncts imply — the
    * [[deleteWhere]] pruning front door, shared so tests pin the
    * derivation directly. */
  private[sink] def deriveRanges(
      spark: SparkSession, schema: StructType,
      condition: org.apache.spark.sql.Column,
      rangeCols: Seq[String], nullCols: Seq[String] = Seq.empty)
      : Seq[StatRange] =
    spark.createDataFrame(new java.util.ArrayList[Row](), schema)
      .filter(condition).queryExecution.analyzed.collect {
        case fl: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          statRangesFromCondition(fl.condition, rangeCols,
            spark.sessionState.conf.sessionLocalTimeZone, nullCols)
      }.flatten

  /**
   * PREDICATE ROW DELETE — `DELETE WHERE cond`, the GDPR/retention shape —
   * published as one new snapshot. FILE-level copy-on-write: the files
   * that must rewrite are narrowed three ways before a byte moves —
   * (1) [[StatRange]]s derived from the condition's conjuncts drop files
   * whose recorded min/max provably cannot hold a match, (2) partition
   * pruning applies inside the discovery scan (the condition reaches the
   * scan as an ordinary filter over partition columns), (3) the discovery
   * scan itself (column-pruned to the condition's columns) names the
   * exact files HOLDING matching rows. Only those files rewrite — their
   * surviving rows restage (live equality-deletes applied, like
   * [[compact]]) and the originals leave the manifest by name; every
   * other file rides through untouched. SQL null semantics: only rows
   * where the condition is TRUE delete; false-or-null rows survive.
   * Older snapshots keep reading the originals until [[expire]].
   * Returns the new snapshot id, or None when no row matches.
   */
  def deleteWhere(
      spark: SparkSession, root: String,
      partitionFields: Seq[String],
      condition: org.apache.spark.sql.Column,
      targetFilesPerPartition: Int = 1): Option[Int] = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    val (_, _, m) = resolveHead(spark, root)
    rewriteWhere(spark, root, m, partitionFields, condition, "delete_where",
      targetFilesPerPartition,
      rows => rows.filter(not(coalesce(condition, lit(false)))))
  }

  /**
   * PREDICATE ROW UPDATE — `UPDATE SET c = expr WHERE cond`: the same
   * three-way-narrowed FILE-level copy-on-write as [[deleteWhere]], with
   * the rewritten files' matching rows carrying the assignments instead
   * of disappearing. Every right-hand side evaluates against the
   * ORIGINAL row (one projection — a later assignment never sees an
   * earlier one's result, SQL UPDATE semantics), casts to the column's
   * recorded type, and only rows where the condition is TRUE change
   * (false-or-null rows ride through). An assignment to a PARTITION
   * column moves its rows to the new partition — the rewrite stages
   * under the same write discipline as any append. SQL reaches this
   * through `UPDATE tbl SET ...` ([[graft.sources.SnapshotDmlRule]]).
   * Returns the new snapshot id, or None when no row matches.
   */
  def updateWhere(
      spark: SparkSession, root: String,
      partitionFields: Seq[String],
      condition: org.apache.spark.sql.Column,
      assignments: Seq[(String, org.apache.spark.sql.Column)],
      targetFilesPerPartition: Int = 1): Option[Int] = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    val (_, _, m) = resolveHead(spark, root)
    val assign = updateAssignments(m, assignments)
    rewriteWhere(spark, root, m, partitionFields, condition, "update_where",
      targetFilesPerPartition,
      rows =>
        rows.select(assign(rows.schema, coalesce(condition, lit(false))): _*))
  }

  /** The UPDATE assignments shared by [[updateWhere]] and
    * [[updateWhereIn]]: validated UP FRONT against the contract the
    * statement's head `m` records (the transform only runs when a file
    * matches, and a typo'd column must not report the same success-shaped
    * None as a legitimate no-match; legacy schema-less datasets check
    * against the rows), then ONE projection over the rows' schema — every
    * right-hand side sees the pre-update row, casts to the column's type,
    * and applies only where `matched` holds (the condition never
    * re-evaluates against an already-updated column). */
  private def updateAssignments(
      m: Resolved, assignments: Seq[(String, org.apache.spark.sql.Column)])
      : (StructType, org.apache.spark.sql.Column) =>
        Seq[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.when
    require(assignments.nonEmpty, "UPDATE needs at least one assignment")
    require(assignments.map(_._1).distinct.length == assignments.length,
      s"duplicate assignment targets: ${assignments.map(_._1).mkString(",")}")
    m.schema.foreach(sc =>
      assignments.foreach { case (c, _) =>
        require(sc.fieldNames.contains(c),
          s"unknown UPDATE target column '$c' — the recorded contract " +
            s"has ${sc.fieldNames.mkString(", ")}")
      })
    val byCol = assignments.toMap
    (schema, matched) => {
      assignments.foreach { case (c, _) =>
        require(schema.fieldNames.contains(c),
          s"unknown UPDATE target column '$c'") }
      schema.fields.toSeq.map { fd =>
        byCol.get(fd.name) match {
          case Some(e) =>
            when(matched, e.cast(fd.dataType)).otherwise(qc(fd.name))
              .as(fd.name)
          case None => qc(fd.name)
        }
      }
    }
  }

  /**
   * KEY-SET ROW DELETE — `DELETE WHERE [rest AND] keyColumn IN (<keys>)`
   * where the key set is a FRAME (a purge-list table, a subquery result)
   * too large to inline as an IN-list. The same file-bounded
   * copy-on-write discipline as [[deleteWhere]], with the key membership
   * evaluated by JOIN instead of a literal list:
   *  - pruning: ranges derived from `rest`'s conjuncts as usual, plus
   *    ONE metadata-cost [min, max] bound over the deduped key set —
   *    files wholly outside the overall key range never scan (the
   *    shape of a time-clustered purge list at 100 TB);
   *  - discovery: a semi-join names the exact files HOLDING members
   *    (`input_file_name` captured scan-side, before any shuffle);
   *  - rewrite: surviving rows = rows where `rest` is false-or-null,
   *    plus an anti-join for rows where it holds — SQL IN semantics
   *    exactly (a null key never matches; null keys in the set never
   *    delete anything).
   * SQL reaches this through `DELETE FROM t WHERE k IN (SELECT ...)`
   * past the inline cap ([[graft.sources.SnapshotDmlRule]]). Returns the
   * new snapshot id, or None when no row matches.
   */
  def deleteWhereIn(
      spark: SparkSession, root: String, partitionFields: Seq[String],
      keyColumn: String, keys: DataFrame,
      rest: Option[org.apache.spark.sql.Column] = None,
      targetFilesPerPartition: Int = 1,
      keysNormalized: Boolean = false): Option[Int] = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    val matchedRest =
      rest.map(c => coalesce(c, lit(false))).getOrElse(lit(true))
    val (_, _, m) = resolveHead(spark, root)
    rewriteWhereInSet(spark, root, m, partitionFields, keyColumn, keys, rest,
      "delete_where", targetFilesPerPartition, keysNormalized,
      transform = (keySet, rows) => {
        def anti(df: DataFrame): DataFrame =
          df.join(keySet, df(qname(keyColumn)) === keySet("__graft_in_key"),
            "left_anti")
        rest match {
          case None => anti(rows)
          case Some(_) => rows.filter(not(matchedRest)).unionByName(
            anti(rows.filter(matchedRest)))
        }
      })
  }

  /**
   * KEY-SET ROW UPDATE — `UPDATE SET ... WHERE [rest AND] keyColumn IN
   * (<keys frame>)`: [[updateWhere]]'s semantics with the membership
   * evaluated by join, for key sets too large to inline (the
   * backfill-from-a-staging-table shape). Same narrowing and rewrite
   * discipline as [[deleteWhereIn]]; the rewritten files' member rows
   * (where `rest` also holds) carry the assignments — ONE projection,
   * every right-hand side sees the pre-update row. SQL reaches this
   * through `UPDATE t SET ... WHERE k IN (SELECT ...)` past the inline
   * cap. Returns the new snapshot id, or None when no row matches.
   */
  def updateWhereIn(
      spark: SparkSession, root: String, partitionFields: Seq[String],
      keyColumn: String, keys: DataFrame,
      rest: Option[org.apache.spark.sql.Column],
      assignments: Seq[(String, org.apache.spark.sql.Column)],
      targetFilesPerPartition: Int = 1,
      keysNormalized: Boolean = false): Option[Int] = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    val (_, _, m) = resolveHead(spark, root)
    val assign = updateAssignments(m, assignments)
    rewriteWhereInSet(spark, root, m, partitionFields, keyColumn, keys, rest,
      "update_where", targetFilesPerPartition, keysNormalized,
      transform = (keySet, rows) => {
        // membership as a marker column (left join against the deduped
        // set never duplicates rows), combined with `rest` into the one
        // TRUE-only condition SQL UPDATE applies
        val marked = keySet.withColumn("__graft_in_hit", lit(true))
        val joined = rows.join(marked,
          rows(qname(keyColumn)) === marked("__graft_in_key"), "left_outer")
        val matched = rest.map(c => coalesce(c, lit(false)))
          .getOrElse(lit(true)) && qc("__graft_in_hit").isNotNull
        joined.select(assign(rows.schema, matched): _*)
      })
  }

  /**
   * PREDICATE OVERWRITE — the Delta-`replaceWhere` statement (public
   * semantics: atomically replace exactly the rows matching `condition`
   * with `df`), published as ONE snapshot — never a delete-then-append
   * pair whose intermediate state a concurrent reader (or the history)
   * could observe. The idempotent-backfill shape: "rebuild day X from
   * source" re-run twice lands the same table.
   *
   * Discipline:
   *  - every INCOMING row must satisfy the predicate — enforced inside
   *    the write pass itself (codegen'd `raise_error`, the
   *    [[graft.sink.PartitionedSink]] guard idiom): no second scan of
   *    `df`, and a nondeterministic source cannot pass a pre-check and
   *    then write a violating row;
   *  - the REPLACED side is [[deleteWhere]]'s file-bounded copy-on-write:
   *    stat+Bloom-narrowed candidates, exact discovery of the files
   *    HOLDING matches, surviving (non-matching) rows of exactly those
   *    files restaged; untouched files ride through by reference;
   *  - survivors split per partition ([[splitPerPartition]]) like any
   *    rewrite; the incoming batch keeps ITS OWN distribution (an append-
   *    sized frame must not funnel one-task-per-partition).
   *
   * Widening `df` schemas pass the standard evolution gate; survivors
   * read typed nulls for added columns. A first write (no snapshot yet)
   * just lands `df` — with the guard, so creation enforces the predicate
   * too. Returns the published snapshot id.
   */
  def replaceWhere(
      df: DataFrame, root: String, partitionFields: Seq[String],
      condition: org.apache.spark.sql.Column,
      targetFilesPerPartition: Int = 1): Int = {
    import org.apache.spark.sql.functions.{coalesce, concat, lit, not, raise_error, struct, to_json, when}
    val spark = df.sparkSession
    val guarded = df.filter(
      when(coalesce(condition, lit(false)), lit(true))
        .otherwise(raise_error(concat(
          lit("replaceWhere: incoming row does not satisfy the " +
            "predicate: "),
          to_json(struct(df.columns.toSeq.map(qc): _*))))))
    val (f, qroot) = FsOps.fs(spark, root)
    val m = headOf(f, qroot) match {
      case None =>
        return writeInternal(guarded, root, partitionFields, SnapAppend,
          "replace_where", graft.schema.SchemaEvolution.Widen, None)
      case Some(h) => h
    }
    m.partitionCols.headOption.foreach(_ => require(
      partitionFields == m.partitionCols,
      s"dataset at $root is partitioned by ${m.partitionCols.mkString(",")}; " +
        s"cannot replace under ${partitionFields.mkString(",")}"))
    // the union below fills columns missing from SURVIVORS (a widening
    // batch) with nulls — but a batch missing CONTRACT columns would
    // silently null-fill the replacement rows, so that direction is loud
    m.schema.foreach(_.fieldNames.foreach(c =>
      require(df.columns.contains(c),
        s"replaceWhere batch must carry every contract column — " +
          s"missing '$c'")))
    // the same narrowing + exact-discovery discipline as every rewrite
    // lane (planFiles' stat and Bloom prune, scan-side input_file_name)
    val rewrite = discoverRewriteSet(spark, qroot, m,
      deriveFor = (sc, statsCols, bloomCols) =>
        deriveRanges(spark, sc, condition,
          (statsCols ++ bloomCols).distinct, nullCols = statsCols),
      discover = _.filter(condition))
    val out =
      if (rewrite.isEmpty) guarded
      else splitPerPartition(
        scanWithDeletes(spark, qroot, m, rewrite)
          .filter(not(coalesce(condition, lit(false)))),
        partitionFields, targetFilesPerPartition)
        .unionByName(guarded, allowMissingColumns = true)
    writeInternal(out, root, partitionFields, SnapAppend,
      "replace_where", graft.schema.SchemaEvolution.Widen, Some(m),
      extraRemoves = rewrite.map(_.rel))
  }

  /** Per-column [min, max] [[StatRange]]s over a frame, rendered
    * EXACTLY like recorded file stats (Cast-to-string under the session
    * tz — byte-identical to what `computeStats` writes, so the compare
    * can never shift); ONE aggregate pass for all columns. `cols` maps
    * the range's column name to the frame column carrying its values
    * (they differ when the frame renames, e.g. a join-prefixed source).
    * All-null columns derive nothing. Timestamp-typed ranges are safe
    * to pass onward — [[survives]] keeps every file for them. */
  private[graft] def minMaxStatRanges(
      df: DataFrame, cols: Seq[(String, String)]): Seq[StatRange] = {
    import org.apache.spark.sql.functions.{max, min}
    if (cols.isEmpty) return Seq.empty
    val aggs = cols.flatMap { case (_, f) => Seq(min(qc(f)), max(qc(f))) }
    val agged = df.agg(aggs.head, aggs.tail: _*)
    val tz = df.sparkSession.sessionState.conf.sessionLocalTimeZone
    agged.queryExecution.executedPlan.executeCollect().headOption.toSeq
      .flatMap { ir =>
        cols.zipWithIndex.collect {
          case ((rangeCol, _), i) if !ir.isNullAt(2 * i) =>
            def render(j: Int) = org.apache.spark.sql.catalyst
              .expressions.Cast(
                org.apache.spark.sql.catalyst.expressions.Literal(
                  ir.get(j, agged.schema(j).dataType),
                  agged.schema(j).dataType),
                org.apache.spark.sql.types.StringType, Some(tz))
              .eval().toString
            StatRange(rangeCol, Some(render(2 * i)), Some(render(2 * i + 1)))
        }
      }
  }

  /** The shared [[deleteWhereIn]]/[[updateWhereIn]] engine: normalize
    * the key set — dedup, dropping nulls (`k IN (set)` is TRUE only on
    * a non-null member, and nulls would poison the bound derivation) —
    * unless the caller already did (`keysNormalized`, the SQL commands'
    * probe path: re-deduplicating their cached frame would re-shuffle
    * the whole purge list once more per statement); derive prune ranges
    * from `rest` plus one metadata-cost [min, max] bound over the whole
    * set, discover member-holding files with a semi-join, and publish
    * `transform(keySet, rows)` through [[rewriteMatching]]. */
  private def rewriteWhereInSet(
      spark: SparkSession, root: String, m: Resolved,
      partitionFields: Seq[String], keyColumn: String, keys: DataFrame,
      rest: Option[org.apache.spark.sql.Column],
      modeLabel: String, targetFilesPerPartition: Int,
      keysNormalized: Boolean,
      transform: (DataFrame, DataFrame) => DataFrame): Option[Int] = {
    require(keys.columns.length == 1,
      s"the key set must have exactly ONE column (the values " +
        s"'$keyColumn' is matched against), got ${keys.columns.length}")
    val renamed = keys.toDF("__graft_in_key")
    val keySet =
      if (keysNormalized) renamed else renamed.na.drop().distinct()
    if (!keysNormalized) keySet.persist()
    try {
      rewriteMatching(spark, root, m, partitionFields, modeLabel,
        targetFilesPerPartition,
        deriveFor = { (sc, statsCols, bloomCols) =>
          val fromRest = rest.toSeq.flatMap(c =>
            deriveRanges(spark, sc, c, (statsCols ++ bloomCols).distinct,
              nullCols = statsCols))
          val bound =
            if (!(statsCols ++ bloomCols).contains(keyColumn)) Seq.empty
            else minMaxStatRanges(keySet,
              Seq(keyColumn -> "__graft_in_key"))
          fromRest ++ bound
        },
        discover = df => rest.fold(df)(c => df.filter(c))
          .join(keySet, df(qname(keyColumn)) === keySet("__graft_in_key"),
            "left_semi"),
        transform = rows => transform(keySet, rows),
        // a DELETE restages only unchanged survivors — re-judging them
        // against a forward-only constraint would block the GDPR lane on
        // rows that predate the rule; an UPDATE's rows changed and check
        enforceConstraints = modeLabel != "delete_where")
    } finally if (!keysNormalized) keySet.unpersist(): Unit
  }

  /** The shared [[deleteWhere]]/[[updateWhere]] engine: derive prune
    * ranges from the condition, stat+Bloom-narrow the candidates, name
    * the exact files HOLDING matches with one column-pruned discovery
    * scan, then publish `transform(survivor rows)` as one copy-on-write
    * snapshot that removes the originals by name. */
  private def rewriteWhere(
      spark: SparkSession, root: String, m: Resolved,
      partitionFields: Seq[String],
      condition: org.apache.spark.sql.Column, modeLabel: String,
      targetFilesPerPartition: Int,
      transform: DataFrame => DataFrame): Option[Int] =
    rewriteMatching(spark, root, m, partitionFields, modeLabel,
      targetFilesPerPartition,
      // ranges derive over stat AND bloom columns (a bloom-only column's
      // equality bound must reach the bloom prune below)
      deriveFor = (sc, statsCols, bloomCols) =>
        deriveRanges(spark, sc, condition,
          (statsCols ++ bloomCols).distinct, nullCols = statsCols),
      discover = _.filter(condition), transform = transform,
      // delete survivors are unchanged history (see rewriteWhereInSet)
      enforceConstraints = modeLabel != "delete_where")

  /** The file-bounded rewrite core behind every row-level statement
    * ([[rewriteWhere]], [[rewriteWhereInSet]], [[mergeUpsert]]), run
    * against `m`, the head its caller resolved (and publishing against
    * it): `deriveFor` yields conservative prune ranges given (recorded
    * schema, statsCols, bloomCols); `discover` narrows the raw candidate
    * scan to rows that MATCH (it may filter or semi-join — the scan
    * arrives with `__graft_file` already materialized scan-side, since
    * `input_file_name()` is unreliable after any shuffle); `transform`
    * maps each rewriting file's rows to their replacement. `adds` are
    * new rows published in the same snapshot (a MERGE's upserts, gated by
    * `evolution`), split per partition with the restaged rows. Returns
    * None when nothing matched and there is nothing to add, and the
    * head's id, with nothing staged, when nothing matched and `adds` is
    * empty. */
  private def rewriteMatching(
      spark: SparkSession, root: String, m: Resolved,
      partitionFields: Seq[String],
      modeLabel: String, targetFilesPerPartition: Int,
      deriveFor: (StructType, Seq[String], Seq[String]) => Seq[StatRange],
      discover: DataFrame => DataFrame,
      transform: DataFrame => DataFrame,
      enforceConstraints: Boolean = true,
      adds: Option[DataFrame] = None,
      evolution: graft.schema.SchemaEvolution.Policy =
        graft.schema.SchemaEvolution.Widen,
      branch: Option[String] = None): Option[Int] = {
    require(targetFilesPerPartition >= 1, "need at least one file")
    val qroot = FsOps.fs(spark, root)._2
    m.partitionCols.headOption.foreach(_ => require(
      partitionFields == m.partitionCols,
      s"dataset at $root is partitioned by ${m.partitionCols.mkString(",")}; " +
        s"cannot rewrite under ${partitionFields.mkString(",")}"))
    val rewrite =
      if (m.files.isEmpty) Seq.empty
      else discoverRewriteSet(spark, qroot, m, deriveFor, discover)
    if (rewrite.isEmpty) adds match {
      case None => return None
      // a MERGE whose batch only deletes absent keys changes nothing: the
      // head stands, and nothing stages
      case Some(rows) if rows.isEmpty => return Some(m.id)
      case _ =>
    }
    val restaged =
      if (rewrite.nonEmpty)
        Some(transform(scanWithDeletes(spark, qroot, m, rewrite)))
      // nothing to restage: an empty frame of the (read-side, nullable)
      // contract keeps the added rows' union shape without a scan
      else m.schema.map(sc => spark.createDataFrame(
        new java.util.ArrayList[Row](),
        StructType(sc.fields.map(_.copy(nullable = true)))))
    val out = (restaged ++ adds).reduce((l, r) =>
      l.unionByName(r,
        allowMissingColumns = evolution == graft.schema.SchemaEvolution.Widen))
    Some(writeInternal(
      splitPerPartition(out, partitionFields, targetFilesPerPartition),
      root, partitionFields, SnapAppend, modeLabel, evolution, Some(m),
      extraRemoves = rewrite.map(_.rel), branch = branch,
      enforceConstraints = enforceConstraints))
  }

  /** The candidate-narrowing + exact-discovery front half EVERY
    * predicate rewrite shares ([[rewriteMatching]], [[replaceWhere]]) —
    * one place for the correctness-sensitive discipline:
    *
    *  - `deriveFor` yields conservative ranges against the RECORDED
    *    contract (legacy schema-less datasets derive nothing — no
    *    pruning, never wrong pruning), planned by [[planFiles]] like
    *    every read;
    *  - exact discovery: which candidates actually HOLD rows `discover`
    *    keeps — one column-pruned scan over the surviving files only,
    *    on the RAW scan deliberately (`input_file_name()` is only
    *    reliable straight off a file scan; a file whose only matching
    *    rows are delete-suppressed merely rewrites harmlessly — the
    *    caller's survivor scan applies the deletes). */
  private def discoverRewriteSet(
      spark: SparkSession, qroot: Path, m: Resolved,
      deriveFor: (StructType, Seq[String], Seq[String]) => Seq[StatRange],
      discover: DataFrame => DataFrame): Seq[FileEntry] = {
    import org.apache.spark.sql.functions.input_file_name
    val derived = m.schema.toSeq.flatMap(sc =>
      deriveFor(sc, m.statsCols, m.bloomCols))
    val candidates = planFiles(spark, qroot, m, m.files, derived)
    if (candidates.isEmpty) return Seq.empty
    val dataPrefix = dataDir(qroot).toUri.getPath
    val hit = discover(scanRaw(spark, qroot, m, candidates)
        .withColumn("__graft_file", input_file_name()))
      .select("__graft_file").distinct().collect()
      .map(r => java.net.URI.create(r.getString(0)).getPath
        .stripPrefix(dataPrefix).stripPrefix("/")).toSet
      .filter(_.nonEmpty)
    m.files.filter(e => hit(e.rel))
  }

  /** Route a rewrite so each partition value lands on ≤ `t` tasks (→ ≤ t
    * files, and exactly t when it has ≥ t rows): one task per partition
    * at t = 1; above it, ntile(t) over a deterministic row-hash order
    * assigns balanced buckets and (partition, bucket) range-routing gives
    * each its own task — a 100 TB partition must never funnel through a
    * single rewrite task, and a row-hash SALT cannot promise that (all t
    * salt values can collide onto one shuffle partition). Shared by
    * [[compact]]'s unclustered split, [[foldDeletes]] and
    * [[migrateSpec]]. */
  private def splitPerPartition(
      df: DataFrame, partitionFields: Seq[String], t: Int): DataFrame = {
    import org.apache.spark.sql.functions.{hash, ntile}
    if (t == 1) df.repartition(partitionFields.map(qc): _*)
    else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(partitionFields.map(qc): _*)
        .orderBy(hash(df.columns.map(qc): _*))
      // numPartitions EXPLICIT: an advisory repartition lets AQE coalesce
      // the small buckets back onto one task, defeating the split
      val n = math.max(t, df.sparkSession.conf
        .get("spark.sql.shuffle.partitions").toInt)
      df.withColumn("__bkt", ntile(t).over(w))
        .repartitionByRange(n, (partitionFields :+ "__bkt").map(qc): _*)
        .drop("__bkt")
    }
  }

  /**
   * SCHEMA WIDENING WITHOUT A WRITE — `ALTER TABLE t ADD COLUMN`'s
   * engine half: publish the widened contract as one METADATA-ONLY
   * snapshot (mode `evolve_schema`, zero bytes moved), validated
   * through the SAME evolution gate a widening write passes
   * ([[graft.schema.SchemaEvolution]] — so a non-nullable or
   * partition-field addition fails with the gate's own reasons, never
   * a second rule set). Every file already landed predates the new
   * columns and reads typed nulls under the merged contract, exactly
   * as after a write-path widening; registered SQL tables surface the
   * new columns with at most `REFRESH TABLE` (the publish-current
   * schema rule). Returns the new snapshot id.
   */
  def addColumns(
      spark: SparkSession, root: String,
      columns: Seq[org.apache.spark.sql.types.StructField]): Int = {
    require(columns.nonEmpty, "ADD COLUMN needs at least one column")
    val (f, qroot, m) = resolveHead(spark, root,
      " — the first write declares the initial schema directly")
    val stored = m.schema.getOrElse(throw new IllegalStateException(
      s"snapshot s${m.id} records no schema contract — one write through " +
        "the Snapshots API pins it before metadata-only evolution"))
    // duplicate checks use the SESSION's resolver (case-insensitive by
    // default, like every analyzer comparison): publishing both `note`
    // and `Note` would make every later SELECT fail AMBIGUOUS_REFERENCE
    // with no DROP COLUMN to repair it
    val resolver = spark.sessionState.conf.resolver
    columns.zipWithIndex.foreach { case (c, i) =>
      columns.take(i).find(p => resolver(p.name, c.name)).foreach(p =>
        throw new IllegalArgumentException(
          s"duplicate ADD COLUMN '${c.name}' (collides with '${p.name}')"))
      stored.fields.find(f => resolver(f.name, c.name)).foreach(f =>
        throw new IllegalArgumentException(
          s"column '${c.name}' already exists in the recorded contract " +
            s"as '${f.name}' (${f.dataType.sql})"))
    }
    // any name in the rename ledger is RESERVED and can never re-enter:
    // `from` names are still physically present in pre-event files (a
    // "new" same-named column would resurrect their bytes), and a `to`
    // name outside the current contract (rollback past the rename)
    // would collide with the ledger walk's mapping
    columns.foreach(c =>
      (m.renames.map(_._2) ++ m.renames.map(_._3)).filter(_.nonEmpty)
        .find(resolver(_, c.name)).foreach(r =>
          throw new IllegalArgumentException(
            s"column name '${c.name}' is reserved by the RENAME/DROP " +
              s"COLUMN ledger (as '$r') and cannot re-enter the contract " +
              "— files written before the event still hold it " +
              "physically; pick another name")))
    val widened = graft.schema.SchemaEvolution.validate(
      stored, StructType(stored.fields ++ columns), m.partitionCols,
      graft.schema.SchemaEvolution.Widen)
    commit(f, qroot, None, Some(m),
      metaOf(m, "evolve_schema").copy(schema = Some(widened)), Delta())
  }

  /** Column names a constraint expression references (top level of any
    * dotted path) — what rename/drop must refuse to orphan. */
  private def constraintRefs(
      spark: SparkSession, exprSql: String): Seq[String] =
    spark.sessionState.sqlParser.parseExpression(exprSql).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.nameParts.head
    }

  /** Shared guards of the two column-mapping events: resolve the column
    * (session resolver), refuse partition columns (the directory layout
    * IS their physical name), live equality-delete keys (fold first),
    * and constraint references (drop/re-add the rule). Returns the
    * resolved field. */
  private def mappableColumn(
      spark: SparkSession, m: Resolved, stored: StructType, name: String,
      what: String): org.apache.spark.sql.types.StructField = {
    val resolver = spark.sessionState.conf.resolver
    val field = stored.fields.find(fd => resolver(fd.name, name)).getOrElse(
      throw new IllegalArgumentException(
        s"$what: no column '$name' in the recorded contract " +
          s"(${stored.fieldNames.mkString(", ")})"))
    require(!m.partitionCols.exists(resolver(_, field.name)),
      s"$what: '${field.name}' is a partition column — the directory " +
        "layout is its physical encoding; use evolvePartitioning to " +
        "change the spec")
    m.deletes.flatMap(_.keyCols).distinct
      .find(resolver(_, field.name)).foreach(k =>
        throw new IllegalStateException(
          s"$what: '$k' keys live merge-on-read delete files — run " +
            "foldDeletes (or maintain) first"))
    m.constraints.foreach { case (n, e) =>
      if (constraintRefs(spark, e).exists(resolver(_, field.name)))
        throw new IllegalStateException(
          s"$what: CHECK constraint '$n' ($e) references '${field.name}'" +
            " — drop the constraint and re-add it under the new shape")
    }
    field
  }

  /**
   * RENAME COLUMN WITHOUT A REWRITE — `ALTER TABLE t RENAME COLUMN`'s
   * engine half: one METADATA-ONLY snapshot (mode `rename_column`)
   * publishes the contract with the field renamed IN PLACE plus a
   * column-mapping ledger entry `(id, from, to)`; files already landed
   * keep their physical name and every read resolves it through the
   * ledger ([[physicalName]] — the Iceberg field-id idea at
   * parquet-name granularity, zero bytes moved). Old snapshots
   * time-travel under the old name (each manifest carries its own
   * schema AND ledger); stat/Bloom pruning on old files degrades to
   * conservative keeps (their stats stay keyed by the written name —
   * the superset guarantee, compaction re-keys them). The retired name
   * can never re-enter the contract. Partition columns, live
   * delete-key columns, and constraint-referenced columns refuse with
   * the remedy named. Returns the new snapshot id.
   */
  def renameColumn(
      spark: SparkSession, root: String, from: String, to: String): Int = {
    val (f, qroot, m) = resolveHead(spark, root, " — nothing to rename")
    val stored = m.schema.getOrElse(throw new IllegalStateException(
      s"snapshot s${m.id} records no schema contract — one write through " +
        "the Snapshots API pins it before metadata-only evolution"))
    val resolver = spark.sessionState.conf.resolver
    val field = mappableColumn(spark, m, stored, from, "RENAME COLUMN")
    require(to.nonEmpty, "RENAME COLUMN: the new name must be non-empty")
    require(!resolver(field.name, to),
      s"RENAME COLUMN: '$from' → '$to' is a no-op (names resolve equal)")
    stored.fields.find(fd => resolver(fd.name, to)).foreach(fd =>
      throw new IllegalArgumentException(
        s"RENAME COLUMN: '$to' already exists in the contract as " +
          s"'${fd.name}' (${fd.dataType.sql})"))
    (m.renames.map(_._2) ++ m.renames.map(_._3)).filter(_.nonEmpty)
      .find(resolver(_, to)).foreach(r =>
        throw new IllegalArgumentException(
          s"RENAME COLUMN: '$to' is reserved by an earlier RENAME/DROP " +
            s"(as '$r') and cannot re-enter the contract — files written " +
            "before that event still hold it physically; pick another " +
            "name"))
    val newSchema = StructType(stored.fields.map(fd =>
      if (fd.name == field.name) fd.copy(name = to) else fd))
    // dataset-declared stat/bloom columns follow the rename: new files
    // record under the new name; old files' old-name stats just stop
    // pruning (conservative) until compaction re-keys them
    def renamed(c: String) = if (c == field.name) to else c
    commit(f, qroot, None, Some(m), metaOf(m, "rename_column").copy(
      schema = Some(newSchema), statsCols = m.statsCols.map(renamed),
      bloomCols = m.bloomCols.map(renamed),
      renames = m.renames :+ ((m.id + 1, field.name, to))), Delta())
  }

  /**
   * DROP COLUMN WITHOUT A REWRITE — one METADATA-ONLY snapshot (mode
   * `drop_column`): the contract loses the field, a ledger entry
   * `(id, name, "")` retires the name forever (old files still hold the
   * bytes; re-adding the name would resurrect them), and every read
   * simply stops projecting it — the column-pruned scan never touches
   * the dropped bytes, so the "rewrite 100 TB to drop a column" cost is
   * zero. Old snapshots time-travel WITH the column. Same refusals as
   * [[renameColumn]]; dropping the last column refuses. Returns the new
   * snapshot id.
   */
  def dropColumn(spark: SparkSession, root: String, name: String): Int =
    dropColumns(spark, root, Seq(name))

  /**
   * TYPE WIDENING WITHOUT A WRITE — `ALTER TABLE t ALTER COLUMN c TYPE
   * bigint`'s engine half: one METADATA-ONLY `evolve_schema` snapshot
   * publishes the contract with the column's type widened, validated
   * through the SAME evolution gate a widening write passes (so only
   * the lossless Parquet/Avro promotion chains are admitted —
   * byte→short→int→long, float→double, same-scale decimal precision
   * growth; narrowing and cross-family changes fail with the gate's
   * own reasons). Files already landed read upcast under the widened
   * contract, exactly as after a write-path widening; partition
   * columns refuse (their values are path-encoded strings — the gate's
   * own partition-delta rule). Two stale-metadata rules keep pruning
   * honest: a BLOOM declaration on the column retires (sidecar filters
   * hashed the written type's bit-width — probing them under the new
   * type would wrongly prune), and float→double strips the column's
   * recorded per-file min/max (the stat strings were exact for the
   * float, not for its upcast double). Returns the new snapshot id.
   */
  def widenColumn(
      spark: SparkSession, root: String, name: String,
      newType: DataType): Int = {
    val (f, qroot, m) = resolveHead(spark, root, " — nothing to widen")
    val stored = m.schema.getOrElse(throw new IllegalStateException(
      s"snapshot s${m.id} records no schema contract — one write through " +
        "the Snapshots API pins it before metadata-only evolution"))
    val resolver = spark.sessionState.conf.resolver
    val field = stored.fields.find(fd => resolver(fd.name, name)).getOrElse(
      throw new IllegalArgumentException(
        s"ALTER COLUMN: no column '$name' in the recorded contract " +
          s"(${stored.fieldNames.mkString(", ")})"))
    val target = StructType(stored.fields.map(fd =>
      if (fd.name == field.name) fd.copy(dataType = newType) else fd))
    val widened = graft.schema.SchemaEvolution.validate(
      stored, target, m.partitionCols, graft.schema.SchemaEvolution.Widen)
    // a BLOOM declaration on the widened column RETIRES: the sidecar
    // filters hashed the WRITTEN type's bit-width (hash(5, INT) ≠
    // hash(5L, BIGINT)), so a probe under the widened contract would
    // return a definite-no for a file that holds the value — wrongly
    // pruning rows. Probes stop (conservative), future writes stop
    // recording filters for it; the stale sidecar entries become inert.
    val blooms = m.bloomCols.filterNot(_ == field.name)
    // float→double additionally STALES recorded min/max strings: "1.1"
    // was exact for the float, but rows read upcast to
    // 1.100000023841858 — a stat compare under double could exclude a
    // file holding a match. Strip that column's per-file stats (and
    // delete-entry key stats) in a FULL manifest render; integer-chain
    // and decimal promotions render identically and keep theirs.
    val staleStats = field.dataType == FloatType && newType == DoubleType
    val change =
      if (!staleStats) Delta()
      else LiveSet(
        m.files.map(e =>
          e.copy(stats = e.stats - field.name, nulls = e.nulls - field.name)),
        m.deletes.map(d => d.copy(stats = d.stats - field.name)),
        forceFull = true)
    commit(f, qroot, None, Some(m), metaOf(m, "evolve_schema")
      .copy(schema = Some(widened), bloomCols = blooms), change)
  }

  /** [[dropColumn]] for a list, ALL-OR-NOTHING: every column is
    * validated against the (progressively shrinking) contract BEFORE
    * anything publishes, then ONE `drop_column` snapshot drops them all
    * — a mid-list refusal can never leave half the list applied. */
  def dropColumns(
      spark: SparkSession, root: String, names: Seq[String]): Int = {
    require(names.nonEmpty, "DROP COLUMN needs at least one column")
    val (f, qroot, m) = resolveHead(spark, root, " — nothing to drop")
    val stored = m.schema.getOrElse(throw new IllegalStateException(
      s"snapshot s${m.id} records no schema contract — one write through " +
        "the Snapshots API pins it before metadata-only evolution"))
    var remaining = stored
    val dropped = names.map { name =>
      val field = mappableColumn(spark, m, remaining, name, "DROP COLUMN")
      remaining = StructType(remaining.fields.filterNot(_.name == field.name))
      require(remaining.fields.nonEmpty,
        s"DROP COLUMN: cannot drop every column ('${field.name}' is last)")
      field.name
    }
    val gone = dropped.toSet
    commit(f, qroot, None, Some(m), metaOf(m, "drop_column").copy(
      schema = Some(remaining), statsCols = m.statsCols.filterNot(gone),
      bloomCols = m.bloomCols.filterNot(gone),
      renames = m.renames ++ dropped.map(n => (m.id + 1, n, ""))), Delta())
  }

  /**
   * TRUNCATE — remove every live row as ONE METADATA-ONLY snapshot
   * (mode `truncate`): the new manifest renders a FULL empty live set
   * (live equality-deletes clear with it — nothing remains to apply
   * them to), zero bytes move, and the contract/format/spec/stat
   * declarations carry forward so the next write lands exactly as
   * before. The full render is also a natural rebase point — every
   * later resolution's chain walk restarts at depth 0. Older snapshots
   * keep reading their files until [[expire]] reclaims them ([[vacuum]]
   * for the bytes) — `TRUNCATE` here is a history event, not a data
   * shred. Returns the new snapshot id, or None when the dataset is
   * already empty (idempotent no-op, no history noise).
   */
  def truncate(spark: SparkSession, root: String): Option[Int] = {
    val (f, qroot, m) = resolveHead(spark, root, " — nothing to truncate")
    if (m.files.isEmpty && m.deletes.isEmpty) return None
    if (m.schema.isEmpty) throw new IllegalStateException(
      s"snapshot s${m.id} records no schema contract (legacy v1 " +
        "manifest) — an empty state must still declare what readers " +
        "resolve; one v2 write pins the contract first")
    Some(commit(f, qroot, None, Some(m), metaOf(m, "truncate"),
      LiveSet(Seq.empty, Seq.empty, forceFull = true)))
  }

  /**
   * TABLE CHECK CONSTRAINT — the Delta `ALTER TABLE ADD CONSTRAINT`
   * role: a named boolean SQL expression every FUTURE row must satisfy,
   * enforced inside the ONE staging pass every write lane funnels
   * through (appends, streams, merges, predicate rewrites) as a
   * codegen'd `raise_error` guard naming the constraint — a violating
   * batch fails loudly with nothing published. Published as one
   * METADATA-ONLY snapshot (mode `add_constraint`, row-preserving for
   * stream/maintenance dispatch), carried manifest to manifest like the
   * stat declarations.
   *
   * `validateExisting` (default true, the Delta semantic): one scan of
   * the CURRENT live rows proving the rule already holds — at 100 TB
   * that is a deliberate full-scan cost, which is why it is a flag; an
   * unvalidated add (false) documents that history may violate. The
   * expression must resolve against the recorded contract and type to
   * BOOLEAN (probe-frame validated, loud). Returns the new snapshot id.
   */
  def addConstraint(
      spark: SparkSession, root: String, name: String, exprSql: String,
      validateExisting: Boolean = true): Int = {
    require("^[A-Za-z_][A-Za-z0-9_.-]{0,63}$".r.matches(name),
      s"constraint name '$name' must be a word-ish identifier (<= 64 chars)")
    val (f, qroot, m) = resolveHead(spark, root,
      " — the first write can carry no pre-declared constraints; " +
        "write, then add")
    val stored = m.schema.getOrElse(throw new IllegalStateException(
      s"snapshot s${m.id} records no schema contract — one write through " +
        "the Snapshots API pins it before constraints can validate"))
    m.constraints.find(_._1 == name).foreach(existing =>
      throw new IllegalArgumentException(
        s"constraint '$name' already exists: ${existing._2} — " +
          "dropConstraint first"))
    // the expression must RESOLVE against the contract and type to
    // boolean — probe-frame analysis makes both loud now, not at the
    // first write
    val probe = spark.createDataFrame(new java.util.ArrayList[Row](), stored)
      .filter(org.apache.spark.sql.functions.expr(exprSql))
    // and it must be DETERMINISTIC and time-independent: the rule is
    // re-evaluated at every future write, so `rand()` or
    // `current_date()` would make the SAME row pass one batch and fail
    // the next — a constraint that changes meaning over time is a
    // different feature (a quality FILTER), not a CHECK
    probe.queryExecution.analyzed.collect {
      case fl: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        import org.apache.spark.sql.catalyst.expressions._
        require(fl.condition.deterministic &&
          !fl.condition.exists(e => e.isInstanceOf[CurrentDate] ||
            e.isInstanceOf[CurrentTimestamp] || e.isInstanceOf[Now] ||
            e.isInstanceOf[CurrentTimeZone] || e.isInstanceOf[LocalTimestamp]),
          s"constraint '$name' must be deterministic and " +
            s"time-independent, got: $exprSql")
    }: Unit
    if (validateExisting && m.files.nonEmpty) {
      import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
      val bad = scanWithDeletes(spark, qroot, m, m.files)
        .filter(not(coalesce(expr(exprSql), lit(false)))).limit(1).count()
      require(bad == 0L,
        s"cannot add constraint '$name': existing rows violate $exprSql " +
          "(fix the data first, or pass validateExisting = false to " +
          "declare it forward-only)")
    }
    commit(f, qroot, None, Some(m), metaOf(m, "add_constraint")
      .copy(constraints = m.constraints :+ (name -> exprSql)), Delta())
  }

  /** Drop a named constraint (mode `drop_constraint`, metadata-only).
    * Returns the new snapshot id, or None when no such constraint
    * exists (idempotent no-op). */
  def dropConstraint(
      spark: SparkSession, root: String, name: String): Option[Int] = {
    val (f, qroot, m) = resolveHead(spark, root)
    if (!m.constraints.exists(_._1 == name)) return None
    Some(commit(f, qroot, None, Some(m), metaOf(m, "drop_constraint")
      .copy(constraints = m.constraints.filterNot(_._1 == name)), Delta()))
  }

  /** The current snapshot's recorded CHECK constraints (name → SQL). */
  def constraints(
      spark: SparkSession, root: String): Seq[(String, String)] = {
    val (f, qroot) = FsOps.fs(spark, root)
    mainPointer(f, qroot)
      .map(id => readSnapshotFile(f, snapshotsDir(qroot), id).constraints)
      .getOrElse(Seq.empty)
  }

  /**
   * PARTITION-SPEC EVOLUTION: change how FUTURE writes are partitioned —
   * one metadata-only snapshot, zero bytes rewritten (the Iceberg
   * posture). Files already landed stay in their old layout and remain
   * fully readable: every read groups live files by the spec each was
   * WRITTEN under (parsed from its own directory segments — no era tag
   * needed) and unions the per-era scans, so a column that is elided
   * into directories in one era reads from file content in the others.
   * Per-era partition pruning still applies to the columns that era
   * elides.
   *
   * Appends, reads, time travel, incremental reads and merge-on-read
   * merges work freely on an era-mixed dataset; PARTITION-REPLACING
   * operations (overwrite / copy-on-write merge / compact / fold) fail
   * loudly until [[migrateSpec]] rewrites the old-era files — their
   * directory-match replacement cannot see a logical partition split
   * across two layouts. Returns the new snapshot id.
   */
  def evolvePartitioning(
      spark: SparkSession, root: String, newSpec: Seq[String]): Int = {
    require(newSpec.nonEmpty, "the evolved spec needs at least one field")
    val (f, qroot, m) = resolveHead(spark, root,
      " — the first write declares the initial spec directly")
    require(m.partitionCols.nonEmpty,
      s"dataset at $root predates recorded partition specs — one write " +
        "under the current layout pins it first")
    require(newSpec != m.partitionCols,
      s"dataset at $root is already partitioned by ${newSpec.mkString(",")}")
    val schema = m.schema.getOrElse(throw new IllegalStateException(
      s"snapshot s${m.id} records no schema — cannot evolve its spec"))
    newSpec.foreach { c =>
      val fld = schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"partition field $c is not in the dataset schema"))
      require(isStatType(fld.dataType),
        s"partition field $c has non-partitionable type ${fld.dataType}")
      require(!m.statsCols.contains(c),
        s"partition field $c is a recorded stats column — partition " +
          "pruning would shadow its file stats")
    }
    commit(f, qroot, None, Some(m),
      metaOf(m, "evolve_spec").copy(partitionCols = newSpec), Delta())
  }

  /**
   * Rewrite every file still in an OLDER partition layout into the
   * current spec (live equality-deletes applied during the rewrite, like
   * [[compact]]), published as one new snapshot that removes exactly
   * those files by name — after which the dataset is era-homogeneous and
   * partition-replacing operations work again. Old snapshots keep
   * reading the old-layout files until [[expire]] reclaims them. Only
   * old-era files are read or written — current-era partitions ride
   * through by reference. Returns the new snapshot id, or None when the
   * dataset is already homogeneous.
   */
  def migrateSpec(
      spark: SparkSession, root: String,
      partitionFields: Seq[String],
      targetFilesPerPartition: Int = 1): Option[Int] = {
    require(targetFilesPerPartition >= 1, "need at least one file")
    val (_, qroot, m) = resolveHead(spark, root)
    m.partitionCols.headOption.foreach(_ => require(
      partitionFields == m.partitionCols,
      s"dataset at $root is partitioned by ${m.partitionCols.mkString(",")}; " +
        s"cannot migrate to ${partitionFields.mkString(",")}"))
    val old = m.files.filter(e => sigOf(e.rel) != partitionFields)
    if (old.isEmpty) return None
    val rewritten = scanWithDeletes(spark, qroot, m, old)
    Some(writeInternal(
      splitPerPartition(rewritten, partitionFields, targetFilesPerPartition),
      root, partitionFields, SnapAppend, "migrate_spec",
      graft.schema.SchemaEvolution.Widen, Some(m),
      extraRemoves = old.map(_.rel), enforceConstraints = false))
  }

  /** Snapshot ids the committed pointer can reach — orphan manifests from
    * a crashed write (id > current) are never treated as state. */
  private def committedIds(
      f: FileSystem, qroot: Path, cur: Option[Int]): Seq[Int] =
    cur.fold(Seq.empty[Int])(c => allManifestIds(f, qroot).filter(_ <= c))

  private def allManifestIds(f: FileSystem, qroot: Path): Seq[Int] = {
    val dir = snapshotsDir(qroot)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).map(_.getPath.getName)
      .collect { case SnapRe(n) => n.toInt }.sorted.toSeq
  }

  /**
   * Sweep garbage NO committed snapshot references: data files from
   * crashed writes, leftover `.stage_*` trees, and orphan snapshot
   * manifests beyond the committed pointer — the orphan-reclaim
   * counterpart of [[expire]], which only deletes files that WERE
   * referenced by expired manifests.
   *
   * Files younger than `graceMs` survive (default
   * [[DefaultVacuumGraceMs]]): an in-flight writer's just-moved files are
   * unreferenced until its manifest flips, and the age guard keeps a
   * mistimed vacuum from silently destroying that write — defense in
   * depth on top of the single-maintainer contract. Pass `graceMs = 0`
   * for immediate reclaim when the writer is known quiesced.
   * Returns (orphan data files deleted, staging trees dropped).
   */
  def vacuum(
      spark: SparkSession, root: String,
      graceMs: Long = DefaultVacuumGraceMs): (Int, Int) = {
    val (f, qroot) = FsOps.fs(spark, root)
    val cutoff = System.currentTimeMillis() - graceMs
    val cur = mainPointer(f, qroot)
    val cache: ManifestCache = scala.collection.mutable.Map.empty
    val committedRes = committedIds(f, qroot, cur)
      .map(resolve(f, snapshotsDir(qroot), _, cache))
    // pending staged writes and live branches reference files too — a
    // branch-only file is garbage only after dropBranch
    val (branchRefs, branchDelRefs, branchBloomRefs) =
      branchFileRefs(f, qroot)
    val (stagedRefs, stagedBloomRefs) = stagedFileRefs(f, qroot)
    val referenced = committedRes.flatMap(_.files.map(_.rel)).toSet ++
      stagedRefs ++ branchRefs
    val referencedDel = committedRes.flatMap(_.deletes.map(_.rel)).toSet ++
      branchDelRefs
    val referencedBloom =
      committedRes.flatMap(_.files.flatMap(_.bloomRef)).toSet ++
        stagedBloomRefs ++ branchBloomRefs
    // orphan snapshot manifests (crash between snapshot file and pointer
    // flip): never state, reclaim so they can't shadow a future write
    allManifestIds(f, qroot).filter(id => cur.forall(_ < id)).foreach { id =>
      val p = new Path(snapshotsDir(qroot), s"s$id")
      if (f.getFileStatus(p).getModificationTime < cutoff)
        FsOps.deleteIfExists(f, p)
    }
    val data = dataDir(qroot)
    val orphans =
      if (f.exists(data))
        listDataFilesWithMtime(f, data)
          .collect { case (rel, mtime, _)
            if !referenced(rel) && mtime < cutoff => rel }
      else Seq.empty
    orphans.foreach(rel => FsOps.deleteIfExists(f, new Path(data, rel)))
    orphans.map(parentDirOf).distinct.filter(_.nonEmpty).foreach { d =>
      val p = new Path(data, d)
      if (f.exists(p) && !FsOps.walkFiles(f, p).hasNext)
        FsOps.deleteIfExists(f, p)
    }
    // orphan equality-delete files (a crashed merge that staged its delete
    // file but never flipped) behind the same age grace
    val dDir = deletesDir(qroot)
    val orphanDels =
      if (f.exists(dDir))
        listDataFilesWithMtime(f, dDir)
          .collect { case (rel, mtime, _)
            if !referencedDel(rel) && mtime < cutoff => rel }
      else Seq.empty
    orphanDels.foreach(rel => FsOps.deleteIfExists(f, new Path(dDir, rel)))
    // orphan bloom sidecars (a crashed write's, or left by expire) behind
    // the same age grace
    val bDir = bloomsDir(qroot)
    val orphanBlooms =
      if (f.exists(bDir))
        listDataFilesWithMtime(f, bDir)
          .collect { case (rel, mtime, _)
            if !referencedBloom(rel) && mtime < cutoff => rel }
      else Seq.empty
    orphanBlooms.foreach(rel =>
      FsOps.deleteIfExists(f, new Path(bDir, rel)))
    val stages = Option(f.listStatus(qroot)).getOrElse(Array.empty)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(".stage_")
        && s.getModificationTime < cutoff)
    stages.foreach(s => FsOps.deleteIfExists(f, s.getPath))
    (orphans.length + orphanDels.length + orphanBlooms.length, stages.length)
  }

  /**
   * Incremental consumption: read ONLY the files the dataset gained
   * between snapshot `sinceId` (exclusive) and `untilId` (inclusive,
   * default current) — the "process what's new since my last run" read
   * every incremental ETL wants, resolved ENTIRELY from manifests
   * (no directory listing, no data diffing). For append-only histories
   * this is exactly the appended rows; a rewritten partition
   * (overwrite/compact) surfaces its new files whole — callers that must
   * distinguish logical changes use [[changes]] instead. Returns None
   * when no files were added (since == until), so "nothing new" is
   * explicit rather than an empty scan.
   */
  def readAddedSince(
      spark: SparkSession, root: String, sinceId: Int,
      untilId: Option[Int] = None,
      prune: Seq[StatRange] = Seq.empty): Option[DataFrame] = {
    val (f, qroot, until) = headId(spark, root, asOf = untilId)
    require(sinceId <= until, s"since s$sinceId is after until s$until")
    val cache: ManifestCache = scala.collection.mutable.Map.empty
    val ms = snapshotsDir(qroot)
    val since = resolve(f, ms, sinceId, cache)
    val m = resolve(f, ms, until, cache)
    // the same file-level data skipping as [[read]] — an incremental
    // consumer with a key filter never opens non-intersecting new files
    val added = planFiles(spark, qroot, m, addedFiles(since, m), prune)
    if (added.isEmpty) None
    // equality-deletes newer than an added file still suppress its rows
    // (seq-scoped, as in [[read]]) — the incremental consumer sees the
    // same rows a full `until` read would show from those files
    else Some(scanWithDeletes(spark, qroot, m, added))
  }

  /** The files `until` holds that `since` did not — the manifest-only
    * diff every incremental read consumes. */
  private def addedFiles(since: Resolved, until: Resolved): Seq[FileEntry] = {
    val before = since.files.map(_.rel).toSet
    until.files.filterNot(e => before(e.rel))
  }

  /** The STREAM-visible cost of snapshot `id`: (rows, bytes) its ADDED
    * files carry for an emit-mode snapshot (`append`/`merge_mor` — the
    * incremental-append contract), (0, 0) for row-preserving
    * maintenance and non-append modes (the stream emits nothing from
    * them), and (-1, -1) when the cost is UNKNOWN — the manifest is
    * missing (expired; the read path raises the named STALE error) or a
    * file predates row/byte recording. FULL-rendered manifests (the
    * every-`RebaseEvery`-th write, expire's rebase-in-place) still
    * answer exactly: main writes stamp their own files `seq = id`, so
    * the snapshot's increment is the seq-matching subset — the budget
    * never goes inert on a rebase boundary, and a huge rebased append
    * cannot ride a budget as one unbounded batch. One small manifest
    * read; no data file is opened — what `maxRowsPerTrigger`/
    * `maxBytesPerTrigger` budget against. */
  private[graft] def addedStreamCost(
      spark: SparkSession, root: String, id: Int): (Long, Long) = {
    val (f, qroot) = FsOps.fs(spark, root)
    val raw =
      try readSnapshotFile(f, snapshotsDir(qroot), id)
      catch { case scala.util.control.NonFatal(_) => return (-1L, -1L) }
    raw.mode match {
      case "append" | "merge_mor" =>
        val own =
          if (raw.full.isDefined) raw.full.get.filter(_.seq == id)
          else raw.adds
        val rows =
          if (own.forall(_.rows >= 0)) own.map(_.rows).sum else -1L
        val bytes =
          if (own.forall(_.bytes >= 0)) own.map(_.bytes).sum else -1L
        (rows, bytes)
      case _ => (0L, 0L)
    }
  }

  /** The head's rolling replay-tag window ([[MaxRecentTags]], carried
    * manifest to manifest) — what a tagged write converges against.
    * Exposed so the stream sink can recognize LEGACY (pre-query-scoped)
    * tags during an upgrade; one small manifest read. */
  private[graft] def recentReplayTags(
      spark: SparkSession, root: String): Seq[String] = {
    val (f, qroot) = FsOps.fs(spark, root)
    mainPointer(f, qroot).map(id =>
      readSnapshotFile(f, snapshotsDir(qroot), id).effectiveRecentTags)
      .getOrElse(Seq.empty)
  }

  /** The oldest snapshot id [[expire]] has retained — the earliest point
    * a fresh incremental consumer can bootstrap from (expired history
    * cannot replay). */
  private[graft] def earliestRetainedSnapshot(
      spark: SparkSession, root: String): Option[Int] = {
    val (f, qroot) = FsOps.fs(spark, root)
    committedIds(f, qroot, mainPointer(f, qroot)).headOption
  }

  /** The write mode one manifest records (append / merge_mor / compact /
    * …) — one manifest read, no chain resolution. The
    * [[graft.streaming.SnapshotFollower]] dispatch: append-shaped
    * snapshots emit, maintenance snapshots skip (visible rows provably
    * unchanged), everything else is a policy decision. */
  private[graft] def snapshotModeOf(
      spark: SparkSession, root: String, id: Int): String = {
    val (f, qroot) = FsOps.fs(spark, root)
    readSnapshotFile(f, snapshotsDir(qroot), id).mode
  }

  /** Incremental-consumer mode dispatch (the follower's and the
    * Structured Streaming source's shared truth): append-shaped
    * snapshots EMIT their added rows; row-preserving maintenance SKIPS
    * (re-emitting would double-deliver); everything else is policy. */
  private[graft] val EmitModes: Set[String] = Set("append", "merge_mor")
  private[graft] val SkipModes: Set[String] =
    Set("compact", "fold", "migrate_spec", "evolve_spec", "evolve_schema",
      "add_constraint", "drop_constraint", "rename_column", "drop_column")

  /** Added-rows frames for every emit-mode snapshot in `(startId,
    * endId]`, resolved with ONE manifest cache shared across the whole
    * span — the streaming-source catch-up path, where per-id
    * [[readAddedSince]] calls would re-walk each delta chain
    * gap × chainDepth times from scratch. Non-emit, non-skip modes
    * invoke `onNonAppend(id, mode)` — throw there to fail the caller,
    * return to skip the snapshot. */
  private[graft] def addedSinceBatches(
      spark: SparkSession, root: String, startId: Int, endId: Int,
      onNonAppend: (Int, String) => Unit): Seq[DataFrame] = {
    require(startId >= 1, s"start offset s$startId predates the dataset")
    val (f, qroot) = FsOps.fs(spark, root)
    val ms = snapshotsDir(qroot)
    val cache: ManifestCache = scala.collection.mutable.Map.empty
    (startId + 1 to endId).flatMap { id =>
      val mode = readSnapshotFile(f, ms, id, cache).mode
      if (EmitModes(mode)) {
        val m = resolve(f, ms, id, cache)
        val added = addedFiles(resolve(f, ms, id - 1, cache), m)
        if (added.isEmpty) None
        else Some(scanWithDeletes(spark, qroot, m, added))
      } else if (SkipModes(mode)) None
      else { onNonAppend(id, mode); None }
    }
  }

  /** Partition dirs whose VISIBLE ROWS could differ between two
    * snapshots: dirs whose live file sets differ, plus dirs holding files
    * a delete only one side holds applies to (on that side) — file sets
    * can be identical while a new delete suppresses rows, so file-set
    * diffing alone is not enough under merge-on-read. */
  private def changedDirs(a: Resolved, b: Resolved): Set[String] = {
    val aBy = a.files.map(_.rel).groupBy(parentDirOf)
    val bBy = b.files.map(_.rel).groupBy(parentDirOf)
    val aRels = a.deletes.map(_.rel).toSet
    val bRels = b.deletes.map(_.rel).toSet
    (aBy.keySet ++ bBy.keySet)
      .filter(d => aBy.get(d).map(_.toSet) != bBy.get(d).map(_.toSet)) ++
      deleteDirs(b, b.deletes.filterNot(d => aRels(d.rel))) ++
      deleteDirs(a, a.deletes.filterNot(d => bRels(d.rel)))
  }

  /** Partition directories whose live FILE SETS differ between two
    * snapshots (plus, under merge-on-read, dirs a differing
    * equality-delete set can affect) — the pruning pre-pass for row-level
    * snapshot diffing: manifests alone name the partitions worth reading;
    * everything else is provably identical (same immutable files, same
    * applicable deletes). */
  def changedPartitions(
      spark: SparkSession, root: String, fromId: Int, toId: Int): Seq[String] = {
    val (f, qroot) = FsOps.fs(spark, root)
    val cache: ManifestCache = scala.collection.mutable.Map.empty
    changedDirs(resolve(f, snapshotsDir(qroot), fromId, cache),
      resolve(f, snapshotsDir(qroot), toId, cache)).toSeq.sorted
  }

  /**
   * Row-level CDC between two snapshots: per key, `insert` (in `to`
   * only), `delete` (in `from` only — pre-image values), or `update`
   * (present in both with any column changed — post-image values).
   * With `includeUpdatePreimages`, each update emits TWO rows —
   * `update_pre` (the from-side image) and `update_post` — the shape
   * downstream INCREMENTAL MAINTENANCE needs: an aggregate updates by
   * subtracting every pre-image/delete contribution and adding every
   * post-image/insert one, no re-scan of unchanged data. Column set is
   * the TO snapshot's contract; a column the FROM snapshot predates
   * reads null on its side.
   *
   * Scale shape: [[changedPartitions]] prunes FIRST — only partitions
   * whose file sets differ are read on either side (everything else is
   * provably identical: same immutable files), then one key-equality
   * full-outer join over those slices with an `xxhash64` row comparison.
   * A partition rewrite that changed no rows (compaction) joins and
   * emits nothing. Applying the result to `read(asOf=from)` (delete the
   * delete/update keys, union the insert/update-post rows) reproduces
   * `read(asOf=to)` exactly.
   *
   * PRECONDITION: `keyFields` identify rows uniquely within each
   * snapshot (the invariant [[mergeUpsert]] maintains). A key duplicated
   * by raw appends has no well-defined row diff — the join pairs
   * arbitrary copies and the classification is meaningless for that key.
   */
  def changes(
      spark: SparkSession, root: String, fromId: Int, toId: Int,
      keyFields: Seq[String],
      includeUpdatePreimages: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions._
    require(keyFields.nonEmpty, "changes needs at least one key field")
    val (f, qroot) = FsOps.fs(spark, root)
    val cache: ManifestCache = scala.collection.mutable.Map.empty
    val a = resolve(f, snapshotsDir(qroot), fromId, cache)
    val b = resolve(f, snapshotsDir(qroot), toId, cache)
    val dirs = changedDirs(a, b)
    val bSchema = b.schema.getOrElse(throw new IllegalStateException(
      s"snapshot s$toId records no schema — cannot diff"))
    // each side's slice applies ITS OWN snapshot's equality-deletes — the
    // diff compares visible rows, not raw file contents
    def slice(m: Resolved, entries: Seq[FileEntry]): DataFrame =
      if (entries.isEmpty)
        spark.createDataFrame(
          new java.util.ArrayList[Row](),
          m.schema.getOrElse(bSchema))
      else scanWithDeletes(spark, qroot, m, entries)
    val dfA = slice(a, a.files.filter(e => dirs(parentDirOf(e.rel))))
    val dfB = slice(b, b.files.filter(e => dirs(parentDirOf(e.rel))))
    // align FROM onto TO's contract: columns the older snapshot predates
    // read null (matching what a post-widening travel read would see)
    val cols = bSchema.fields.toSeq
    val alignedA = dfA.select(cols.map(fd =>
      if (dfA.columns.contains(fd.name)) qc(fd.name)
      else lit(null).cast(fd.dataType).as(fd.name)): _*)
    val la = alignedA.select(struct(cols.map(fd => qc(fd.name)): _*).as("a"))
    val lb = dfB.select(struct(cols.map(fd => qc(fd.name)): _*).as("b"))
    val keyCond = keyFields
      .map(k => col(s"a.${qname(k)}") <=> col(s"b.${qname(k)}"))
      .reduce(_ && _)
    // update-vs-unchanged compares the structs DIRECTLY (one codegen'd
    // expression, null-safe per field) — a 64-bit hash compare would
    // silently suppress an update on a hash collision between the pre-
    // and post-image, drifting any downstream incremental maintenance
    val change = when(col("a").isNull, "insert")
      .when(col("b").isNull, "delete")
      .when(!(col("a") <=> col("b")), "update")
    val j = la.join(lb, keyCond, "full_outer")
      .withColumn("change_type", change)
      .filter(col("change_type").isNotNull)
    val post = j.select(cols.map(fd =>
      when(col("b").isNotNull, col(s"b.${qname(fd.name)}"))
        .otherwise(col(s"a.${qname(fd.name)}")).as(fd.name))
      :+ (if (includeUpdatePreimages)
            when(col("change_type") === "update", "update_post")
              .otherwise(col("change_type")).as("change_type")
          else col("change_type")): _*)
    if (!includeUpdatePreimages) post
    else post.unionByName(
      j.filter(col("change_type") === "update")
        .select(cols.map(fd => col(s"a.${qname(fd.name)}").as(fd.name))
          :+ lit("update_pre").as("change_type"): _*))
  }

  /**
   * Continuous snapshot maintenance: every micro-batch lands as one
   * snapshot through [[write]] — the stateless-foreachBatch posture of
   * all the persisted-index streams ([[graft.streaming.EventStream]]):
   * the SNAPSHOT TREE is the state, each batch publishes atomically, and
   * readers time-travel to any retained batch boundary.
   *
   * Exactly-once over at-least-once delivery: each batch's
   * (id, content-fingerprint) tag is recorded in the manifest it
   * publishes, and a re-delivered batch (same tag as the current
   * snapshot's) returns that snapshot instead of appending again. The
   * tag is content-derived ([[graft.streaming.ReplayGuard]]), so it
   * stays safe across checkpoint-lineage changes that restart batch ids
   * at 0. Pass `checkpointLocation` for restartable streams. Pair with a
   * scheduled [[compact]] + [[expire]] to bound fragment and manifest
   * growth.
   */
  def snapshotStream(
      stream: DataFrame, root: String, partitionFields: Seq[String],
      mode: SnapshotMode = SnapAppend,
      checkpointLocation: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val w = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], id: Long) =>
        // an empty batch must not burn a snapshot id
        if (!batch.isEmpty) {
          val tag = s"$id:${java.lang.Long.toHexString(
            graft.streaming.ReplayGuard.fingerprint(batch.toDF()))}"
          write(batch.toDF(), root, partitionFields, mode,
            batchTag = Some(tag)): Unit
        }
      }
    checkpointLocation.foldLeft(w)((x, c) =>
      x.option("checkpointLocation", c)).start()
  }

  /**
   * Continuous CDC application: every micro-batch of change rows lands
   * through [[mergeDeltas]] — merge-on-read, so each batch costs O(batch)
   * regardless of how big the dataset has grown (the 100 TB streaming-CDC
   * shape; the copy-on-write alternative rewrites every file holding a
   * batch key). Exactly-once over at-least-once delivery by the same
   * content-derived replay tag as [[snapshotStream]] — safe across
   * checkpoint-lineage restarts. Pair with [[maintain]] (fold + compact +
   * retention) on a schedule to bound read-side delete-join work.
   */
  def mergeStream(
      stream: DataFrame, root: String, partitionFields: Seq[String],
      keyFields: Seq[String], deleteCol: Option[String] = None,
      checkpointLocation: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val w = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], id: Long) =>
        if (!batch.isEmpty) {
          val tag = s"$id:${java.lang.Long.toHexString(
            graft.streaming.ReplayGuard.fingerprint(batch.toDF()))}"
          mergeDeltas(batch.sparkSession, root, batch.toDF(),
            partitionFields, keyFields, deleteCol,
            batchTag = Some(tag)): Unit
        }
      }
    checkpointLocation.foldLeft(w)((x, c) =>
      x.option("checkpointLocation", c)).start()
  }

  /**
   * Read the dataset at a snapshot — the CURRENT one when `asOf` is
   * empty, or any retained older one (time travel). The manifest's file
   * list goes straight to the scan with `basePath`, so the partition
   * directories surface as partition columns and partition-filter
   * pruning applies exactly as on a directly-read tree.
   *
   * `prune` applies FILE-LEVEL DATA SKIPPING before the scan plans: files
   * whose recorded per-column min/max cannot intersect a [[StatRange]]
   * are dropped from the listing (callers still apply their row filter —
   * skipping is a superset guarantee, asserted conservative). A snapshot
   * whose live set is legitimately empty (a merge deleted every row)
   * reads as an EMPTY frame under the recorded contract, not an error.
   */
  def read(
      spark: SparkSession, root: String,
      asOf: Option[Int] = None,
      prune: Seq[StatRange] = Seq.empty): DataFrame = {
    val (_, qroot, m) = resolveHead(spark, root, asOf = asOf)
    readResolved(spark, qroot, m, prune, s"s${m.id}")
  }

  /** The recorded read contract of a snapshot (current by default) — one
    * manifest read, no chain resolution, no file listing (every manifest
    * carries its own schema line). The cheap schema probe
    * [[graft.sources.SnapshotSource]] and catalog registration use. */
  def tableSchema(
      spark: SparkSession, root: String,
      asOf: Option[Int] = None): StructType = {
    val (f, qroot, id) = headId(spark, root, asOf = asOf)
    readSnapshotFile(f, snapshotsDir(qroot), id).schema.getOrElse(
      throw new IllegalStateException(
        s"snapshot s$id records no schema (legacy v1 manifest) — one v2 " +
          "write pins the contract"))
  }

  /** Per-partition operational stats of a snapshot (current by default),
    * answered from the manifest alone — no data file or directory is
    * touched: live file count, row count (null when any file predates
    * count recording), byte size (likewise), and the partition's
    * relative directory. The input a compaction/skew policy wants ("which
    * partitions are over-fragmented or outsized") and the
    * `partitionStats`-style health read, at metadata cost. */
  def partitionStats(
      spark: SparkSession, root: String,
      asOf: Option[Int] = None): DataFrame = {
    import spark.implicits._
    val (_, _, m) = resolveHead(spark, root, asOf = asOf)
    m.files.groupBy(e => parentDirOf(e.rel)).toSeq.sortBy(_._1)
      .map { case (dir, es) =>
        val (rows, bytes) = liveTotals(es)
        (dir, es.length.toLong, rows, bytes)
      }.toDF("partition", "n_files", "n_rows", "n_bytes")
  }

  /** Total bytes of a snapshot's live data files, answered from the
    * manifest's recorded per-file lengths alone — None when any live
    * file predates length recording. What
    * [[graft.sources.SnapshotRelation]] hands Catalyst as `sizeInBytes`,
    * so a small snapshot table becomes broadcast-joinable without a
    * filesystem walk. */
  def liveDataBytes(
      spark: SparkSession, root: String,
      asOf: Option[Int] = None): Option[Long] =
    liveTotals(resolveHead(spark, root, asOf = asOf)._3.files)._2

  /** The partition spec in force at the current snapshot (the manifest's
    * `partitionby=` line) — one manifest read; empty for legacy datasets
    * that predate recorded specs. What SQL `INSERT INTO` routes under. */
  def recordedPartitionCols(spark: SparkSession, root: String): Seq[String] = {
    val (f, qroot, id) = headId(spark, root)
    readSnapshotFile(f, snapshotsDir(qroot), id).partitionCols
  }

  /** Register a snapshot dataset in the session catalog (metastore) as an
    * EXTERNAL table backed by [[graft.sources.SnapshotSource]], making the
    * landing zone plain-SQL-queryable: `SELECT ... FROM db.tbl` resolves
    * the CURRENT snapshot's manifest at scan time, so every publish is
    * visible to the next query with no re-registration (the pointer flip
    * IS the refresh; a schema WIDENING surfaces with at most `REFRESH
    * TABLE` — the relation serves the manifest contract, superseding the
    * metastore's registration-time copy). `asOf` pins a time-travel
    * table; `branch` reads a live branch head. Re-registering an
    * existing name replaces it; DROP TABLE never touches the dataset
    * (external). The
    * [[PartitionCatalog.registerExternal]] story extended to the table
    * format.  Ref: reference partitioned-sink Explore-registration
    * surface (SURVEY §2 F7). */
  def registerTable(
      spark: SparkSession, root: String, table: String,
      asOf: Option[Int] = None, branch: Option[String] = None): Unit = {
    require("^[A-Za-z0-9_]+(\\.[A-Za-z0-9_]+)?$".r.matches(table),
      s"table name '$table' must be [db.]name with word characters only")
    require(asOf.isEmpty || branch.isEmpty,
      "asOf and branch are mutually exclusive")
    // validates the dataset/branch exists and records a contract
    branch match {
      case Some(b) => branchSchema(spark, root, b): Unit
      case None => tableSchema(spark, root, asOf): Unit
    }
    val loc = root.replace("'", "''")
    val opts = asOf.map(id => s" OPTIONS (asOf '$id')")
      .orElse(branch.map(b => s" OPTIONS (branch '$b')")).getOrElse("")
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(
      s"CREATE TABLE $table USING graft.sources.SnapshotSource$opts " +
        s"LOCATION '$loc'"): Unit
  }

  /** The newest retained snapshot published at or before `tsMillis`
    * (epoch millis) — resolved from each manifest's RECORDED publish
    * instant, which survives expire's rebase-in-place (file mtimes do
    * not). None when every retained snapshot is newer. Snapshots
    * predating timestamp recording resolve as id order allows: they are
    * older than every stamped one by construction. */
  def snapshotAt(
      spark: SparkSession, root: String, tsMillis: Long): Option[Int] = {
    val (f, qroot) = FsOps.fs(spark, root)
    val ids = committedIds(f, qroot, mainPointer(f, qroot))
    // ts is monotone in id (single-writer publishes in id order), so the
    // newest qualifying id is the answer; an unstamped (legacy) manifest
    // qualifies iff some stamped descendant does or none is stamped
    ids.reverse.find { id =>
      readSnapshotFile(f, snapshotsDir(qroot), id).ts.forall(_ <= tsMillis)
    }
  }

  /** Time-based travel: [[read]] at [[snapshotAt]]`(tsMillis)` — "the
    * table as it was at 9am". Fails loudly when the dataset has no
    * snapshot that old. */
  def readAt(
      spark: SparkSession, root: String, tsMillis: Long,
      prune: Seq[StatRange] = Seq.empty): DataFrame = {
    val id = snapshotAt(spark, root, tsMillis).getOrElse(
      throw new IllegalStateException(
        s"no snapshot at or before ${new java.sql.Timestamp(tsMillis)} " +
          s"under $root — the earliest retained snapshot is newer " +
          "(or was expired)"))
    read(spark, root, asOf = Some(id), prune = prune)
  }

  /** Per-live-file manifest inventory of a snapshot (current by
    * default) — relative path, partition dir, manifest-stamped sequence
    * (the snapshot that added it), row count and byte size (null when
    * the file predates recording). Answered from the manifest alone —
    * the `DESCRIBE DETAIL`-files / `inputFiles` role at metadata cost,
    * no directory listing, no data file opened. */
  def liveFiles(
      spark: SparkSession, root: String,
      asOf: Option[Int] = None): DataFrame = {
    import spark.implicits._
    resolveHead(spark, root, asOf = asOf)._3.files.sortBy(_.rel)
      // legacy entries predate seq recording (parser default 0; ids
      // start at 1) — null, like the rows/bytes columns, never a
      // nonexistent s0
      .map(e => (e.rel, parentDirOf(e.rel),
        if (e.seq > 0) Some(e.seq) else None,
        if (e.rows >= 0) Some(e.rows) else None,
        if (e.bytes >= 0) Some(e.bytes) else None))
      .toDF("file", "partition", "added_by", "n_rows", "n_bytes")
  }

  /** One-row operational summary of the dataset (the Delta
    * `DESCRIBE DETAIL` role): current snapshot, format/codec, the
    * recorded partition/stat/bloom declarations, live file/partition/
    * row/byte totals, pending equality-delete files, and ref counts —
    * manifests and the refs/branches listings only, no data file
    * opened. */
  def detail(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val (_, _, m) = resolveHead(spark, root)
    val (nRows, nBytes) = liveTotals(m.files)
    Seq((m.id, m.mode, m.format, m.codec,
      m.partitionCols.mkString(","), m.statsCols.mkString(","),
      m.bloomCols.mkString(","),
      m.files.length.toLong,
      m.files.map(e => parentDirOf(e.rel)).distinct.length.toLong,
      nRows, nBytes, m.deletes.length.toLong,
      tags(spark, root).size.toLong,
      branches(spark, root).size.toLong,
      m.constraints.map { case (n, e) => s"$n: $e" }.mkString("; ")))
      .toDF("snapshot_id", "mode", "format", "codec", "partition_by",
        "stats_columns", "bloom_columns", "n_files", "n_partitions",
        "n_rows", "n_bytes", "n_delete_files", "n_tags", "n_branches",
        "constraints")
  }

  private def readResolved(
      spark: SparkSession, qroot: Path, m: Resolved,
      prune: Seq[StatRange], label: String): DataFrame = {
    val kept = planFiles(spark, qroot, m, m.files, prune)
    if (kept.isEmpty) {
      // a legitimately-empty state (or a fully-pruned read) is an empty
      // frame under the contract — never an unreadable dataset
      val s = m.schema.getOrElse(throw new IllegalStateException(
        s"snapshot $label is empty and records no schema"))
      return spark.createDataFrame(new java.util.ArrayList[Row](), s)
    }
    // the recorded schema IS the read contract: inference-free, stable
    // column order, widened columns resolve against pre-widening files
    // (absent columns read null, stored ints upcast); live equality-delete
    // files (merge-on-read) are applied per seq-and-stats class
    scanWithDeletes(spark, qroot, m, kept)
  }

  /** Live (rows, bytes) totals of `files`, answered from the per-file
    * manifest counts alone — each None when any file predates its
    * recording, 0 for no file. Rows merge-on-read deletes suppress are
    * still counted (no data is read; fold to settle them). */
  private def liveTotals(
      files: Seq[FileEntry]): (Option[Long], Option[Long]) = {
    def total(v: FileEntry => Long) =
      if (files.forall(v(_) >= 0)) Some(files.map(v).sum) else None
    (total(_.rows), total(_.bytes))
  }

  /**
   * Snapshot history as a DataFrame — the index-health read of the
   * snapshot tree ([[graft.ops.Dedup.dupGraphHealth]]'s role): per
   * retained snapshot, its write mode, live file count, live partition
   * count, and whether it is current; the leading columns of
   * [[snapshotLog]]. All figures come from the manifests alone — no data
   * file is opened. Orphan manifests beyond the committed pointer are not
   * history.
   */
  def history(spark: SparkSession, root: String): DataFrame =
    snapshotLog(spark, root).select(
      "snapshot_id", "mode", "n_files", "n_partitions", "is_current")

  /** Operational log of every retained snapshot — [[history]] plus the
    * newer manifest metadata: publish instant (null for snapshots
    * predating timestamps), the partition spec in force, live
    * equality-delete file count (non-zero = merge-on-read reads pending
    * a fold), the stream replay tag if one published it, and the live
    * row and byte totals ([[liveTotals]]). Manifests only; no data file
    * is opened. The schedulable health read: "is this landing zone
    * folding, compacting and expiring on cadence". */
  def snapshotLog(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val (f, qroot) = FsOps.fs(spark, root)
    val cur = mainPointer(f, qroot)
    val cache: ManifestCache = scala.collection.mutable.Map.empty
    committedIds(f, qroot, cur).map { id =>
      val m = resolve(f, snapshotsDir(qroot), id, cache)
      val (nRows, nBytes) = liveTotals(m.files)
      (id, m.mode, m.ts.map(new java.sql.Timestamp(_)),
        m.partitionCols.mkString(","), m.files.length.toLong,
        m.files.map(e => parentDirOf(e.rel)).distinct.length.toLong,
        m.deletes.length.toLong, m.batchTag, cur.contains(id), nRows,
        nBytes)
    }.toDF("snapshot_id", "mode", "published_at", "partition_spec",
      "n_files", "n_partitions", "n_delete_files", "batch_tag", "is_current",
      "n_rows", "n_bytes")
  }

  // ------------------------------------------------------------- tags

  // "." and ".." are explicitly rejected: every ref name becomes a path
  // segment under refs/ / staged/ / branches/, and Hadoop Path NORMALIZES
  // dot segments — dropTag("..") would otherwise resolve to the dataset
  // root and recursively delete it
  private val RefRe = "^(?!\\.{1,2}$)[A-Za-z0-9._-]{1,64}$".r

  /** Gate for every name that becomes a path segment (tags, staged
    * writes, branches) — validated at EVERY public entry point that
    * touches the segment, not just at creation: the destructive calls
    * (dropTag/dropBranch/abandonStaged) accept caller strings too. */
  private def requireRefName(kind: String, name: String): Unit =
    require(RefRe.matches(name),
      s"$kind name '$name' must match ${RefRe.regex}")

  private def refsDir(root: Path) = new Path(root, "refs")

  /** Name a retained snapshot: tagged snapshots are PROTECTED — [[expire]]
    * keeps them (and their files) regardless of `keepLast`, so "pin the
    * monthly baseline forever" is one metadata write. Re-tagging an
    * existing name moves it (atomic overwrite). */
  def tagSnapshot(
      spark: SparkSession, root: String, name: String, id: Int): Unit = {
    val (_, _, cur) = headId(spark, root)
    require(id <= cur, s"cannot tag unpublished snapshot s$id (newest s$cur)")
    tagResolved(spark, root, name, id)
  }

  /** Tag the CURRENT snapshot (one pointer read — the default-to-current
    * choice lives HERE, not in each SQL/ops caller). Returns the tagged
    * id. */
  def tagCurrent(spark: SparkSession, root: String, name: String): Int = {
    val (_, _, cur) = headId(spark, root, " — nothing to tag")
    tagResolved(spark, root, name, cur)
    cur
  }

  private def tagResolved(
      spark: SparkSession, root: String, name: String, id: Int): Unit = {
    requireRefName("tag", name)
    val (f, qroot) = FsOps.fs(spark, root)
    // fails loudly if already expired
    resolve(f, snapshotsDir(qroot), id): Unit
    f.mkdirs(refsDir(qroot))
    FsOps.atomicWrite(f, new Path(refsDir(qroot), name), s"s$id")
  }

  /** Delete a tag (the snapshot becomes expirable again). Returns whether
    * the tag existed. */
  def dropTag(spark: SparkSession, root: String, name: String): Boolean = {
    requireRefName("tag", name)
    val (f, qroot) = FsOps.fs(spark, root)
    val p = new Path(refsDir(qroot), name)
    val existed = f.exists(p)
    FsOps.deleteIfExists(f, p)
    existed
  }

  /** All tags as (name → snapshot id). */
  def tags(spark: SparkSession, root: String): Map[String, Int] = {
    val (f, qroot) = FsOps.fs(spark, root)
    val dir = refsDir(qroot)
    if (!f.exists(dir)) Map.empty
    // dot-hidden entries are atomicWrite temps from a crashed tag — never
    // refs; including them would wedge every tags()/expire() call
    else f.listStatus(dir).filterNot(_.getPath.getName.startsWith(".")).map { s =>
      val in = f.open(s.getPath)
      val v =
        try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8).trim
        finally in.close()
      s.getPath.getName -> (v match {
        case SnapRe(n) => n.toInt
        case other => throw new IllegalStateException(
          s"corrupt tag ${s.getPath.getName}: expected s<N>, got '$other'")
      })
    }.toMap
  }

  /** Read the dataset at a named tag ([[tagSnapshot]]) — `read(asOf=)`
    * with the id resolved from the ref. */
  def readTag(spark: SparkSession, root: String, name: String,
      prune: Seq[StatRange] = Seq.empty): DataFrame = {
    val id = tags(spark, root).getOrElse(name,
      throw new IllegalStateException(s"no tag '$name' under $root"))
    read(spark, root, asOf = Some(id), prune = prune)
  }

  // --------------------------------------------------------- branches

  private def branchesDir(root: Path) = new Path(root, "branches")
  private def branchDir(root: Path, name: String) =
    new Path(branchesDir(root), name)

  private def readSmall(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try new String(in.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8).trim
    finally in.close()
  }

  private def parseSnapRef(what: String, s: String): Int = s match {
    case SnapRe(n) => n.toInt
    case other => throw new IllegalStateException(
      s"corrupt $what: expected s<N>, got '$other'")
  }

  private def branchHeadOpt(
      f: FileSystem, qroot: Path, name: String): Option[Int] = {
    val p = new Path(branchDir(qroot, name), "HEAD")
    if (!f.exists(p)) None
    else Some(parseSnapRef(s"branch '$name' HEAD", readSmall(f, p)))
  }

  private def branchHead(f: FileSystem, qroot: Path, name: String): Int =
    branchHeadOpt(f, qroot, name).getOrElse(throw new IllegalStateException(
      s"no branch '$name' under $qroot — createBranch first"))

  /** (fork main id, incarnation nonce) from a branch's FORK file —
    * pre-nonce files read an empty nonce. */
  private def readFork(
      f: FileSystem, qroot: Path, name: String): (Int, String) = {
    val parts = readSmall(f,
      new Path(branchDir(qroot, name), "FORK")).split(" ", 2)
    (parseSnapRef(s"branch '$name' FORK", parts(0)),
      if (parts.length > 1) parts(1) else "")
  }

  /**
   * WRITABLE BRANCH: fork the dataset at a snapshot into a named lineage
   * that accepts REPEATED writes ([[writeToBranch]] — appends and
   * partition overwrites) without main ever seeing them, then
   * [[fastForward]] publishes the whole branch state to main with one
   * atomic flip — the Iceberg/Nessie audit-branch workflow, where a
   * multi-write backfill or experiment lands invisibly, audits as a
   * whole, and merges or drops. [[stageWrite]] remains the one-shot
   * flavor; a branch is the multi-write one.
   *
   * Mechanics: the branch keeps its own manifest chain under
   * `branches/<name>/` with branch-local ids — its first manifest is a
   * FULL copy of the fork state, so the chain never references main's
   * manifests (main can expire freely; the FILES both lineages share are
   * protected — [[expire]]/[[vacuum]] count branch references). Data
   * files land in the shared immutable `data/` pool exactly like main
   * writes. Fork cost is one full-manifest write — the same metadata
   * cost every [[RebaseEvery]]-th ordinary write already pays.
   */
  def createBranch(
      spark: SparkSession, root: String, name: String,
      fromId: Option[Int] = None): Unit = {
    requireRefName("branch", name)
    val (f, qroot, cur) = headId(spark, root)
    val forkId = fromId.getOrElse(cur)
    require(forkId <= cur,
      s"cannot branch from unpublished s$forkId (newest s$cur)")
    val bdir = branchDir(qroot, name)
    require(!f.exists(new Path(bdir, "HEAD")),
      s"branch '$name' already exists under $root — dropBranch first")
    val m = resolve(f, snapshotsDir(qroot), forkId)
    val meta = metaOf(m, "branch_fork").copy(
      ts = Some(System.currentTimeMillis()), recentTags = Seq.empty)
    f.mkdirs(bdir)
    FsOps.atomicWrite(f, new Path(bdir, "s1"),
      renderManifest(meta, None, Seq.empty, Seq.empty, Some(m.files),
        dFull = m.deletes))
    // the nonce makes every branch INCARNATION unique: a re-created
    // branch with the same name/fork/head must never match an older
    // incarnation's recorded merge tag in fastForward's crash recovery
    FsOps.atomicWrite(f, new Path(bdir, "FORK"),
      s"s$forkId ${java.util.UUID.randomUUID().toString.take(12)}")
    // HEAD last: a crash before this line leaves a half-created branch
    // that branchHeadOpt treats as nonexistent (and createBranch retries
    // over)
    FsOps.atomicWrite(f, new Path(bdir, "HEAD"), "s1")
  }

  /** Write to a branch ([[createBranch]]): the full snapshot write
    * discipline — staging, stats, schema-evolution gate, era checks —
    * against the BRANCH head, published by flipping the branch pointer;
    * main is untouched. Returns the new branch-local snapshot id. */
  def writeToBranch(
      df: DataFrame, root: String, name: String,
      partitionFields: Seq[String], mode: SnapshotMode = SnapAppend,
      evolution: graft.schema.SchemaEvolution.Policy =
        graft.schema.SchemaEvolution.Widen): Int = {
    requireRefName("branch", name)
    val (f, qroot) = FsOps.fs(df.sparkSession, root)
    writeInternal(df, root, partitionFields, mode, mode.name, evolution,
      headOf(f, qroot, Some(name)), branch = Some(name))
  }

  /** Read a branch's state (its head, or an older branch-local snapshot)
    * with the same contract and [[StatRange]] skipping as [[read]]. */
  def readBranch(
      spark: SparkSession, root: String, name: String,
      asOf: Option[Int] = None,
      prune: Seq[StatRange] = Seq.empty): DataFrame = {
    requireRefName("branch", name)
    val (f, qroot) = FsOps.fs(spark, root)
    val head = branchHead(f, qroot, name)
    val id = asOf.getOrElse(head)
    require(id <= head, s"branch '$name' has no snapshot s$id (head s$head)")
    readResolved(spark, qroot, resolve(f, branchDir(qroot, name), id),
      prune, s"branch '$name' s$id")
  }

  /** The recorded read contract at a branch's head — the branch twin of
    * [[tableSchema]], one manifest read. What a `branch`-pinned
    * [[graft.sources.SnapshotRelation]] serves as its schema. */
  def branchSchema(
      spark: SparkSession, root: String, name: String): StructType = {
    requireRefName("branch", name)
    val (f, qroot) = FsOps.fs(spark, root)
    val head = branchHead(f, qroot, name)
    readSnapshotFile(f, branchDir(qroot, name), head).schema.getOrElse(
      throw new IllegalStateException(
        s"branch '$name' head s$head records no schema"))
  }

  /** A branch's head id, if the branch exists — the pointer value a
    * branch-pinned relation memoizes its schema against. */
  private[graft] def branchHeadId(
      spark: SparkSession, root: String, name: String): Option[Int] = {
    val (f, qroot) = FsOps.fs(spark, root)
    branchHeadOpt(f, qroot, name)
  }

  /** Live branches as (name → (branch head id, main fork id)). */
  def branches(spark: SparkSession, root: String): Map[String, (Int, Int)] = {
    val (f, qroot) = FsOps.fs(spark, root)
    val dir = branchesDir(qroot)
    if (!f.exists(dir)) Map.empty
    else f.listStatus(dir).filter(_.isDirectory).flatMap { st =>
      val name = st.getPath.getName
      branchHeadOpt(f, qroot, name).map(h =>
        name -> ((h, readFork(f, qroot, name)._1)))
    }.toMap
  }

  /**
   * FAST-FORWARD / REBASE MERGE: publish a branch's state to main as one
   * new snapshot (mode `branch_merge`) and drop the branch. Two lanes:
   *
   *  - main still AT the fork → true fast-forward: the branch's whole
   *    state (appends, overwrites, CDC merges) flips in as one snapshot.
   *  - main ADVANCED past the fork and the branch holds only APPENDS →
   *    REBASE-MERGE, metadata-only: the branch-added files conflict with
   *    nothing (the pure-append commit retry's argument — no removes, no
   *    equality deletes, immutable shared data pool), so they replay onto
   *    the new head with re-stamped seqs; no data file is read or moved.
   *    This is what keeps the audit-branch workflow usable against a
   *    continuously-appending main ([[snapshotStream]]) — without it any
   *    live dataset's fork is stale by merge time.
   *
   * A branch holding OVERWRITES / COPY-ON-WRITE MERGES against a
   * since-advanced main fails loudly — publishing nothing — naming the
   * conflicting modes: those writes resolved a base state main no longer
   * follows from (the [[publishStaged]] optimistic posture; re-branch and
   * replay). A branch with no writes just drops. Returns the published
   * main snapshot id (the fork id if the branch was empty).
   */
  def fastForward(spark: SparkSession, root: String, name: String): Int = {
    requireRefName("branch", name)
    val (f, qroot) = FsOps.fs(spark, root)
    val bdir = branchDir(qroot, name)
    val head = branchHead(f, qroot, name)
    val (fork, nonce) = readFork(f, qroot, name)
    // an EMPTY branch has nothing to merge or replay — it just drops,
    // whatever main has done since the fork
    if (head == 1) { dropBranch(spark, root, name); return fork }
    val cur = mainPointer(f, qroot)
    // the merge manifest carries a tag unique to this branch INCARNATION
    // (the nonce) so a crash between the publish and the branch drop is
    // recoverable: re-running scans the RETAINED manifests past the fork
    // for the tag — total as long as the merge snapshot is retained, and
    // immune to both interleaved maintenance publishes and tagged stream
    // batches evicting the rolling window — and just finishes the
    // cleanup, instead of telling the operator to replay writes that
    // already landed
    val mergeTag = s"branch-merge:$name:$nonce:s$head"
    if (!cur.contains(fork))
      return mergeStaleFork(spark, f, qroot, root, name, bdir, head, fork,
        cur, mergeTag, nonce)
    // separate caches: branch-local and main ids are distinct sequences
    val b = resolve(f, bdir, head)
    val live = resolve(f, snapshotsDir(qroot), fork)
    val id = fork + 1
    // re-anchor branch-ADDED files in main's seq space: their branch-local
    // seqs mean nothing to main (a later main equality delete must be
    // able to suppress them — seq id works because main == fork here, so
    // every future delete's seq is > id); fork-carried files keep their
    // original main seqs
    val liveRels = live.files.map(_.rel).toSet
    val merged = b.files.map(e =>
      if (liveRels(e.rel)) e else e.copy(seq = id))
    commit(f, qroot, None, Some(live), metaOf(b, "branch_merge").copy(
      batchTag = Some(mergeTag),
      recentTags = (live.recentTags :+ mergeTag).takeRight(MaxRecentTags),
      constraints = live.constraints, renames = live.renames),
      LiveSet(merged, b.deletes)): Unit
    recordMerge(f, qroot, nonce, id)
    dropBranch(spark, root, name): Unit
    id
  }

  private def mergesDir(root: Path) = new Path(root, "merges")

  /** Durably record that branch incarnation `nonce`'s merge landed at
    * main snapshot `id` — one ~10-byte marker file, retained UNBOUNDEDLY
    * (never expired, never vacuumed): the backstop crash-recovery layer
    * that survives the extreme corner where expire dropped the tagged
    * manifest, a compact rewrote the branch-added part files out of
    * every retained manifest, AND 64+ tagged batches evicted the merge
    * tag from the rolling window — without it, a late fastForward retry
    * would find no evidence and re-publish the rebase-merge, doubling
    * the branch's rows. Written AFTER the publish (a crash in between
    * is covered by the retained tagged manifest) and BEFORE the branch
    * drop. */
  private def recordMerge(
      f: FileSystem, qroot: Path, nonce: String, id: Int): Unit =
    if (nonce.nonEmpty) {
      f.mkdirs(mergesDir(qroot))
      FsOps.atomicWrite(f, new Path(mergesDir(qroot), nonce), s"s$id")
    }

  /** The main snapshot id a branch incarnation's merge landed at, if its
    * durable marker exists (pre-nonce branches never have one). */
  private def recordedMergeId(
      f: FileSystem, qroot: Path, nonce: String): Option[Int] = {
    if (nonce.isEmpty) return None
    val p = new Path(mergesDir(qroot), nonce)
    if (!f.exists(p)) None
    else Some(parseSnapRef(s"merge marker $nonce", readSmall(f, p)))
  }

  /** [[fastForward]]'s stale-fork lane: crash recovery first (the merge
    * may already be committed), then a metadata-only REBASE-MERGE for
    * append-only branches, a loud abort naming the conflicting modes for
    * everything else. */
  private def mergeStaleFork(
      spark: SparkSession, f: FileSystem, qroot: Path, root: String,
      name: String, bdir: Path, head: Int, fork: Int, cur0: Option[Int],
      mergeTag: String, nonce: String): Int = {
    // crash recovery layer (0), the durable backstop: a merges/<nonce>
    // marker proves this incarnation's merge committed, however long ago
    // and whatever maintenance has since rewritten — finish the cleanup
    // and return the landed id (or the current head once that id has
    // been expired out of the retained chain)
    recordedMergeId(f, qroot, nonce).foreach { id =>
      dropBranch(spark, root, name): Unit
      return committedIds(f, qroot, cur0).find(_ == id)
        .orElse(cur0).getOrElse(id)
    }
    // crash recovery, three layers: (1) a RETAINED manifest past the fork
    // carries this incarnation's merge tag — finish the cleanup and
    // return ITS id (a rebase-merge need not land at fork+1);
    // (1b) the merge tag still rides the HEAD's ROLLING TAG WINDOW —
    // which maintenance (compact/fold) and expire's rebase-in-place both
    // carry forward verbatim, so this layer survives the expired-tagged-
    // manifest case even when a compact has also rewritten the merged
    // rows into new part files (the id the tag landed at is no longer
    // knowable; the current head, where the merge is visible, returns)
    def taggedMergeId(cur: Option[Int]): Option[Int] = {
      val retained = committedIds(f, qroot, cur)
      retained.filter(_ > fork)
        .find(id => readSnapshotFile(f, snapshotsDir(qroot), id).batchTag
          .contains(mergeTag))
        .orElse(retained.lastOption.filter(head =>
          readSnapshotFile(f, snapshotsDir(qroot), head).effectiveRecentTags
            .contains(mergeTag)))
    }
    taggedMergeId(cur0).foreach { id =>
      dropBranch(spark, root, name); return id
    }
    val bRes = resolve(f, bdir, head)
    val forkRes = resolve(f, bdir, 1)
    val forkRels = forkRes.files.map(_.rel).toSet
    val branchAdded = bRes.files.filterNot(e => forkRels(e.rel))
    // (2) the merge landed but its tagged manifest has since expired or
    // been rebased away: the branch-added part files are job-unique names
    // that only a merge can have put into a main manifest, so any
    // retained manifest referencing one proves the merge committed —
    // finish the cleanup instead of instructing a replay that would
    // double-apply rows (returns the OLDEST retained id showing them)
    if (branchAdded.nonEmpty) {
      val addedRels = branchAdded.map(_.rel).toSet
      val visibleAt = committedIds(f, qroot, cur0).filter(_ > fork)
        .find { id =>
          val raw = readSnapshotFile(f, snapshotsDir(qroot), id)
          (raw.adds ++ raw.full.getOrElse(Seq.empty))
            .exists(e => addedRels(e.rel))
        }
      visibleAt.foreach { id =>
        dropBranch(spark, root, name); return id
      }
    }
    // rebase-merge precondition: every branch write was a pure append —
    // no partition replaced, no equality-delete touched, no fork file
    // dropped. Anything else resolved a base state main has advanced
    // past, and replaying it would silently clobber main's newer writes.
    val nonAppend = (2 to head)
      .map(i => readSnapshotFile(f, bdir, i).mode)
      .filterNot(_ == "append").distinct
    val headRels = bRes.files.map(_.rel).toSet
    val touchedBeyondAppend = nonAppend.nonEmpty ||
      forkRes.files.exists(e => !headRels(e.rel)) ||
      bRes.deletes.map(_.rel).toSet != forkRes.deletes.map(_.rel).toSet
    if (touchedBeyondAppend) {
      val what =
        if (nonAppend.isEmpty) "removed or re-keyed fork state"
        else nonAppend.mkString(", ")
      throw new java.util.ConcurrentModificationException(
        s"branch '$name' forked from s$fork but main is now at " +
          s"${cur0.fold("(none)")(c => s"s$c")}, and the branch holds " +
          s"non-append writes ($what) — those resolved a base state main " +
          "no longer follows from, so they cannot rebase; re-branch from " +
          "the current state and replay the writes")
    }
    if (branchAdded.isEmpty) {
      // appends that landed nothing new (can't happen via writeToBranch,
      // which rejects empty batches — defensive): nothing to merge
      dropBranch(spark, root, name)
      return cur0.getOrElse(fork)
    }
    // metadata-only replay onto the advancing head, re-checked against
    // every head a lost race re-resolves (the pure-append commit retry's
    // posture — pure adds conflict with nothing)
    val replay: Option[Resolved] => (SnapMeta, Change) = h => {
      taggedMergeId(h.map(_.id)).foreach { id =>
        dropBranch(spark, root, name); return id
      }
      val live = h.getOrElse(
        noSnapshot(root, s" — branch '$name' outlived its dataset"))
      // dataset-fixed properties must still line up: a main that changed
      // format/codec/statsCols since the fork makes the branch's staged
      // layout wrong for this dataset — not retryable, surface loudly
      require(live.format == bRes.format && live.codec == bRes.codec &&
        live.statsCols == bRes.statsCols,
        s"branch '$name' wrote ${bRes.format}/${bRes.codec.getOrElse("-")}" +
          s"/stats:${bRes.statsCols.mkString(",")} but main is now " +
          s"${live.format}/${live.codec.getOrElse("-")}/stats:" +
          s"${live.statsCols.mkString(",")} — cannot rebase-merge")
      // constraint drift is equally not retryable: branch rows were
      // guarded under the FORK's constraint set (addConstraint's
      // existing-data validation scanned only MAIN's manifest, never
      // branch files), so rebasing them under a rule added since the
      // fork would publish unchecked rows as silently "constrained"
      require(live.renames == bRes.renames,
        s"branch '$name' forked under a different column-mapping ledger " +
          "than main's current one (a RENAME/DROP COLUMN landed since " +
          "the fork) — the branch's staged files carry the fork-time " +
          "physical names; re-branch and replay")
      require(live.constraints == bRes.constraints,
        s"branch '$name' wrote under constraints " +
          s"[${bRes.constraints.map(_._1).mkString(",")}] but main now " +
          s"declares [${live.constraints.map(_._1).mkString(",")}] — its " +
          "rows were never checked against the new rules; re-branch from " +
          "the current state and replay the writes")
      // the merged contract widens main's current schema by the branch's
      // (the branch may itself have widened since the fork)
      val contract = (live.schema, bRes.schema) match {
        case (Some(m), Some(b)) => Some(graft.schema.SchemaEvolution.validate(
          m, b, live.partitionCols, graft.schema.SchemaEvolution.Widen))
        case (m, b) => b.orElse(m)
      }
      // re-anchor in main's CURRENT seq space: every existing equality
      // delete has seq <= head < the new id, so none suppresses the
      // rebased rows — exactly an append's semantics
      (metaOf(live, "branch_merge").copy(schema = contract,
        batchTag = Some(mergeTag),
        recentTags = (live.recentTags :+ mergeTag).takeRight(MaxRecentTags)),
        Delta(adds = branchAdded.map(_.copy(seq = live.id + 1))))
    }
    val mainHead = cur0.map(resolve(f, snapshotsDir(qroot), _))
    val (meta, change) = replay(mainHead)
    val id = commit(f, qroot, None, mainHead, meta, change,
      Some((h, _) => replay(h)))
    recordMerge(f, qroot, nonce, id)
    dropBranch(spark, root, name): Unit
    id
  }

  /** Drop a branch without merging. Its branch-only files become
    * unreferenced — [[vacuum]] reclaims them behind the age grace.
    * Returns whether the branch existed. */
  def dropBranch(spark: SparkSession, root: String, name: String): Boolean = {
    requireRefName("branch", name)
    val (f, qroot) = FsOps.fs(spark, root)
    val p = branchDir(qroot, name)
    val existed = f.exists(p)
    FsOps.deleteIfExists(f, p)
    existed
  }

  /** Every (data rel, delete rel) any branch manifest still references —
    * ALL branch-local ids, not just heads, so branch time travel stays
    * readable. [[vacuum]] and [[expire]] must never sweep these: the
    * branch fork state shares files with main manifests that may expire
    * first. */
  private def branchFileRefs(
      f: FileSystem, qroot: Path): (Set[String], Set[String], Set[String]) = {
    val dir = branchesDir(qroot)
    if (!f.exists(dir)) return (Set.empty, Set.empty, Set.empty)
    val fs = Set.newBuilder[String]
    val ds = Set.newBuilder[String]
    val bs = Set.newBuilder[String]
    f.listStatus(dir).filter(_.isDirectory).foreach { st =>
      val name = st.getPath.getName
      branchHeadOpt(f, qroot, name).foreach { h =>
        // RAW manifests suffice: resolution only ever REMOVES entries
        // that an earlier manifest already lists, so the union of every
        // manifest's adds/full lines IS the union of the resolved states
        // — one small-file read per id, no chain replay
        (1 to h).foreach { i =>
          val raw = readSnapshotFile(f, st.getPath, i)
          val entries = raw.adds ++ raw.full.getOrElse(Seq.empty)
          fs ++= entries.map(_.rel)
          bs ++= entries.flatMap(_.bloomRef)
          ds ++= (raw.dAdds ++ raw.dFull.getOrElse(Seq.empty)).map(_.rel)
        }
      }
    }
    (fs.result(), ds.result(), bs.result())
  }

  /** Publish one BRANCH manifest and flip the branch pointer — the
    * [[publishManifest]] safety rails against the branch's own HEAD. */
  private def publishBranchManifest(
      f: FileSystem, qroot: Path, name: String, id: Int,
      expectedCur: Option[Int], content: String): Unit =
    publishPointer(f, branchDir(qroot, name), id, expectedCur, content,
      () => branchHeadOpt(f, qroot, name),
      () => FsOps.atomicWrite(f,
        new Path(branchDir(qroot, name), "HEAD"), s"s$id"),
      now => s"branch '$name' write lost a race at $qroot: resolved head " +
        s"${expectedCur.fold("(none)")(c => s"s$c")} but the branch is " +
        s"now at ${now.fold("(dropped)")(c => s"s$c")}")

  // ------------------------------------------------------- maintenance

  /** One cron-shaped maintenance pass: see [[maintain]]. Retention
    * defaults to unbounded (maintenance must opt INTO deleting history)
    * and comes in two flavors — `keepLast` (count) and `retentionMs`
    * (age: snapshots whose recorded publish instant is older than this
    * many millis before the pass expire — [[expireOlderThan]]); when both
    * are set, age runs (it already respects the current snapshot, tags
    * and staged bases). `sortBy` opts into clustered compaction. */
  case class MaintenancePolicy(
      targetFilesPerPartition: Int = 1,
      sortBy: Seq[String] = Seq.empty,
      keepLast: Int = Int.MaxValue,
      vacuumGraceMs: Long = DefaultVacuumGraceMs,
      foldDeletes: Boolean = true,
      retentionMs: Option[Long] = None)

  case class MaintenanceReport(
      foldedTo: Option[Int], compactedTo: Option[Int], expired: Seq[Int],
      filesExpired: Int, orphansVacuumed: Int, stagingTreesDropped: Int)

  /**
   * The periodic maintenance pass a streaming landing zone needs, in the
   * one order that is safe: FOLD first (merge-on-read equality-delete
   * files rewrite into plain data — [[foldDeletes]] — so read-side join
   * work stays bounded), then COMPACT (over-fragmented partitions rewrite
   * into a new snapshot — readers undisturbed), then EXPIRE (retention
   * reclaims the pre-fold/pre-compact files once they fall out of
   * `keepLast`, tags and staged bases still pinned), then VACUUM (crashed
   * writes and abandoned staged files behind the age grace). Every step
   * is the existing audited operation; this is composition, not new
   * machinery — the call a scheduler runs against each dataset root.
   */
  def maintain(
      spark: SparkSession, root: String, partitionFields: Seq[String],
      policy: MaintenancePolicy = MaintenancePolicy()): MaintenanceReport = {
    val folded =
      if (policy.foldDeletes) foldDeletes(spark, root, partitionFields,
        policy.targetFilesPerPartition)
      else None
    val compacted = compact(spark, root, partitionFields,
      policy.targetFilesPerPartition, policy.sortBy)
    val (expired, filesExpired) = policy.retentionMs match {
      case Some(age) =>
        expireOlderThan(spark, root, System.currentTimeMillis() - age)
      case None if policy.keepLast == Int.MaxValue => (Seq.empty[Int], 0)
      case None => expire(spark, root, policy.keepLast)
    }
    val (orphans, stages) = vacuum(spark, root, policy.vacuumGraceMs)
    MaintenanceReport(folded, compacted, expired, filesExpired, orphans,
      stages)
  }

  // ------------------------------------------------ write–audit–publish

  private def stagedDir(root: Path) = new Path(root, "staged")

  /** Parse a staged manifest file into (base id, head manifest). The
    * staged file is the exact manifest a publish will flip to, behind one
    * `wapbase=` header line recording the snapshot it was computed
    * against. */
  private def readStagedFile(
      f: FileSystem, qroot: Path, name: String): (Option[Int], RawManifest) = {
    requireRefName("staged write", name)
    val p = new Path(stagedDir(qroot), name)
    if (!f.exists(p))
      throw new IllegalStateException(
        s"no staged write '$name' under $qroot — never staged, already " +
          "published, or abandoned")
    val in = f.open(p)
    val text =
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    val (header, rest) = text.span(_ != '\n')
    require(header.startsWith("wapbase="),
      s"corrupt staged manifest '$name': missing wapbase header")
    val base = header.stripPrefix("wapbase=").toInt match {
      case -1 => None
      case n => Some(n)
    }
    (base, parseManifest(base.getOrElse(0) + 1, rest.drop(1)))
  }

  /**
   * WRITE–AUDIT–PUBLISH, step 1: run a full snapshot write — staging,
   * stats, schema-evolution gate, manifest rendering — but park the
   * manifest under `staged/<name>` instead of flipping the committed
   * pointer. Readers of the dataset see NOTHING; [[readStaged]] sees the
   * would-be state exactly as a post-publish [[read]] would. The audit
   * step (row counts, [[graft.schema.Expectations]], diff against
   * current) runs against that read; [[publishStaged]] then makes the
   * state real with one atomic pointer flip, or [[abandonStaged]] drops
   * it (its files become [[vacuum]] food behind the age grace).
   *
   * Re-staging an existing name replaces it atomically (the old attempt's
   * files are abandoned). Returns the snapshot id the write will claim at
   * publish.
   */
  def stageWrite(
      df: DataFrame, root: String, partitionFields: Seq[String],
      name: String, mode: SnapshotMode = SnapAppend,
      evolution: graft.schema.SchemaEvolution.Policy =
        graft.schema.SchemaEvolution.Widen,
      statsColumns: Seq[String] = Seq.empty,
      format: Option[SinkFormat] = None, codec: Option[String] = None): Int = {
    val (f, qroot) = FsOps.fs(df.sparkSession, root)
    writeInternal(df, root, partitionFields, mode, mode.name, evolution,
      headOf(f, qroot), statsColumns = statsColumns, format = format,
      codec = codec, stageAs = Some(name))
  }

  /** Pending staged writes as (name → snapshot id each will claim). */
  def stagedWrites(spark: SparkSession, root: String): Map[String, Int] = {
    val (f, qroot) = FsOps.fs(spark, root)
    val dir = stagedDir(qroot)
    if (!f.exists(dir)) Map.empty
    // dot-hidden entries are atomicWrite temps from a crashed stage
    else f.listStatus(dir).filterNot(_.getPath.getName.startsWith(".")).map {
      s =>
        val name = s.getPath.getName
        val (base, _) = readStagedFile(f, qroot, name)
        name -> (base.getOrElse(0) + 1)
    }.toMap
  }

  /** WRITE–AUDIT–PUBLISH, step 2 (audit): read the state a staged write
    * would publish — the staged manifest resolved through its committed
    * parent chain, with the same recorded-schema contract and file-level
    * data skipping as [[read]]. */
  def readStaged(
      spark: SparkSession, root: String, name: String,
      prune: Seq[StatRange] = Seq.empty): DataFrame = {
    val (f, qroot) = FsOps.fs(spark, root)
    val (_, head) = readStagedFile(f, qroot, name)
    readResolved(spark, qroot, resolveFrom(f, snapshotsDir(qroot), head), prune,
      s"staged '$name'")
  }

  /**
   * WRITE–AUDIT–PUBLISH, step 3: make a staged write the current state
   * with one atomic pointer flip. Fails loudly — publishing NOTHING — if
   * the table advanced past the staged write's base (the audit validated
   * a state that no longer follows from current; re-stage against the new
   * current instead), exactly [[publishManifest]]'s optimistic-concurrency
   * posture. Returns the published snapshot id.
   */
  def publishStaged(spark: SparkSession, root: String, name: String): Int = {
    val (f, qroot) = FsOps.fs(spark, root)
    val (base, raw) = readStagedFile(f, qroot, name)
    val cur = mainPointer(f, qroot)
    if (cur != base)
      throw new java.util.ConcurrentModificationException(
        s"staged write '$name' was computed against " +
          s"${base.fold("an empty dataset")(b => s"s$b")} but the table is " +
          s"now at ${cur.fold("(none)")(c => s"s$c")} — its audit is stale; " +
          "re-stage against the current state")
    // re-rendered onto its base at PUBLISH time: the staged state with a
    // publish-instant `ts`, so time travel to an instant between staging
    // and publishing resolves the base — the state readers saw then
    val ms = snapshotsDir(qroot)
    val cache: ManifestCache = scala.collection.mutable.Map.empty
    val staged = resolveFrom(f, ms, raw, cache)
    val id = commit(f, qroot, None, base.map(resolve(f, ms, _, cache)),
      metaOf(staged, staged.mode), LiveSet(staged.files, staged.deletes))
    FsOps.deleteIfExists(f, new Path(stagedDir(qroot), name))
    id
  }

  /** The full WAP gate in one call: audit the staged state against
    * `exps` ([[graft.schema.Expectations.requireClean]] — every failed
    * expectation listed, nothing published on failure), then publish.
    * The staged write SURVIVES a failed audit for inspection via
    * [[readStaged]]; abandon it explicitly once diagnosed. */
  def publishStagedChecked(
      spark: SparkSession, root: String, name: String,
      exps: Seq[graft.schema.Expectations.Expectation]): Int = {
    graft.schema.Expectations.requireClean(readStaged(spark, root, name), exps)
    publishStaged(spark, root, name)
  }

  /** Files a pending staged write itself lists (adds or full entries) —
    * the set [[vacuum]] must treat as referenced. Parent-chain files are
    * already referenced through the committed manifests. */
  private def stagedFileRefs(
      f: FileSystem, qroot: Path): (Set[String], Set[String]) = {
    val dir = stagedDir(qroot)
    if (!f.exists(dir)) (Set.empty, Set.empty)
    else {
      val entries = f.listStatus(dir)
        .filterNot(_.getPath.getName.startsWith("."))
        .flatMap { s =>
          val (_, m) = readStagedFile(f, qroot, s.getPath.getName)
          m.adds ++ m.full.getOrElse(Seq.empty)
        }
      (entries.map(_.rel).toSet, entries.flatMap(_.bloomRef).toSet)
    }
  }

  /** Committed ids pending staged writes were computed against — pinned
    * through [[expire]] so a staged manifest's parent chain stays
    * resolvable until it is published or abandoned. */
  private def stagedBaseIds(f: FileSystem, qroot: Path): Set[Int] = {
    val dir = stagedDir(qroot)
    if (!f.exists(dir)) Set.empty
    else f.listStatus(dir).filterNot(_.getPath.getName.startsWith("."))
      .flatMap(s => readStagedFile(f, qroot, s.getPath.getName)._1).toSet
  }

  /** Drop a staged write without publishing. Its data files become
    * unreferenced — [[vacuum]] reclaims them behind the age grace.
    * Returns whether the staged write existed. */
  def abandonStaged(spark: SparkSession, root: String, name: String): Boolean = {
    requireRefName("staged write", name)
    val (f, qroot) = FsOps.fs(spark, root)
    val p = new Path(stagedDir(qroot), name)
    val existed = f.exists(p)
    FsOps.deleteIfExists(f, p)
    existed
  }

  /**
   * Retention: keep the newest `keepLast` snapshots (always including the
   * current one — ids are monotonic so the newest IS the current) plus
   * every TAGGED snapshot ([[tagSnapshot]]), delete older manifests, then
   * delete exactly the data files the EXPIRED manifests referenced that
   * no kept snapshot still does, and prune emptied partition directories.
   * Files referenced by no manifest at all (an in-flight writer's
   * just-moved batch, a crashed write) are never expire's to touch —
   * [[vacuum]] reclaims those behind its age grace. Time travel to an
   * expired snapshot fails loudly afterwards ([[read]]'s message).
   *
   * Delta-chain safety: every KEPT snapshot whose parent is expiring is
   * first rebased in place into an equivalent FULL manifest (atomic
   * content-identical replacement — readers mid-resolution see either
   * form, both resolve the same file set); with tags, the kept set need
   * not be a suffix, so each kept id is checked. Manifests are deleted
   * BEFORE data files: a crash between the two degrades to orphan files
   * the next expire/vacuum reclaims, never to a manifest whose files are
   * gone. Returns (expired snapshot ids, deleted data-file count).
   */
  /** TIME-BASED retention — "keep 30 days": expire every snapshot whose
    * RECORDED publish instant ([[snapshotAt]]'s `ts=` line; expire's
    * rebase-in-place preserves it) is older than `tsMillis`, always
    * retaining the current snapshot; tags and staged bases stay pinned
    * exactly as in [[expire]]. Publish instants are monotone in id
    * (single-writer publish order), so the kept set is a suffix and the
    * count-based machinery applies directly; unstamped legacy manifests
    * count as older than every stamped one. Returns (expired snapshot
    * ids, deleted data-file count). */
  def expireOlderThan(
      spark: SparkSession, root: String, tsMillis: Long): (Seq[Int], Int) = {
    val (f, qroot) = FsOps.fs(spark, root)
    val keep = committedIds(f, qroot, mainPointer(f, qroot)).count(id =>
      readSnapshotFile(f, snapshotsDir(qroot), id).ts.exists(_ >= tsMillis))
    expire(spark, root, math.max(keep, 1))
  }

  def expire(
      spark: SparkSession, root: String, keepLast: Int): (Seq[Int], Int) = {
    require(keepLast >= 1, "must retain at least the current snapshot")
    val (f, qroot) = FsOps.fs(spark, root)
    val ids = committedIds(f, qroot, mainPointer(f, qroot))
    // tags pin by policy; a pending staged write's base pins so its audit
    // lane stays resolvable (abandoning stale staged writes re-arms
    // retention for those ids)
    val protectedIds = tags(spark, root).values.toSet ++
      stagedBaseIds(f, qroot)
    val keptSet = ids.takeRight(keepLast).toSet ++ protectedIds
    val expired = ids.filterNot(keptSet)
    val kept = ids.filter(keptSet)
    if (expired.isEmpty) return (Seq.empty, 0)
    val ms = snapshotsDir(qroot)
    val cache: ManifestCache = scala.collection.mutable.Map.empty
    // rebase every kept snapshot whose parent chain crosses the expiry
    // boundary (parents are always id-1, so one parent check suffices)
    kept.foreach { k =>
      val raw = readSnapshotFile(f, ms, k)
      if (raw.parent.exists(p => !keptSet(p))) {
        val res = resolve(f, ms, k, cache)
        // rebase-in-place preserves the ORIGINAL publish instant — the
        // rewrite changes representation, not history
        FsOps.atomicWrite(f, new Path(snapshotsDir(qroot), s"s$k"),
          renderManifest(metaOf(res, res.mode).copy(batchTag = res.batchTag),
            None, Seq.empty, Seq.empty, Some(res.files), dFull = res.deletes))
        cache.remove(k): Unit
      }
    }
    // the sweep set is EXACTLY "files the expired manifests referenced
    // minus files the kept ones still do" — resolved while the expired
    // manifests still exist. Files referenced by NO manifest (an
    // in-flight writer's just-moved batch, a crashed write) are NOT
    // expire's to touch: vacuum reclaims them behind its age grace,
    // so a mistimed expire can never destroy a concurrent write
    val expiredRes = expired.map(resolve(f, ms, _, cache))
    val expiredRefs = expiredRes.flatMap(_.files.map(_.rel)).toSet
    val expiredDelRefs = expiredRes.flatMap(_.deletes.map(_.rel)).toSet
    val expiredBloomRefs =
      expiredRes.flatMap(_.files.flatMap(_.bloomRef)).toSet
    // manifests first (a manifest-less snapshot already fails loudly) —
    // then the file sweep; a crash between degrades to orphan files
    expired.foreach(id =>
      FsOps.deleteIfExists(f, new Path(snapshotsDir(qroot), s"s$id")))
    val keptRes = kept.map(resolve(f, ms, _, cache))
    // live branches reference shared-pool files (their fork state overlaps
    // expiring main manifests) — never expire's to delete
    val (branchRefs, branchDelRefs, branchBloomRefs) =
      branchFileRefs(f, qroot)
    val referenced = keptRes.flatMap(_.files.map(_.rel)).toSet ++ branchRefs
    val referencedDel = keptRes.flatMap(_.deletes.map(_.rel)).toSet ++
      branchDelRefs
    val referencedBloom =
      keptRes.flatMap(_.files.flatMap(_.bloomRef)).toSet ++ branchBloomRefs
    val data = dataDir(qroot)
    val dead = (expiredRefs -- referenced).toSeq.sorted
    dead.foreach(rel => FsOps.deleteIfExists(f, new Path(data, rel)))
    val deadDel = (expiredDelRefs -- referencedDel).toSeq.sorted
    deadDel.foreach(rel =>
      FsOps.deleteIfExists(f, new Path(deletesDir(qroot), rel)))
    (expiredBloomRefs -- referencedBloom).toSeq.sorted.foreach(rel =>
      FsOps.deleteIfExists(f, new Path(bloomsDir(qroot), rel)))
    // prune emptied partition directories (metadata hygiene — an empty
    // name=value dir would otherwise surface a phantom partition value)
    dead.map(parentDirOf).distinct.filter(_.nonEmpty).foreach { d =>
      val p = new Path(data, d)
      if (f.exists(p) && !FsOps.walkFiles(f, p).hasNext)
        FsOps.deleteIfExists(f, p)
    }
    (expired, dead.length + deadDel.length)
  }
}

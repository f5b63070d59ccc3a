package graft.sources

import graft.sink.Snapshots
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SQLContext}
import org.apache.spark.sql.execution.datasources.DataSourceUtils
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType

/**
 * Catalog-facing read connector for [[Snapshots]] datasets — what makes a
 * snapshot landing zone a plain SQL table (`SELECT ... FROM db.tbl`,
 * `spark.read.format("graft-snapshot").load(root)`) without callers going
 * through `Snapshots.read`.
 *
 * Shape: the classic external-connector RelationProvider (the public
 * spark-avro / spark-redshift pattern), NOT a directory scan — a snapshot
 * dataset's `data/` tree holds files from EVERY retained snapshot, so only
 * the manifest knows which are live. Per query:
 *
 *  - the CURRENT snapshot resolves at [[SnapshotRelation.buildScan]] time,
 *    so a cached catalog relation still sees every new publish (the
 *    pointer flip is the refresh; no `REFRESH TABLE` needed for data),
 *  - pushed filters drive FILE-LEVEL DATA SKIPPING (recorded min/max +
 *    null counts → [[Snapshots.StatRange]]s) and are re-applied inside the
 *    assembled scan, where Catalyst pushes them down to the parquet/orc
 *    reader as usual (partition pruning included),
 *  - column pruning projects before handing back rows,
 *  - `needConversion = false`: the underlying columnar scan's InternalRows
 *    flow through without a per-row Row conversion.
 *
 * Options: `path` (the dataset root — set by `LOCATION`), `asOf` (pin a
 * snapshot id — a time-travel table), `asOfTimestamp`/`timestampAsOf`
 * (pin by publish instant — epoch millis or any session-parsable
 * timestamp string, resolved to an id at relation creation), `tag`
 * (pin a named tag), `branch`
 * (read a live branch's head — the WAP audit workflow queried through
 * SQL before [[Snapshots.fastForward]] publishes it; read-only, and it
 * tracks the branch head per scan exactly as an unpinned table tracks
 * main), `partitionBy` (comma-separated — required only when a WRITE
 * creates the dataset; afterwards the recorded spec governs).
 *
 * Schema resolves from the recorded manifest contract at RELATION
 * CREATION and is immutable per instance (the types its plans carry);
 * currency comes from RE-CREATION — `REFRESH TABLE` invalidates the
 * catalog's relation cache, a fresh `spark.read...load` builds a new
 * instance — so a WIDENING surfaces with at most a REFRESH, never a
 * re-registration. The [[SchemaRelationProvider]] arm exists exactly
 * for that path: the metastore replays its registration-time schema at
 * every resolution, and the recorded manifest contract — validated,
 * then superseding the stale copy — must win. A TYPE that widened
 * under a still-cached plan fails the scan loudly naming the REFRESH
 * remedy (silent narrowing is never an option).
 *
 * Writes route through [[Snapshots.write]] — the API that owns the
 * commit protocol — in two SQL-native shapes: `INSERT INTO` /
 * `INSERT OVERWRITE` on a registered table ([[InsertableRelation]]:
 * append / dynamic partition overwrite, exactly the sink's
 * CREATE_OR_APPEND semantics made non-destructive), and
 * `df.write.format("graft-snapshot")` ([[CreatableRelationProvider]]:
 * SaveMode.Append / Overwrite map the same way; ErrorIfExists / Ignore
 * honor existing state). Time-travel-pinned tables are read-only views
 * of history and reject inserts loudly.
 */
class SnapshotSource extends RelationProvider with SchemaRelationProvider
    with CreatableRelationProvider with StreamSourceProvider
    with StreamSinkProvider with DataSourceRegister {
  override def shortName(): String = "graft-snapshot"

  private case class Opts(
      root: String, asOf: Option[Int], asOfTs: Option[String],
      tag: Option[String], branch: Option[String],
      partitionBy: Seq[String], statsColumns: Seq[String],
      bloomColumns: Seq[String], replaceWhere: Option[String])

  private def parse(parameters: Map[String, String]): Opts = {
    val byLower = parameters.map { case (k, v) => k.toLowerCase -> v }
    val root = byLower.getOrElse("path", byLower.getOrElse("root",
      throw new IllegalArgumentException(
        "graft-snapshot needs the dataset root: LOCATION '<root>' (or a " +
          "path/root option)")))
    val asOf = byLower.get("asof").map(_.trim.toInt)
    // the Delta-timestampAsOf role: resolve "the table as of 9am"
    // against recorded publish instants at relation creation — accepted
    // under both public spellings (parsed where the session tz is
    // known). A PRESENT-but-empty value is loud, never a silent
    // fall-through to the live head: an unset template variable must
    // not make a "historical" job read current data.
    val asOfTs = byLower.get("asoftimestamp")
      .orElse(byLower.get("timestampasof")).map { v =>
        val t = v.trim
        require(t.nonEmpty,
          "asOfTimestamp is set but empty — give a timestamp (epoch " +
            "millis, ISO instant, or 'yyyy-MM-dd[ HH:mm:ss]'), or drop " +
            "the option to read the current snapshot")
        t
      }
    require(asOf.isEmpty || asOfTs.isEmpty,
      "asOf and asOfTimestamp are two spellings of the same pin — " +
        "give one")
    val tag = byLower.get("tag")
    val branch = byLower.get("branch")
    require(Seq(asOf.orElse(asOfTs), tag, branch).count(_.isDefined) <= 1,
      "asOf/asOfTimestamp, tag and branch are mutually exclusive")
    def cols(key: String): Seq[String] = byLower.get(key).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    // `df.write.partitionBy(...)` and SQL CTAS `PARTITIONED BY` arrive
    // as the engine's encoded option (the v1 writer contract) — decode
    // it, and when the explicit option is ALSO given they must agree (a
    // silent preference would pin the wrong layout at creation, the
    // stream-sink rule)
    val writerPb = byLower
      .get(DataSourceUtils.PARTITIONING_COLUMNS_KEY.toLowerCase)
      .map(DataSourceUtils.decodePartitioningColumns)
      .getOrElse(Seq.empty)
    val optionPb = cols("partitionby")
    require(writerPb.isEmpty || optionPb.isEmpty || writerPb == optionPb,
      s"partitionBy(${writerPb.mkString(",")}) conflicts with option " +
        s"partitionBy=${optionPb.mkString(",")}")
    val pb = if (writerPb.nonEmpty) writerPb else optionPb
    Opts(root, asOf, asOfTs, tag, branch, pb,
      cols("statscolumns"), cols("bloomcolumns"),
      byLower.get("replacewhere").map(_.trim).filter(_.nonEmpty))
  }

  override def createRelation(
      sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val o = parse(parameters)
    // asOfTimestamp resolves to a concrete snapshot id HERE (relation
    // creation), against recorded publish instants — from then on the
    // relation is an ordinary time-travel pin
    val pinned = o.asOf.orElse(o.asOfTs.map { raw =>
      val ms = SnapshotSource.parseTsMillis(
        sqlContext.sparkSession, raw)
      Snapshots.snapshotAt(sqlContext.sparkSession, o.root, ms).getOrElse(
        throw new IllegalArgumentException(
          s"no retained snapshot published at or before '$raw' under " +
            s"${o.root} — the earliest retained snapshot is newer (or " +
            "was expired)"))
    })
    new SnapshotRelation(sqlContext, o.root, pinned, o.tag, o.branch)
  }

  /** The catalog-read arm: a metastore table replays the schema it
    * stored AT REGISTRATION on every resolution, but the recorded
    * manifest contract is the read truth — a widening published since
    * registration must surface (the stored copy is superseded; without
    * this arm Spark REJECTS the widened relation as a schema mismatch,
    * freezing the table at its registration shape). The passed copy is
    * VALIDATED, not trusted: every field it names must exist in the
    * current contract (a registration-time copy always does — widening
    * only adds), so a genuinely foreign reader-supplied schema fails
    * loudly instead of being silently ignored. */
  override def createRelation(
      sqlContext: SQLContext, parameters: Map[String, String],
      schema: StructType): BaseRelation = {
    val rel = createRelation(sqlContext, parameters)
    val current = rel.schema
    val missing = schema.fieldNames.filterNot(current.fieldNames.contains)
    require(missing.isEmpty,
      "graft-snapshot does not take user-specified read schemas — the " +
        "recorded manifest contract governs (and serves a metastore's " +
        s"registration-time copy current): asked for " +
        s"${missing.mkString(", ")} which the contract lacks")
    rel
  }

  /** `spark.readStream.format("graft-snapshot")` — the snapshot dataset
    * as a Structured Streaming source ([[SnapshotStreamSource]]): id-as-
    * offset, full-state bootstrap, incremental append batches. Streams
    * follow MAIN (asOf/tag/branch are point/lineage pins, not streams). */
  /** Stream-option parse + validation, shared so every option error
    * surfaces at `readStream...load()` (sourceSchema), not first at
    * `start()`. */
  private case class StreamOpts(
      o: Opts, skipNonAppend: Boolean, maxSnapshots: Option[Int],
      maxRows: Option[Long], maxBytes: Option[Long])

  private def parseStream(parameters: Map[String, String]): StreamOpts = {
    val o = parse(parameters)
    require(o.asOf.isEmpty && o.asOfTs.isEmpty && o.tag.isEmpty &&
      o.branch.isEmpty,
      "a snapshot STREAM follows main — asOf/tag/branch pins do not " +
        "advance and cannot stream")
    require(o.replaceWhere.isEmpty,
      "replaceWhere is a batch-writer option — a stream's predicate-" +
        "scoped rewrites belong in foreachBatch + Snapshots.replaceWhere")
    val byLower = parameters.map { case (k, v) => k.toLowerCase -> v.trim }
    val onNonAppend = byLower.getOrElse("onnonappend", "fail").toLowerCase
    require(Set("fail", "skip")(onNonAppend),
      s"onNonAppend must be fail|skip, got '$onNonAppend'")
    def boundedLong(key: String): Option[Long] =
      byLower.get(key.toLowerCase).map { v =>
        val n =
          try v.toLong
          catch {
            case _: NumberFormatException =>
              throw new IllegalArgumentException(
                s"$key must be an integer, got '$v'")
          }
        require(n >= 1, s"$key must be >= 1, got $n")
        n
      }
    val maxPerTrigger = boundedLong("maxSnapshotsPerTrigger").map { n =>
      require(n <= Int.MaxValue,
        s"maxSnapshotsPerTrigger must fit an Int, got $n")
      n.toInt
    }
    StreamOpts(o, onNonAppend == "skip", maxPerTrigger,
      boundedLong("maxRowsPerTrigger"), boundedLong("maxBytesPerTrigger"))
  }

  override def sourceSchema(
      sqlContext: SQLContext, schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val o = parseStream(parameters).o
    val contract = Snapshots.tableSchema(sqlContext.sparkSession, o.root)
    // a reader-supplied stream schema is validated like the batch arm's:
    // every field must exist in the recorded contract — the typed-null
    // replay fill below must never turn a typo'd column into a silently
    // all-null stream
    schema.foreach { s =>
      val missing = s.fieldNames.filterNot(contract.fieldNames.contains)
      require(missing.isEmpty,
        "a stream schema must be a subset of the recorded contract — " +
          s"asked for ${missing.mkString(", ")} which the contract lacks")
    }
    (shortName(), schema.getOrElse(contract))
  }

  override def createSource(
      sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): org.apache.spark.sql.execution
      .streaming.Source = {
    val so = parseStream(parameters)
    new SnapshotStreamSource(sqlContext, so.o.root, schema,
      skipNonAppend = so.skipNonAppend,
      maxSnapshotsPerTrigger = so.maxSnapshots,
      maxRowsPerTrigger = so.maxRows, maxBytesPerTrigger = so.maxBytes)
  }

  /** `df.writeStream.format("graft-snapshot")` — every micro-batch is
    * one audited `stream-<batchId>`-tagged snapshot ([[SnapshotStreamSink]];
    * Append mode only — a snapshot dataset is an append-of-batches log). */
  override def createSink(
      sqlContext: SQLContext, parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"graft-snapshot streams land append-of-batches snapshots — got " +
        s"$outputMode; aggregate updates belong in foreachBatch + " +
        "Snapshots.mergeDeltas")
    val o = parse(parameters)
    require(o.asOf.isEmpty && o.asOfTs.isEmpty && o.tag.isEmpty &&
      o.branch.isEmpty,
      "cannot stream into a pinned (asOf/tag/branch) reference")
    // partitionBy arrives either as writeStream.partitionBy(...) or as
    // the option — when both are given they must AGREE (a first batch
    // that creates the dataset has no recorded spec yet to catch the
    // conflict, so a silent preference would pin the wrong layout)
    require(o.partitionBy.isEmpty || partitionColumns.isEmpty ||
      o.partitionBy == partitionColumns,
      s"writeStream.partitionBy(${partitionColumns.mkString(",")}) " +
        s"conflicts with option partitionBy=${o.partitionBy.mkString(",")}")
    val fields =
      if (partitionColumns.nonEmpty) partitionColumns else o.partitionBy
    // the replay-tag scope: batch ids are only an identity WITHIN one
    // query lineage — scope by the explicit streamTag option, else by a
    // stable digest of the checkpoint location (same checkpoint ⇒ same
    // tag ⇒ genuine redeliveries converge; a fresh checkpoint or a
    // second query ⇒ a new tag ⇒ its batch 0 is new data, not a replay)
    val byLower = parameters.map { case (k, v) => k.toLowerCase -> v.trim }
    val queryTag = byLower.get("streamtag").filter(_.nonEmpty).getOrElse {
      val cp = byLower.getOrElse("checkpointlocation",
        throw new IllegalArgumentException(
          "the graft-snapshot stream sink scopes its exactly-once replay " +
            "tags per query — set option(\"checkpointLocation\", ...) on " +
            "the writeStream (conf-default checkpoints are invisible " +
            "here) or name the lineage with option(\"streamTag\", ...)"))
      // hash the QUALIFIED path, not the raw spelling: the same lineage
      // restarted with '/cp' vs 'file:///cp' must derive the same tag —
      // a respelling that silently forked the tag would double-deliver
      // the replayed batch. Qualification failure is LOUD for the same
      // reason: a silent raw-path fallback IS a respelling fork (the
      // next healthy restart would derive the other tag and re-deliver).
      val p = new org.apache.hadoop.fs.Path(cp.stripSuffix("/"))
      val qualified =
        try p.getFileSystem(sqlContext.sparkSession.sessionState
          .newHadoopConf()).makeQualified(p).toString
        catch {
          case scala.util.control.NonFatal(e) =>
            throw new IllegalArgumentException(
              s"cannot qualify checkpointLocation '$cp' to derive the " +
                "stream replay tag (a raw-path fallback would fork the " +
                "tag lineage and double-deliver replays) — fix the " +
                "filesystem config, or name the lineage explicitly with " +
                s"option(\"streamTag\", ...): $e", e)
        }
      val digest = java.security.MessageDigest.getInstance("SHA-256")
        .digest(qualified.getBytes("UTF-8"))
      digest.take(6).map(b => f"$b%02x").mkString
    }
    val legacyMigration = byLower.get("legacytagmigration")
      .map(_.trim.toLowerCase) match {
      case None => false
      case Some("true") => true
      case Some("false") => false
      case Some(other) => throw new IllegalArgumentException(
        s"legacyTagMigration must be true|false, got '$other'")
    }
    new SnapshotStreamSink(sqlContext, o.root, queryTag, fields,
      o.statsColumns, o.bloomColumns, legacyMigration)
  }

  /** `df.write.format("graft-snapshot")` — lands one snapshot through
    * the full write discipline (staging, stats, schema-evolution gate,
    * atomic pointer flip). `statsColumns`/`bloomColumns` options declare
    * the skipping metadata at dataset CREATION (afterwards they are
    * dataset-fixed — a conflicting redeclaration fails loudly, matching
    * the Snapshots API). */
  override def createRelation(
      sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val o = parse(parameters)
    require(o.asOf.isEmpty && o.asOfTs.isEmpty && o.tag.isEmpty,
      "cannot write through a time-travel-pinned (asOf/tag) reference — " +
        "it is a read-only view of history")
    val spark = sqlContext.sparkSession
    val root = o.root
    val existing = Snapshots.currentSnapshot(spark, root)
    // a branch write lands on the BRANCH head (the WAP audit lane made
    // writer-native); the branch must already exist, and the dataset's
    // recorded spec governs as ever
    o.branch.foreach { b =>
      require(o.replaceWhere.isEmpty,
        "replaceWhere targets the main lineage — branch writes are " +
          "plain appends/overwrites (fastForward publishes them)")
      require(Snapshots.branchHeadId(spark, root, b).isDefined,
        s"no branch '$b' under $root — Snapshots.createBranch first")
      val fields = SnapshotSource.recordedPartitioning(spark, root)
      val m = mode match {
        case SaveMode.Append => Snapshots.SnapAppend
        case SaveMode.Overwrite => Snapshots.SnapOverwritePartitions
        case other => throw new IllegalArgumentException(
          s"branch writes take SaveMode Append/Overwrite, not $other")
      }
      Snapshots.writeToBranch(data, root, b, fields, m): Unit
      return new SnapshotRelation(sqlContext, root, None, None, o.branch)
    }
    val fields = existing match {
      case Some(_) =>
        val recorded = SnapshotSource.recordedPartitioning(spark, root)
        require(o.partitionBy.isEmpty || o.partitionBy == recorded,
          s"dataset at $root is partitioned by ${recorded.mkString(",")}; " +
            s"cannot write under ${o.partitionBy.mkString(",")}")
        recorded
      case None =>
        require(o.partitionBy.nonEmpty,
          "creating a snapshot dataset through the writer needs " +
            "partitionBy (comma-separated partition fields, or " +
            "df.write.partitionBy)")
        o.partitionBy
    }
    // option("replaceWhere", cond) + SaveMode.Overwrite — the Delta
    // predicate-scoped overwrite: one snapshot replacing exactly the
    // matching rows ([[Snapshots.replaceWhere]]; incoming rows are
    // raise_error-guarded against the predicate in the write pass)
    o.replaceWhere.foreach { condStr =>
      require(mode == SaveMode.Overwrite,
        s"replaceWhere composes with SaveMode.Overwrite (a predicate-" +
          s"scoped overwrite), not $mode")
      val cond = org.apache.spark.sql.graft.GraftSqlBridge.column(
        spark.sessionState.sqlParser.parseExpression(condStr))
      Snapshots.replaceWhere(data, root, fields, cond): Unit
      return new SnapshotRelation(sqlContext, root, None, None, None)
    }
    def land(m: Snapshots.SnapshotMode): Unit =
      Snapshots.write(data, root, fields, m,
        statsColumns = o.statsColumns, bloomColumns = o.bloomColumns): Unit
    mode match {
      case SaveMode.Append => land(Snapshots.SnapAppend)
      case SaveMode.Overwrite => land(Snapshots.SnapOverwritePartitions)
      case SaveMode.ErrorIfExists =>
        existing.foreach(id => throw new IllegalStateException(
          s"dataset at $root already exists (current s$id) and " +
            "SaveMode is ErrorIfExists"))
        land(Snapshots.SnapAppend)
      case SaveMode.Ignore =>
        if (existing.isEmpty) land(Snapshots.SnapAppend)
    }
    new SnapshotRelation(sqlContext, root, None, None, None)
  }
}

object SnapshotSource {
  /** An `asOfTimestamp` option value as epoch millis: pure digits read
    * as epoch millis verbatim; anything else parses through Catalyst's
    * own string→timestamp cast under the SESSION timezone — exactly the
    * forms `TIMESTAMP '...'` accepts in this session's SQL, no second
    * date grammar. */
  private[sources] def parseTsMillis(
      spark: org.apache.spark.sql.SparkSession, raw: String): Long = {
    def fail(cause: Throwable): Nothing =
      throw new IllegalArgumentException(
        s"asOfTimestamp '$raw' is not a timestamp this session can " +
          "parse (epoch millis, ISO instant, or " +
          "'yyyy-MM-dd[ HH:mm:ss]')", cause)
    // ASCII digits only — Unicode digits pass isDigit but not toLong
    if (raw.nonEmpty && raw.forall(c => c >= '0' && c <= '9')) {
      val v =
        try raw.toLong
        catch { case e: NumberFormatException => fail(e) }
      // all-digit values read as epoch MILLIS — but the single most
      // common mistake is passing epoch SECONDS (e.g. '1700000000'),
      // which as millis resolves to early 1970 and surfaces as a
      // confusing "no retained snapshot" error. Any genuine pin is a
      // wall-clock publish instant, so a value implausibly small as
      // millis (before 1970-04-26) is rejected NAMING both readings.
      require(v == 0L || v >= 10_000_000_000L,
        s"asOfTimestamp '$raw' reads as epoch MILLIS = " +
          s"${java.time.Instant.ofEpochMilli(v)}, which no snapshot can " +
          "predate — if epoch SECONDS were meant, multiply by 1000 (or " +
          "pass an ISO instant / 'yyyy-MM-dd HH:mm:ss' string)")
      return v
    }
    val tz = spark.sessionState.conf.sessionLocalTimeZone
    // under ANSI mode (the Spark 4 default) a malformed string makes
    // Cast.eval THROW rather than return null — both shapes must
    // surface as the named option error, never a bare cast exception
    val micros =
      try org.apache.spark.sql.catalyst.expressions.Cast(
        org.apache.spark.sql.catalyst.expressions.Literal(
          org.apache.spark.unsafe.types.UTF8String.fromString(raw),
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.TimestampType, Some(tz)).eval()
      catch { case scala.util.control.NonFatal(e) => fail(e) }
    if (micros == null) fail(null)
    // floorDiv: a pre-epoch instant's micros are negative, and
    // truncate-toward-zero would round it 1ms LATER than the instant —
    // admitting a snapshot published just after the requested bound
    Math.floorDiv(micros.asInstanceOf[Long], 1000L)
  }

  /** The partition spec the dataset records (the current manifest's
    * `partitionby=` line) — what `INSERT INTO` writes route under. */
  private[sources] def recordedPartitioning(
      spark: org.apache.spark.sql.SparkSession, root: String): Seq[String] = {
    val spec = Snapshots.recordedPartitionCols(spark, root)
    require(spec.nonEmpty,
      s"dataset at $root predates recorded partition specs — one write " +
        "through the Snapshots API pins it before SQL inserts can route")
    spec
  }
}

class SnapshotRelation(
    val sqlContext: SQLContext, root: String, asOf: Option[Int],
    tag: Option[String], branch: Option[String] = None)
    extends BaseRelation with PrunedFilteredScan with InsertableRelation {

  private def spark = sqlContext.sparkSession

  /** The dataset root this relation reads — what row-level SQL DML
    * ([[SnapshotDmlRule]]) routes its Snapshots call against. */
  private[graft] def datasetRoot: String = root

  /** Why row-level DML must NOT run against this relation, if pinned:
    * time-travel pins are read-only views of history; branch pins audit
    * an unpublished lineage whose row-level ops go through main. */
  private[graft] def dmlBlockedReason: Option[String] =
    if (asOf.isDefined || tag.isDefined)
      Some("it is time-travel-pinned (asOf/tag) — a read-only view of " +
        "history")
    else branch.map(b =>
      s"it is pinned to branch '$b' — run row-level DML against main " +
        "(or fastForward the audited branch first)")

  private def pinnedId: Option[Int] =
    tag.map(t => graft.sink.Snapshots.tags(spark, root).getOrElse(t,
      throw new IllegalStateException(s"no tag '$t' under $root"))
    ).orElse(asOf)

  /** The pointer this relation's reads follow: a pinned id, the branch
    * head, or main's current snapshot. */
  private def trackedId: Option[Int] = branch match {
    case Some(b) => Snapshots.branchHeadId(spark, root, b)
    case None =>
      pinnedId.orElse(Snapshots.currentSnapshot(spark, root))
  }

  /** The recorded contract at RELATION-CREATION time — resolved exactly
    * once, structurally immutable: these are the attribute types every
    * plan built over this relation instance carries, and nothing may
    * ever return a different schema for the same instance (a shared
    * refreshable memo would let a post-planning call silently disable
    * the drift check below). Schema currency comes from relation
    * RE-CREATION: `REFRESH TABLE` invalidates the catalog's relation
    * cache and `spark.read...load` builds a fresh instance — both
    * re-resolve here, so a widening surfaces with at most a REFRESH and
    * never a re-registration (the SchemaRelationProvider arm supersedes
    * the metastore's stored copy). DATA stays publish-current
    * regardless: buildScan resolves the current manifest per scan. */
  override lazy val schema: StructType = branch match {
    case Some(b) => Snapshots.branchSchema(spark, root, b)
    case None => Snapshots.tableSchema(spark, root, trackedId)
  }

  // rows come back as the assembled scan's InternalRows — no Row
  // round-trip (the documented external-connector fast path)
  override def needConversion: Boolean = false

  // Catalyst may consult stats several times while planning one query —
  // memoize the chain resolution keyed by the pointer value, so each
  // stats call past the first costs one small pointer read (and stays
  // publish-current)
  @volatile private var sizeMemo: Option[(Option[Int], Long)] = None

  /** Recorded live byte size from the manifest (no filesystem walk), so
    * Catalyst can broadcast a small snapshot table; datasets predating
    * byte recording (and branch-pinned relations, whose audit reads are
    * not join-planning-sensitive) fall back to the conservative session
    * default. */
  override def sizeInBytes: Long = {
    if (branch.isDefined) return super.sizeInBytes
    val cur = pinnedId.orElse(Snapshots.currentSnapshot(spark, root))
    sizeMemo match {
      case Some((id, bytes)) if id == cur => bytes
      case _ =>
        val bytes = Snapshots.liveDataBytes(spark, root, cur)
          .getOrElse(super.sizeInBytes)
        sizeMemo = Some((cur, bytes))
        bytes
    }
  }

  /** All filters are also evaluated inside the assembled scan (and
    * re-checked by Spark above it) — this relation uses them for
    * file-level skipping, never as the sole evaluator. */
  override def unhandledFilters(filters: Array[Filter]): Array[Filter] =
    filters

  /** `INSERT INTO` (append) / `INSERT OVERWRITE` (dynamic partition
    * overwrite) on a registered table — routed under the RECORDED
    * partition spec through the full snapshot write discipline. A
    * `branch`-pinned table inserts onto the BRANCH head ([[Snapshots
    * .writeToBranch]]) — the WAP workflow entirely in SQL: insert into
    * the audit table, query it, fastForward when it passes. */
  override def insert(data: DataFrame, overwrite: Boolean): Unit = {
    require(asOf.isEmpty && tag.isEmpty,
      "cannot INSERT into a time-travel-pinned (asOf/tag) table — it is " +
        "a read-only view of history")
    val fields = SnapshotSource.recordedPartitioning(spark, root)
    val mode =
      if (overwrite) Snapshots.SnapOverwritePartitions
      else Snapshots.SnapAppend
    branch match {
      case Some(b) => Snapshots.writeToBranch(data, root, b, fields, mode): Unit
      case None => Snapshots.write(data, root, fields, mode): Unit
    }
  }

  override def buildScan(
      requiredColumns: Array[String], filters: Array[Filter]): RDD[Row] = {
    // the once-resolved creation contract — exactly the attribute types
    // every plan over this instance was built with (structural, so no
    // call anywhere can swap it mid-query)
    val planned = schema
    val prune = filters.toSeq.flatMap(toRanges)
    val base = (branch, tag) match {
      case (Some(b), _) => Snapshots.readBranch(spark, root, b, prune = prune)
      case (None, Some(t)) => Snapshots.readTag(spark, root, t, prune = prune)
      case _ => Snapshots.read(spark, root, asOf = asOf, prune = prune)
    }
    // hand the filters to Catalyst too: inside the assembled scan they
    // push down to the file reader (partition pruning, parquet predicate
    // pushdown) — file skipping above, row skipping below
    val filtered = filters.flatMap(toColumn).foldLeft(base)(_ filter _)
    // row SHAPE pins to `planned`: a COLUMN added since planning simply
    // doesn't project, but a TYPE that widened under a requested column
    // fails LOUDLY naming the remedy — rows typed long flowing through
    // attributes planned as int would read as silently wrong values
    // (the cached catalog relation is the one consumer that can hold a
    // stale plan across publishes)
    def q(c: String) =
      org.apache.spark.sql.functions.col(s"`${c.replace("`", "``")}`")
    requiredColumns.foreach { c =>
      for {
        p <- planned.fields.find(_.name == c)
        cu <- base.schema.fields.find(_.name == c)
        if p.dataType != cu.dataType
      } throw new IllegalStateException(
        s"the recorded contract widened column '$c' " +
          s"(${p.dataType.sql} → ${cu.dataType.sql}) after this table " +
          "was resolved — run REFRESH TABLE (or re-read) to pick up the " +
          "widened type")
      // a column the plan resolved that the current contract no longer
      // carries = a RENAME/DROP COLUMN published since — loud with the
      // remedy, never a raw unresolved-column error
      if (planned.fields.exists(_.name == c) &&
        !base.schema.fields.exists(_.name == c))
        throw new IllegalStateException(
          s"column '$c' was renamed or dropped after this table was " +
            "resolved — run REFRESH TABLE (or re-read) to pick up the " +
            "current contract")
    }
    val projected =
      if (requiredColumns.isEmpty) filtered.select()
      else filtered.select(requiredColumns.toSeq.map(c =>
        planned.fields.find(_.name == c)
          .map(fd => q(c).cast(fd.dataType).as(c)).getOrElse(q(c))): _*)
    projected.queryExecution.toRdd.asInstanceOf[RDD[Row]]
  }

  /** Pushed filters as [[Snapshots.StatRange]]s, for every column type:
    * the prune policy (timestamp ranges never stat-prune; equality still
    * Bloom-probes the exact pushed value) is [[Snapshots.read]]'s. */
  private def toRanges(f: Filter): Seq[Snapshots.StatRange] = f match {
    case And(l, r) => toRanges(l) ++ toRanges(r)
    case EqualTo(c, v) if v != null =>
      Seq(Snapshots.StatRange(c, Some(v), Some(v)))
    // `c <=> v` with v non-null matches exactly the rows `c = v` does
    case EqualNullSafe(c, v) if v != null =>
      Seq(Snapshots.StatRange(c, Some(v), Some(v)))
    case EqualNullSafe(c, null) =>
      Seq(Snapshots.StatRange(c, nullness = Some(true)))
    // the batched point-lookup shape (`WHERE user_id IN (...)`): one
    // disjunctive range — survivor set is the UNION over values; lists
    // past the cap derive nothing (degrade to no-prune, never wrong)
    case In(c, vs)
        if vs.nonEmpty && vs.length <= Snapshots.MaxInPruneValues &&
          vs.forall(_ != null) =>
      Seq(Snapshots.StatRange(c, anyOf = Some(vs.toSeq)))
    case GreaterThan(c, v) if v != null =>
      Seq(Snapshots.StatRange(c, Some(v), None))
    case GreaterThanOrEqual(c, v) if v != null =>
      Seq(Snapshots.StatRange(c, Some(v), None))
    case LessThan(c, v) if v != null =>
      Seq(Snapshots.StatRange(c, None, Some(v)))
    case LessThanOrEqual(c, v) if v != null =>
      Seq(Snapshots.StatRange(c, None, Some(v)))
    case IsNull(c) => Seq(Snapshots.StatRange(c, nullness = Some(true)))
    case IsNotNull(c) => Seq(Snapshots.StatRange(c, nullness = Some(false)))
    case _ => Seq.empty
  }

  private[sources] def toRangesForTest(
      filters: Array[Filter]): Seq[Snapshots.StatRange] =
    filters.toSeq.flatMap(toRanges)

  /** Source filters back to Column predicates for in-scan pushdown —
    * best-effort (an unconverted filter is still applied by Spark above
    * the scan). */
  private def toColumn(f: Filter): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit}
    def q(c: String) = col(s"`${c.replace("`", "``")}`")
    f match {
      case EqualTo(c, v) => Some(q(c) === lit(v))
      case GreaterThan(c, v) => Some(q(c) > lit(v))
      case GreaterThanOrEqual(c, v) => Some(q(c) >= lit(v))
      case LessThan(c, v) => Some(q(c) < lit(v))
      case LessThanOrEqual(c, v) => Some(q(c) <= lit(v))
      case IsNull(c) => Some(q(c).isNull)
      case IsNotNull(c) => Some(q(c).isNotNull)
      case In(c, vs) => Some(q(c).isin(vs.toSeq: _*))
      case StringStartsWith(c, p) => Some(q(c).startsWith(p))
      case And(l, r) => for (a <- toColumn(l); b <- toColumn(r)) yield a && b
      case Or(l, r) => for (a <- toColumn(l); b <- toColumn(r)) yield a || b
      case Not(x) => toColumn(x).map(!_)
      case _ => None
    }
  }
}

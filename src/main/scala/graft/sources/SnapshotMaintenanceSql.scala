package graft.sources

import graft.sink.Snapshots
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{DataType, IntegerType, StructType}

/**
 * SQL entry points for snapshot MAINTENANCE — the operations that
 * mutate a dataset's physical layout, so they are COMMANDS, not
 * table-valued functions (the Delta `OPTIMIZE`/`VACUUM` role). A
 * SQL-only operator who sees `graft_partition_stats` say "compact me"
 * can now act without a Scala deployment:
 *
 * {{{
 *   CALL graft_compact('/data/events')        -- or a registered table
 *   CALL graft_compact(events_tbl, 4)         -- targetFilesPerPartition
 *   CALL graft_expire('/data/events', 10)     -- keepLast
 *   CALL graft_vacuum('/data/events')         -- default age grace
 *   CALL graft_vacuum('/data/events', 0)      -- graceMs (quiesced)
 *   CALL graft_maintain('/data/events')       -- fold+compact+vacuum
 *   CALL graft_maintain('/data/events', 10)   -- ... +expire keepLast
 *   CALL graft_rollback('/data/events', 7)    -- RESTORE: re-publish s7
 *   CALL graft_tag('/data/events', 'v1')      -- pin current (or an id)
 *   CALL graft_drop_tag('/data/events', 'v1') -- expirable again
 *
 *   -- PLAIN partitioned trees (no snapshot manifest — the spec is named):
 *   CALL graft_compact('/plain/tree', 'p1,p2'[, filesPerPartition])
 *   CALL graft_retention('/plain/tree', 'day', 'day < ''2026-01-01''')
 * }}}
 *
 * Spark's `CALL` statement requires a DSv2 ProcedureCatalog these v1
 * session-catalog tables don't live in, so [[GraftSqlParser]] — the
 * standard `injectParser` delegate (the public Delta-SQL-parser shape)
 * — recognizes exactly these statements and delegates EVERYTHING
 * else untouched. Targets resolve at command RUN time: a quoted string
 * is a dataset root; a bare identifier is a registered snapshot table
 * (pinned asOf/tag/branch registrations are REJECTED loudly —
 * maintenance mutates the live dataset, and running it "through" a
 * read-only pin would be a lie about scope). Each command returns its
 * report as rows, so `spark.sql("CALL ...").show()` is the whole
 * operational loop.
 */
class GraftSqlParser(session: SparkSession, delegate: ParserInterface)
    extends ParserInterface {
  override def parsePlan(sqlText: String): LogicalPlan =
    SnapshotMaintenanceSql.intercept(sqlText)
      .orElse(SnapshotInsertSql.intercept(session, delegate, sqlText))
      .orElse(SnapshotAlterSql.intercept(session, delegate, sqlText))
      .getOrElse(delegate.parsePlan(sqlText))

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
}

private[sources] object SnapshotMaintenanceSql {

  /** A maintenance target as written: a quoted dataset root, or a
    * registered table identifier resolved (and pin-checked) at run. */
  case class Target(raw: String, isPath: Boolean) {
    def resolveRoot(session: SparkSession): String =
      if (isPath) raw
      else {
        val ident = session.sessionState.sqlParser.parseTableIdentifier(raw)
        val meta = session.sessionState.catalog.getTableMetadata(ident)
        require(GraftCatalog.isSnapshotTable(meta),
          s"table $raw is not a graft snapshot table (provider " +
            s"'${meta.provider.getOrElse("")}') — pass the dataset root " +
            "as a quoted string for non-registered datasets")
        GraftCatalog.pinnedOption(meta).foreach(pin =>
          throw new IllegalArgumentException(
            s"cannot run maintenance through the $pin-pinned table $raw " +
              "— maintenance mutates the LIVE dataset; target the " +
              "unpinned table or the dataset root directly"))
        GraftCatalog.rootOf(meta, raw)
      }
  }

  private val Call =
    ("""(?is)\s*CALL\s+graft_(maintain|compact|expire|vacuum|rollback""" +
      """|tag|drop_tag|add_constraint|drop_constraint|retention)""" +
      """\s*\((.*)\)\s*;?\s*(?:--[^\r\n]*)?\s*""").r

  /** Strip `--` line comments and slash-star block comments ANYWHERE
    * outside a single-quoted string — leading, trailing (any number,
    * either kind), or between arguments — so a commented
    * `CALL graft_vacuum('/x') -- nightly` (or the block-comment
    * spelling) is still recognized instead of falling through to
    * Spark's CALL-procedure machinery and surfacing as an unrelated
    * error (the no-fall-through guarantee). Quote-aware: a comment
    * opener inside a quoted dataset root (''-escapes honored) is
    * argument text, never a comment. An unterminated block comment
    * strips to the end, matching how every SQL lexer treats the
    * tail. */
  private[sources] def stripComments(sql: String): String = {
    val out = new StringBuilder
    var i = 0
    var inQuote = false
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (inQuote) {
        out.append(c)
        if (c == '\'') {
          if (i + 1 < sql.length && sql.charAt(i + 1) == '\'') {
            out.append('\''); i += 1
          } else inQuote = false
        }
        i += 1
      } else if (c == '\'') {
        inQuote = true; out.append(c); i += 1
      } else if (c == '-' && i + 1 < sql.length && sql.charAt(i + 1) == '-') {
        val nl = sql.indexOf('\n', i)
        i = if (nl < 0) sql.length else nl // keep the newline as space
      } else if (c == '/' && i + 1 < sql.length && sql.charAt(i + 1) == '*') {
        // Spark's lexer supports NESTED bracketed comments — track depth,
        // or a CALL adjacent to '/* /* */ */' would be mis-stripped and
        // fall through to Spark's parser (breaking the no-fall-through
        // guarantee with a misleading error)
        var depth = 1
        i += 2
        while (depth > 0 && i < sql.length) {
          if (i + 1 < sql.length && sql.charAt(i) == '/' &&
            sql.charAt(i + 1) == '*') { depth += 1; i += 2 }
          else if (i + 1 < sql.length && sql.charAt(i) == '*' &&
            sql.charAt(i + 1) == '/') { depth -= 1; i += 2 }
          else i += 1
        }
        if (depth == 0) out.append(' ')
      } else { out.append(c); i += 1 }
    }
    out.result()
  }

  /** The parser hook: Some(command) for exactly our statements,
    * None (delegate untouched) for everything else. Argument errors
    * inside a recognized statement fail loudly HERE — a typo'd
    * maintenance call must never fall through to Spark's parser and
    * surface as an unrelated CALL-procedure error. */
  def intercept(sqlText: String): Option[LogicalPlan] = {
    // cheap pre-filter before the character-by-character comment strip:
    // no recognizable statement can lack the literal "graft_", and the
    // overwhelmingly common non-graft statement (including multi-MB
    // INSERT scripts) must not pay a full rebuild per parse
    if (!containsIgnoreCase(sqlText, "graft_")) return None
    interceptStripped(stripComments(sqlText))
  }

  private[sources] def containsIgnoreCase(
      haystack: String, needle: String): Boolean = {
    var i = 0
    val max = haystack.length - needle.length
    while (i <= max) {
      if (haystack.regionMatches(true, i, needle, 0, needle.length))
        return true
      i += 1
    }
    false
  }

  private def interceptStripped(stripped: String): Option[LogicalPlan] =
    stripped match {
    case Call(op, argText) =>
      val args = splitArgs(argText)
      require(args.nonEmpty,
        s"CALL graft_${op.toLowerCase} needs a target (a quoted dataset " +
          "root or a registered table name)")
      val target = parseTarget(args.head)
      val o = op.toLowerCase
      def num(a: String): Long = parseLong(o, a)
      def int(a: String): Int = intArg(o, num(a))
      def str(a: String): String = parseStringLit(o, a)
      Some((o, args.tail) match {
        case ("maintain", Seq()) => SnapshotMaintainSqlCommand(target, None)
        case ("maintain", Seq(n)) =>
          SnapshotMaintainSqlCommand(target, Some(int(n)))
        // a QUOTED second argument is the partition-column list of the
        // PLAIN-TREE lane ([[PartitionedSink.compactInPlace]]) — plain
        // partitioned trees record no spec, so SQL must name one; the
        // snapshot lane below reads its recorded spec instead
        case ("compact", rest) if rest.headOption.exists(_.startsWith("'")) =>
          require(target.isPath,
            "CALL graft_compact on a plain partitioned tree targets a " +
              "quoted path (registered snapshot tables use " +
              "graft_compact(table[, targetFilesPerPartition]))")
          val pcols = partitionColsArg(o, str(rest.head))
          rest.tail match {
            case Seq() => PlainCompactSqlCommand(target.raw, pcols, 1, None)
            case Seq(n) =>
              PlainCompactSqlCommand(target.raw, pcols, int(n), None)
            case Seq(n, fmt) =>
              PlainCompactSqlCommand(target.raw, pcols, int(n),
                Some(str(fmt)))
            case _ => throw new IllegalArgumentException(
              "CALL graft_compact takes ('path', 'p1,p2'[, " +
                "filesPerPartition[, 'format']]) for plain trees")
          }
        case ("compact", Seq()) => SnapshotCompactSqlCommand(target, 1)
        case ("compact", Seq(n)) =>
          SnapshotCompactSqlCommand(target, int(n))
        case ("retention", Seq(pc, pred)) =>
          require(target.isPath,
            "CALL graft_retention targets a quoted plain-tree path")
          PlainRetentionSqlCommand(target.raw,
            partitionColsArg(o, str(pc)), str(pred))
        case ("expire", Seq(n)) =>
          SnapshotExpireSqlCommand(target, int(n))
        case ("vacuum", Seq()) => SnapshotVacuumSqlCommand(target, None)
        case ("vacuum", Seq(ms)) =>
          SnapshotVacuumSqlCommand(target, Some(num(ms)))
        case ("rollback", Seq(n)) =>
          SnapshotRollbackSqlCommand(target, int(n))
        case ("tag", Seq(nm)) => SnapshotTagSqlCommand(target, str(nm), None)
        case ("tag", Seq(nm, id)) =>
          SnapshotTagSqlCommand(target, str(nm), Some(int(id)))
        case ("drop_tag", Seq(nm)) =>
          SnapshotDropTagSqlCommand(target, str(nm))
        case ("add_constraint", Seq(nm, ex)) =>
          SnapshotAddConstraintSqlCommand(target, str(nm), str(ex),
            validateExisting = true)
        case ("add_constraint", Seq(nm, ex, v)) =>
          val validate = str(v).toLowerCase match {
            case "validate" => true
            case "novalidate" => false
            case other => throw new IllegalArgumentException(
              "CALL graft_add_constraint: the third argument must be " +
                s"'validate' or 'novalidate', got '$other'")
          }
          SnapshotAddConstraintSqlCommand(target, str(nm), str(ex), validate)
        case ("drop_constraint", Seq(nm)) =>
          SnapshotDropConstraintSqlCommand(target, str(nm))
        case (_, as) => throw new IllegalArgumentException(
          s"CALL graft_$o takes (target${usage(o)}), got ${as.length + 1} " +
            "arguments")
      })
    case _ => None
  }

  private def usage(op: String): String = op match {
    case "maintain" => "[, keepLast]"
    case "compact" => "[, targetFilesPerPartition]"
    case "expire" => ", keepLast"
    case "rollback" => ", toSnapshotId"
    case "tag" => ", 'name'[, snapshotId]"
    case "drop_tag" => ", 'name'"
    case "add_constraint" => ", 'name', 'boolean expr'[, 'novalidate']"
    case "drop_constraint" => ", 'name'"
    case "retention" => ", 'p1,p2', 'boolean expr over partition values'"
    case _ => "[, graceMs]"
  }

  /** The plain-tree lane's partition-column list: a quoted
    * comma-separated spec, order = directory nesting. */
  private def partitionColsArg(op: String, spec: String): Seq[String] = {
    val cols = spec.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
    require(cols.nonEmpty,
      s"CALL graft_$op: the partition-column list must name at least " +
        s"one column, got '$spec'")
    require(cols.distinct == cols,
      s"CALL graft_$op: duplicate partition column in '$spec'")
    cols
  }

  /** A single-quoted string argument (`''` escapes), for the ops that
    * name refs — loud on anything else. */
  private def parseStringLit(op: String, arg: String): String = {
    require(arg.length >= 2 && arg.startsWith("'") && arg.endsWith("'"),
      s"CALL graft_$op: expected a quoted string argument, got: $arg")
    arg.substring(1, arg.length - 1).replace("''", "'")
  }

  /** Split the argument text on top-level commas, honoring
    * single-quoted strings with `''` escapes. */
  private[sources] def splitArgs(text: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var inQuote = false
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (inQuote) {
        cur.append(c)
        if (c == '\'') {
          if (i + 1 < text.length && text.charAt(i + 1) == '\'') {
            cur.append('\''); i += 1
          } else inQuote = false
        }
      } else c match {
        case '\'' => inQuote = true; cur.append(c)
        case ',' => out += cur.result().trim; cur.clear()
        case _ => cur.append(c)
      }
      i += 1
    }
    require(!inQuote, "unterminated string literal in CALL arguments")
    val last = cur.result().trim
    val all = (out += last).result()
    if (all == Seq("")) Seq.empty else all
  }

  private def parseTarget(arg: String): Target =
    if (arg.startsWith("'")) {
      require(arg.length >= 2 && arg.endsWith("'"),
        s"malformed string literal: $arg")
      Target(arg.substring(1, arg.length - 1).replace("''", "'"),
        isPath = true)
    } else {
      require("^[A-Za-z_][A-Za-z0-9_]*(\\.[A-Za-z_][A-Za-z0-9_]*)?$"
        .r.matches(arg),
        s"maintenance target must be a quoted dataset root or a " +
          s"[db.]table identifier, got: $arg")
      Target(arg, isPath = false)
    }

  private def parseLong(op: String, arg: String): Long =
    try arg.toLong
    catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"CALL graft_$op: expected an integer argument, got: $arg")
    }

  private def intArg(op: String, v: Long): Int = {
    require(v >= 1 && v <= Int.MaxValue,
      s"CALL graft_$op: argument must be a positive integer, got $v")
    v.toInt
  }

  private[sources] def ref(name: String, dt: DataType): Attribute =
    AttributeReference(name, dt, nullable = true)()
}

/** `CALL graft_maintain(target[, keepLast])` ≡ [[Snapshots.maintain]]
  * under the recorded partition spec: fold → compact → (expire) →
  * vacuum, returning the report row. */
case class SnapshotMaintainSqlCommand(
    target: SnapshotMaintenanceSql.Target, keepLast: Option[Int])
    extends LeafRunnableCommand {
  import SnapshotMaintenanceSql.ref
  override val output: Seq[Attribute] = Seq(
    ref("folded_to", IntegerType), ref("compacted_to", IntegerType),
    ref("snapshots_expired", IntegerType), ref("files_expired", IntegerType),
    ref("orphans_vacuumed", IntegerType),
    ref("staging_trees_dropped", IntegerType))

  override def run(session: SparkSession): Seq[Row] = {
    val root = target.resolveRoot(session)
    val rep = Snapshots.maintain(session, root,
      Snapshots.recordedPartitionCols(session, root),
      Snapshots.MaintenancePolicy(
        keepLast = keepLast.getOrElse(Int.MaxValue)))
    Seq(Row(rep.foldedTo.map(Int.box).orNull,
      rep.compactedTo.map(Int.box).orNull,
      rep.expired.length, rep.filesExpired, rep.orphansVacuumed,
      rep.stagingTreesDropped))
  }
}

/** `CALL graft_compact(target[, targetFilesPerPartition])` ≡
  * [[Snapshots.compact]]; the returned id is null when nothing was
  * fragmented (the API's no-op contract). */
case class SnapshotCompactSqlCommand(
    target: SnapshotMaintenanceSql.Target, targetFilesPerPartition: Int)
    extends LeafRunnableCommand {
  import SnapshotMaintenanceSql.ref
  override val output: Seq[Attribute] =
    Seq(ref("compacted_to", IntegerType))

  override def run(session: SparkSession): Seq[Row] = {
    val root = target.resolveRoot(session)
    Seq(Row(Snapshots.compact(session, root,
      Snapshots.recordedPartitionCols(session, root),
      targetFilesPerPartition).map(Int.box).orNull))
  }
}

/** `CALL graft_expire(target, keepLast)` ≡ [[Snapshots.expire]]. */
case class SnapshotExpireSqlCommand(
    target: SnapshotMaintenanceSql.Target, keepLast: Int)
    extends LeafRunnableCommand {
  import SnapshotMaintenanceSql.ref
  override val output: Seq[Attribute] = Seq(
    ref("snapshots_expired", IntegerType), ref("files_expired", IntegerType))

  override def run(session: SparkSession): Seq[Row] = {
    val (expired, files) =
      Snapshots.expire(session, target.resolveRoot(session), keepLast)
    Seq(Row(expired.length, files))
  }
}

/** `CALL graft_vacuum(target[, graceMs])` ≡ [[Snapshots.vacuum]] —
  * graceMs defaults to the API's age grace; 0 is the quiesced-writer
  * immediate reclaim. */
case class SnapshotVacuumSqlCommand(
    target: SnapshotMaintenanceSql.Target, graceMs: Option[Long])
    extends LeafRunnableCommand {
  import SnapshotMaintenanceSql.ref
  override val output: Seq[Attribute] = Seq(
    ref("orphans_vacuumed", IntegerType),
    ref("staging_trees_dropped", IntegerType))

  override def run(session: SparkSession): Seq[Row] = {
    require(graceMs.forall(_ >= 0), "graceMs must be >= 0")
    val root = target.resolveRoot(session)
    val (orphans, stages) = graceMs match {
      case Some(ms) => Snapshots.vacuum(session, root, ms)
      case None => Snapshots.vacuum(session, root)
    }
    Seq(Row(orphans, stages))
  }
}

/** `CALL graft_rollback(target, toSnapshotId)` ≡ [[Snapshots.rollback]]
  * — the Delta-RESTORE role: an older retained snapshot's live set
  * re-publishes as a NEW snapshot (metadata-only; the rolled-back-over
  * states stay time-travelable for audit until expire). Returns the
  * new snapshot id. */
case class SnapshotRollbackSqlCommand(
    target: SnapshotMaintenanceSql.Target, toId: Int)
    extends LeafRunnableCommand {
  import SnapshotMaintenanceSql.ref
  override val output: Seq[Attribute] =
    Seq(ref("restored_as", IntegerType))

  override def run(session: SparkSession): Seq[Row] =
    Seq(Row(Snapshots.rollback(session, target.resolveRoot(session), toId)))
}

/** `CALL graft_tag(target, 'name'[, snapshotId])` ≡
  * [[Snapshots.tagSnapshot]] (current snapshot when no id is given) —
  * tagged snapshots are expire-protected, readable as
  * `graft_snapshot(root, 'name')` and registrable as pinned tables.
  * Returns the tagged id. */
case class SnapshotTagSqlCommand(
    target: SnapshotMaintenanceSql.Target, name: String, id: Option[Int])
    extends LeafRunnableCommand {
  import SnapshotMaintenanceSql.ref
  override val output: Seq[Attribute] =
    Seq(ref("tagged_snapshot", IntegerType))

  override def run(session: SparkSession): Seq[Row] = {
    val root = target.resolveRoot(session)
    val sid = id match {
      case Some(i) => Snapshots.tagSnapshot(session, root, name, i); i
      case None => Snapshots.tagCurrent(session, root, name)
    }
    Seq(Row(sid))
  }
}

/** `CALL graft_drop_tag(target, 'name')` ≡ [[Snapshots.dropTag]] — the
  * snapshot becomes expirable again. Returns whether the tag existed. */
case class SnapshotDropTagSqlCommand(
    target: SnapshotMaintenanceSql.Target, name: String)
    extends LeafRunnableCommand {
  import SnapshotMaintenanceSql.ref
  override val output: Seq[Attribute] = Seq(ref("existed",
    org.apache.spark.sql.types.BooleanType))

  override def run(session: SparkSession): Seq[Row] =
    Seq(Row(Snapshots.dropTag(session, target.resolveRoot(session), name)))
}

/** `CALL graft_add_constraint(target, 'name', 'expr'[, 'novalidate'])`
  * ≡ [[Snapshots.addConstraint]] — the ALTER TABLE ADD CONSTRAINT role:
  * a named CHECK every future write's rows must satisfy, enforced in
  * the staging pass of every lane. 'novalidate' skips the existing-data
  * scan (forward-only declaration). Returns the publishing snapshot. */
case class SnapshotAddConstraintSqlCommand(
    target: SnapshotMaintenanceSql.Target, name: String, exprSql: String,
    validateExisting: Boolean)
    extends LeafRunnableCommand {
  import SnapshotMaintenanceSql.ref
  override val output: Seq[Attribute] =
    Seq(ref("added_in", IntegerType))

  override def run(session: SparkSession): Seq[Row] =
    Seq(Row(Snapshots.addConstraint(session, target.resolveRoot(session),
      name, exprSql, validateExisting)))
}

/** `CALL graft_drop_constraint(target, 'name')` ≡
  * [[Snapshots.dropConstraint]]. Returns the publishing snapshot id, or
  * null when no such constraint exists (the API's no-op). */
case class SnapshotDropConstraintSqlCommand(
    target: SnapshotMaintenanceSql.Target, name: String)
    extends LeafRunnableCommand {
  import SnapshotMaintenanceSql.ref
  override val output: Seq[Attribute] =
    Seq(ref("dropped_in", IntegerType))

  override def run(session: SparkSession): Seq[Row] =
    Seq(Row(Snapshots.dropConstraint(session, target.resolveRoot(session),
      name).map(Int.box).orNull))
}

/** Shared guards of the PLAIN-TREE maintenance lane (`graft_compact`
  * with an explicit partition spec, `graft_retention`): these commands
  * mutate a bare partitioned directory tree in place, so running one
  * against a SNAPSHOT root would corrupt the manifest's file accounting
  * — rejected loudly with the snapshot lane named. */
private[sources] object PlainTreeSql {
  def requirePlainTree(
      session: SparkSession, path: String, op: String): Unit = {
    // Probe the path AND every ancestor up to the filesystem root: a
    // path INSIDE a snapshot dataset (`<root>/data`, `<root>/data/p=x`,
    // ...) is not a plain tree either — compacting/retention-deleting it
    // would rename or remove files the manifest references by relative
    // name, silently corrupting the snapshot's file accounting (the
    // exact failure this guard exists to prevent). Unbounded on purpose:
    // getParent reaches null at the root, and a depth cap would let a
    // deeply nested partition path escape the guard.
    val (f, root) = graft.sink.FsOps.fs(session, path)
    var probe: org.apache.hadoop.fs.Path = root
    var depth = 0
    while (probe != null) {
      require(Snapshots.currentSnapshot(session, probe.toString).isEmpty,
        s"CALL graft_$op: $path is ${if (depth == 0) "a SNAPSHOT dataset root"
          else s"INSIDE the snapshot dataset at $probe"} — snapshot " +
          "tables have their own maintenance lane (graft_maintain/" +
          "graft_compact(table)/graft_expire/graft_vacuum; row removal " +
          "is DELETE FROM), which keeps the manifest consistent")
      probe = probe.getParent
      depth += 1
    }
    require(f.exists(root), s"CALL graft_$op: no tree at $path")
  }

  def resolveFormat(op: String, fmt: Option[String]): graft.sink.SinkFormat =
    fmt.fold[graft.sink.SinkFormat](graft.sink.ParquetFormat)(f =>
      graft.sink.SinkFormat.byName(f).getOrElse(throw new
        IllegalArgumentException(s"CALL graft_$op: unknown format " +
          s"'${f.toLowerCase}' (parquet, orc, avro)")))

  /** The named partition columns must match the tree's directory
    * nesting IN ORDER — the engine calls nest by the list's order
    * (`dropPartitionsWhere` deletes `f1=v1/f2=v2` paths built from it;
    * `compactInPlace` rewrites `partitionBy` the list and swaps the
    * result's top-level directories in), so a reordered list would
    * silently delete nothing (or swap a re-nested copy in beside the
    * original). Probed one directory per level. */
  def requireNestingOrder(
      session: SparkSession, path: String, op: String,
      fields: Seq[String]): Unit = {
    val (f, root) = graft.sink.FsOps.fs(session, path)
    var dir = root
    fields.zipWithIndex.foreach { case (field, depth) =>
      val entries = f.listStatus(dir)
        .filterNot(s => graft.sink.FsOps.isHidden(s.getPath.getName))
      val subs = entries.filter(s => s.isDirectory &&
        graft.sink.PartitionCatalog.parseDir(s.getPath.getName).isDefined)
      if (subs.isEmpty) {
        // a TRULY empty (sub)tree no-ops below; but a level holding
        // DATA FILES means the tree bottoms out HERE — a too-long
        // column list would otherwise pass validation and then
        // silently match nothing (the exact failure mode this guard
        // exists to prevent, via the trailing field instead of a
        // reordered one)
        require(entries.isEmpty,
          s"CALL graft_$op: the tree nests only $depth partition " +
            s"level(s), but the column list names ${fields.length} " +
            s"(${fields.mkString(",")})")
        return
      }
      val actual = subs.flatMap(s => graft.sink.PartitionCatalog
        .parseDir(s.getPath.getName)).map(_._1).distinct
      require(actual.length == 1 && actual.head == field,
        s"CALL graft_$op: the tree nests ${actual.mkString(", ")}= at " +
          s"depth ${depth + 1}, not $field= — the partition-column " +
          "list must name the directory nesting in its order " +
          s"(got ${fields.mkString(",")})")
      dir = subs.head.getPath
    }
  }

  /** Non-hidden data files under the tree — the before/after figure the
    * report rows carry (one recursive listing, no data file opened).
    * "Hidden" includes hidden ANCESTORS: a crashed compaction's
    * `_compact_staging` leftovers must not inflate the count (readers
    * never list them either). */
  def dataFileCount(session: SparkSession, path: String): Int = {
    val (f, root) = graft.sink.FsOps.fs(session, path)
    graft.sink.FsOps.visibleFiles(f, root).size
  }
}

/** `CALL graft_compact('path', 'p1,p2'[, filesPerPartition[, 'format']])`
  * ≡ [[graft.sink.PartitionedSink.compactInPlace]] — the plain-tree
  * twin of the snapshot lane, for reference-style partitioned trees
  * that record no manifest (so SQL must name the partition spec).
  * Reports data-file counts before/after. */
case class PlainCompactSqlCommand(
    path: String, partitionFields: Seq[String], filesPerPartition: Int,
    format: Option[String])
    extends LeafRunnableCommand {
  import SnapshotMaintenanceSql.ref
  override val output: Seq[Attribute] = Seq(
    ref("files_before", IntegerType), ref("files_after", IntegerType))

  override def run(session: SparkSession): Seq[Row] = {
    PlainTreeSql.requirePlainTree(session, path, "compact")
    PlainTreeSql.requireNestingOrder(session, path, "compact",
      partitionFields)
    val fmt = PlainTreeSql.resolveFormat("compact", format)
    val before = PlainTreeSql.dataFileCount(session, path)
    graft.sink.PartitionedSink.compactInPlace(session, path,
      partitionFields, fmt, filesPerPartition)
    Seq(Row(before, PlainTreeSql.dataFileCount(session, path)))
  }
}

/** `CALL graft_retention('path', 'p1,p2', 'boolean expr')` ≡
  * [[graft.sink.PartitionedSink.dropPartitionsWhere]] — partition-
  * granularity retention on a plain tree, with the predicate written in
  * SQL over the partition columns' STRING values (directory names —
  * `'day < ''2026-01-01'''`). The predicate evaluates driver-side over
  * the listed partition tuples (partition CARDINALITY, the same cost
  * class as the drop's own listing — no data file is opened), then
  * exactly the matching tuples drop via the engine call. Returns one
  * row per dropped partition. */
case class PlainRetentionSqlCommand(
    path: String, partitionFields: Seq[String], predicateSql: String)
    extends LeafRunnableCommand {
  import SnapshotMaintenanceSql.ref
  override val output: Seq[Attribute] =
    Seq(ref("dropped_partition", org.apache.spark.sql.types.StringType))

  override def run(session: SparkSession): Seq[Row] = {
    PlainTreeSql.requirePlainTree(session, path, "retention")
    PlainTreeSql.requireNestingOrder(session, path, "retention",
      partitionFields)
    val parts = graft.sink.PartitionCatalog.list(
      session, path, partitionFields.size)
    if (parts.isEmpty) return Seq.empty
    val schema = StructType(partitionFields.map(f =>
      org.apache.spark.sql.types.StructField(f,
        org.apache.spark.sql.types.StringType, nullable = false)))
    val rows = new java.util.ArrayList[Row](parts.length)
    parts.foreach(m => rows.add(Row.fromSeq(partitionFields.map(m(_)))))
    val matched =
      try session.createDataFrame(rows, schema)
        .filter(org.apache.spark.sql.functions.expr(predicateSql))
        .collect().map(r => partitionFields.map(r.getAs[String](_))).toSet
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalArgumentException(
            s"CALL graft_retention: predicate '$predicateSql' must be a " +
              s"boolean expression over the partition columns " +
              s"(${partitionFields.mkString(", ")}) as strings: " +
              e.getMessage, e)
      }
    val dropped = graft.sink.PartitionedSink.dropPartitionsWhere(
      session, path, partitionFields,
      m => matched(partitionFields.map(m(_))))
    dropped.map(m => Row(partitionFields.map(f =>
      s"$f=${m(f)}").mkString("/")))
  }
}

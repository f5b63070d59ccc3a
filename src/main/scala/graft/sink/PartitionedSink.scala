package graft.sink

import graft.schema.{GraftSchemaException, Validators}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Output format for the dynamic-partitioned sink (SURVEY.md §2.1 S1–S3).
  * `name` is the Spark DataSource provider; avro ships inside spark-sql in
  * this image but is not ServiceLoader-registered under its short name, so
  * the fully-qualified FileFormat class is used. */
sealed abstract class SinkFormat(
    val name: String, val codecs: Map[String, String],
    val modernCodecs: Map[String, String])
case object ParquetFormat extends SinkFormat("parquet",
  Validators.ParquetCodecs, Validators.ModernParquetCodecs)
case object AvroFormat
  extends SinkFormat("org.apache.spark.sql.avro.AvroFileFormat",
    Validators.AvroCodecs, Validators.ModernAvroCodecs)
case object OrcFormat extends SinkFormat("orc",
  Validators.OrcCodecs, Validators.ModernOrcCodecs)

object SinkFormat {
  /** The format a user-facing name (`parquet`/`avro`/`orc`, any case)
    * selects; None for anything else, so each caller words its own error. */
  private[graft] def byName(name: String): Option[SinkFormat] =
    name.toLowerCase match {
      case "parquet" => Some(ParquetFormat)
      case "avro" => Some(AvroFormat)
      case "orc" => Some(OrcFormat)
      case _ => None
    }
}

/** Write disposition (SURVEY.md §2.7 W1):
  * [[Create]] fails if any incoming partition already exists at the target;
  * [[CreateOrAppend]] appends into existing partitions. Reference:
  * `PartitionedFileSetSinkConfig.java:63-65` (`appendToPartition`, default No).
  */
sealed trait WriteDisposition
case object Create extends WriteDisposition
case object CreateOrAppend extends WriteDisposition
/** Replace only the partitions present in the incoming data (Spark dynamic
  * partition overwrite) — the reference has no overwrite mode; this is the
  * natural third disposition for reprocessing pipelines. */
case object OverwritePartitions extends WriteDisposition

/**
 * Configuration for one dynamic-partitioned write.
 *
 * @param partitionFields ordered partition columns — order defines directory
 *   nesting (`PartitionedFileSetSinkConfig.java:126-149`)
 * @param codec per-format whitelisted compression codec (F4–F6)
 * @param runtimeNullCheck when true, nullable partition columns in the input
 *   schema are accepted and nulls are rejected per-row at execution time
 *   (distributed `raise_error` guard) instead of failing validation — useful
 *   when reading parquet whose footer marks everything nullable. The
 *   reference's strict behavior (reject nullable partition fields,
 *   `PartitionedFileSetSinkConfig.java:140-144`) is the default.
 * @param catalogTable registered catalog table backing the target path; when
 *   set, the CREATE pre-check consults the catalog's partition list
 *   (`SHOW PARTITIONS`) instead of walking the file tree — the right source
 *   of truth once the dataset is registered, and O(1) metastore calls
 *   instead of O(partition-dirs) listStatus at 100 TB.
 * @param filesPerPartition write-time skew/file-budget control — THE named
 *   100 TB failure mode of dynamic partitioned writes (SURVEY.md §7.4.5).
 *   When set, rows are re-clustered before the write on
 *   (partition key, deterministic content-hash salt mod n), so (a) a hot
 *   partition value's rows spread across up to n concurrently-writing
 *   tasks instead of one straggler, and (b) every partition value lands in
 *   AT MOST n data files — an unshuffled wide input can no longer fan out
 *   tasks × partitions small files. n is a cap, not an exact count: hash
 *   collisions can merge salt groups of one value into a task (fewer
 *   files), never split beyond n. Unset = ship the caller's task layout
 *   unchanged (no extra exchange).
 * @param maxRecordsPerFile per-write row cap per output file (the writer's
 *   deterministic size-based split — a salt cannot promise file splits,
 *   this can). Composes with filesPerPartition: the salt bounds files from
 *   above for small partitions, the row cap splits oversized ones.
 * @param adaptiveRowsPerFile ADAPTIVE salt sizing — the measure-then-
 *   rebalance loop (ARCHITECTURE.md): instead of `filesPerPartition`'s one
 *   uniform width, the write MEASURES per-partition-value row counts (one
 *   column-pruned count aggregation over the input — the same cost class
 *   as the CREATE pre-check) and salts each value with its OWN width
 *   `ceil(n_value / adaptiveRowsPerFile)`: hot values fan out across
 *   exactly the tasks their row count warrants while cold values stay
 *   single-file, with no operator-tuned n to misestimate. When
 *   `filesPerPartition` is also set it becomes the per-value width CAP.
 *   The width table is one row per partition value — broadcast-joined,
 *   bounded by the same partition-cardinality assumption `partitionBy`
 *   itself makes.
 * @param evolution opt-in schema-drift gate on the append/merge path
 *   ([[graft.schema.SchemaEvolution]]): when set, a write into an
 *   EXISTING tree (and every [[PartitionedSink.mergeUpsert]] batch)
 *   classifies the incoming-vs-stored schema delta — `Strict` rejects any
 *   drift (the reference-faithful fixed-schema posture as a live check),
 *   `Widen` admits safe widening (new nullable columns, integral/float
 *   promotions, loosened nullability) and still fails loudly on breakage
 *   (narrowing, non-nullable additions, partition-field changes). Unset =
 *   no check, the reference's original trust-the-pipeline behavior.
 * @param allowModernCodecs EXTENSION: admit zstd (both spellings) beside
 *   the reference-faithful codec whitelist — the modern archival default
 *   Spark writes natively on all three formats
 *   ([[graft.schema.Validators.ModernParquetCodecs]] et al.). Off by
 *   default so the reference's exact whitelist semantics stay the
 *   contract unless a caller opts in.
 */
final case class SinkConfig(
    format: SinkFormat,
    partitionFields: Seq[String],
    codec: Option[String] = None,
    disposition: WriteDisposition = CreateOrAppend,
    orcOptions: Option[Validators.OrcOptions] = None,
    runtimeNullCheck: Boolean = false,
    catalogTable: Option[String] = None,
    filesPerPartition: Option[Int] = None,
    maxRecordsPerFile: Option[Long] = None,
    adaptiveRowsPerFile: Option[Long] = None,
    evolution: Option[graft.schema.SchemaEvolution.Policy] = None,
    allowModernCodecs: Boolean = false) {
  /** The codec whitelist this write resolves against: the
    * reference-faithful per-format list, plus the zstd extension when
    * [[allowModernCodecs]] opts in. */
  def codecWhitelist: Map[String, String] =
    if (allowModernCodecs) format.codecs ++ format.modernCodecs
    else format.codecs
}

/**
 * Dynamic-partitioned dataset sink — the Spark-native re-expression of the
 * reference's three CDAP batch sinks (SURVEY.md §0, §3.4).
 *
 * Semantics preserved from the reference:
 *  - partition values are stringified and trimmed
 *    (`AvroDynamicPartitionedDatasetSink.java:119-120`)
 *  - a partition value containing `/` raises an error (Spark alone would
 *    silently URL-escape it; `AvroDynamicPartitionedDatasetSink.java:121-126`)
 *  - partition columns are excluded from the data files (T1 — Spark's
 *    `partitionBy` does this natively)
 *  - multi-field keys nest directories in declared field order
 *  - CREATE vs CREATE_OR_APPEND dispositions (W1)
 *
 * Scale posture (100 TB): the write is a single distributed
 * `InsertIntoHadoopFsRelationCommand` — no driver-side row handling. The only
 * driver work is the CREATE pre-check, which aggregates DISTINCT partition
 * tuples (column-pruned scan, partial aggregation) and lists existing
 * partitions from the file tree (or a catalog at real scale). Skewed
 * partition values are the known failure mode of dynamic partitioned writes:
 * by default writers sort rows by partition expression so each task holds one
 * open file per partition value at a time. Graft counters this on two axes:
 * `SinkConfig.filesPerPartition` re-clusters the write so hot values spread
 * across up to n tasks and small files are capped at n per value, and the
 * entry sessions (Bench/Verify) pin
 * `spark.sql.maxConcurrentOutputFileWriters=16` so high per-task partition
 * cardinality writes through concurrent writers instead of a per-task sort.
 */
object PartitionedSink {

  /** Pre-flight validation (V1–V4) against a DataFrame about to be written. */
  def validate(df: DataFrame, cfg: SinkConfig): Unit = {
    if (cfg.partitionFields.isEmpty)
      throw new GraftSchemaException("at least one partition field is required")
    cfg.partitionFields.foreach { f =>
      if (!df.schema.fieldNames.contains(f))
        throw new GraftSchemaException(
          s"Partition field '$f' does not exist in the input schema " +
            s"(fields: ${df.schema.fieldNames.mkString(", ")})")
      if (!cfg.runtimeNullCheck && df.schema(f).nullable)
        throw new GraftSchemaException(s"Partition field '$f' must not be nullable")
    }
    Validators.outputSchema(
      if (cfg.runtimeNullCheck) forceNonNullable(df, cfg.partitionFields) else df.schema,
      cfg.partitionFields)
    cfg.codec.foreach(c => Validators.resolveCodec(cfg.codecWhitelist, c, cfg.format.name))
    if (cfg.format == OrcFormat) Validators.validateOrcOptions(cfg.codec, cfg.orcOptions)
    cfg.filesPerPartition.foreach(n =>
      if (n <= 0) throw new GraftSchemaException(
        s"filesPerPartition must be positive, got $n"))
    cfg.maxRecordsPerFile.foreach(n =>
      if (n <= 0) throw new GraftSchemaException(
        s"maxRecordsPerFile must be positive, got $n"))
    cfg.adaptiveRowsPerFile.foreach(n =>
      if (n <= 0) throw new GraftSchemaException(
        s"adaptiveRowsPerFile must be positive, got $n"))
  }

  /** The stored dataset's schema when `path` already holds data — None on
    * a first write (missing or empty tree). One root listing, no data
    * read: schema comes from footers during the lazy load. */
  private def storedSchema(
      spark: SparkSession, path: String, cfg: SinkConfig):
      Option[org.apache.spark.sql.types.StructType] = {
    val (fsys, root) = FsOps.fs(spark, path)
    if (!fsys.exists(root)) None
    else if (Option(fsys.listStatus(root)).forall(_.isEmpty)) None
    else Some(readBack(spark, path, cfg.format).schema)
  }

  private def forceNonNullable(df: DataFrame, fields: Seq[String]) =
    org.apache.spark.sql.types.StructType(df.schema.fields.map(f =>
      if (fields.contains(f.name)) f.copy(nullable = false) else f))

  /**
   * Partition-key projection (P2–P4): stringify + trim each partition column
   * and fail fast — distributed, codegen'd `raise_error`, no UDF — on values
   * containing the path separator, and (when runtimeNullCheck) on nulls.
   */
  def preparePartitionColumns(df: DataFrame, cfg: SinkConfig): DataFrame =
    cfg.partitionFields.foldLeft(df) { (d, f) =>
      val v = trim(qcol(f).cast("string"))
      val guarded = when(
        v.contains("/"),
        raise_error(concat(
          lit(s"Partition value for field '$f' must not contain '/': "), v)))
        .when(
          if (cfg.runtimeNullCheck) v.isNull
          else lit(false),
          raise_error(lit(s"Partition field '$f' must not be null")))
        .otherwise(v)
      d.withColumn(f, guarded)
    }

  /** Full write path: validate → prepare → (CREATE pre-check) → partitionBy
    * write. Returns the ordered partition fields actually used. */
  def write(df: DataFrame, path: String, cfg: SinkConfig): Seq[String] = {
    validate(df, cfg)
    val prepared = preparePartitionColumns(df, cfg)
    // opt-in drift gate: appends into an existing tree validate against
    // the schema the dataset already holds (partition columns compare as
    // strings on both sides — stored trees read back with inference off,
    // incoming frames were just stringified above)
    cfg.evolution.foreach(policy =>
      storedSchema(df.sparkSession, path, cfg).foreach(st =>
        graft.schema.SchemaEvolution.validate(
          st, prepared.schema, cfg.partitionFields, policy): Unit))
    if (cfg.disposition == Create)
      PartitionCatalog.assertNoneExist(prepared, path, cfg.partitionFields,
        cfg.catalogTable)
    save(cluster(prepared, cfg), path, cfg)
    cfg.partitionFields
  }

  /** Write-time skew/file-budget control (see SinkConfig.filesPerPartition
    * / adaptiveRowsPerFile): re-cluster on (key, content-hash salt) with
    * the shuffle-partition count pinned explicitly — an AQE-coalescible
    * exchange would merge salt groups on small inputs and silently defeat
    * the hot-partition split. Neither knob set = the caller's layout. */
  private def cluster(df: DataFrame, cfg: SinkConfig): DataFrame = {
    val sessionShuffle =
      df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val keys = cfg.partitionFields.map(qcol)
    val rowHash = xxhash64(df.columns.toIndexedSeq.map(qcol): _*)
    cfg.adaptiveRowsPerFile match {
      case Some(target) =>
        assertNoReservedCols(df, Seq("__n", "__w"))
        // measure: per-value row counts (column-pruned partial agg), then
        // size each value's salt to exactly its own fan-out need; the cap
        // (filesPerPartition, when set) bounds runaway values
        val rawW = ceil(col("__n").cast("double") / target).cast("long")
        val cappedW = cfg.filesPerPartition
          .map(c => least(lit(c.toLong), rawW)).getOrElse(rawW)
        val widths = df.groupBy(keys: _*)
          .agg(count(lit(1)).as("__n"))
          .select(keys :+ greatest(lit(1L), cappedW).as("__w"): _*)
        // the reducer count must cover the WIDEST value's salt range or
        // repartition folds salt groups back together and silently
        // under-splits past the target (the widths table is bounded by
        // partition cardinality, so this max is a tiny driver agg)
        val maxW = widths.agg(max(col("__w"))).head.getLong(0).toInt
        val nShuffle = math.max(maxW, sessionShuffle)
        df.join(broadcast(widths), cfg.partitionFields)
          .repartition(nShuffle, keys :+ pmod(rowHash, col("__w")): _*)
          .drop("__w")
      case None => cfg.filesPerPartition match {
        case Some(n) =>
          val nShuffle = math.max(n, sessionShuffle)
          val exprs =
            if (n == 1) keys
            else keys :+ pmod(rowHash, lit(n))
          df.repartition(nShuffle, exprs: _*)
        case None => df
      }
    }
  }

  /** The partitionBy writer with every per-write option `cfg` carries —
    * shared by [[write]] and the in-place compactions. */
  private def save(clustered: DataFrame, path: String, cfg: SinkConfig): Unit = {
    var writer = clustered.write
      .format(cfg.format.name)
      .partitionBy(cfg.partitionFields: _*)
      .mode(if (cfg.disposition == OverwritePartitions) SaveMode.Overwrite
        else SaveMode.Append)
    if (cfg.disposition == OverwritePartitions)
      // per-write option — overrides the session conf for THIS write only,
      // no behavior leak into unrelated writes on the shared session
      writer = writer.option("partitionOverwriteMode", "dynamic")
    cfg.codec.foreach { c =>
      writer = writer.option("compression",
        Validators.resolveCodec(cfg.codecWhitelist, c, cfg.format.name))
    }
    cfg.orcOptions.foreach { o =>
      writer = writer
        .option("orc.compress.size", o.compressionChunkSize.toString)
        .option("orc.stripe.size", o.stripeSize.toString)
        .option("orc.row.index.stride", o.indexStride.toString)
        .option("orc.create.index", o.createIndex.toString)
    }
    cfg.maxRecordsPerFile.foreach(n =>
      writer = writer.option("maxRecordsPerFile", n.toString))
    writer.save(path)
  }

  /** Read a written partitioned tree back. Partition values were stringified
    * on write; pin type inference off so they come back as strings
    * (SURVEY.md §7.4 item 3). */
  def readBack(spark: SparkSession, path: String, format: SinkFormat = ParquetFormat): DataFrame = {
    // partition-type inference runs eagerly during load(); restore the
    // prior session value so the setting doesn't leak into unrelated reads
    val key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try spark.read.format(format.name).load(path)
    finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /**
   * Bucketed managed table write: co-locate future joins/aggregations on
   * `bucketCols` by pre-hashing rows into `numBuckets` files per partition
   * — a join between two tables bucketed identically on the join key plans
   * WITHOUT a shuffle exchange (verified in `SinkSurfaceSpec`). At 100 TB
   * this converts every recurring fact-to-fact join on the bucket key from
   * a full shuffle into a local zip of pre-sorted buckets.
   */
  def writeBucketed(
      df: DataFrame, tableName: String, numBuckets: Int,
      bucketCols: Seq[String], sortCols: Seq[String] = Nil,
      format: SinkFormat = ParquetFormat): Unit = {
    var w = df.write.format(format.name)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    if (sortCols.nonEmpty) w = w.sortBy(sortCols.head, sortCols.tail: _*)
    w.mode(SaveMode.Overwrite).saveAsTable(tableName)
  }

  /**
   * Range-sharded corpus export: `nShards` balanced output files, globally
   * range-ordered on `sortCol` — every key in shard i sorts before every
   * key in shard i+1 and rows are sorted within each shard. The standard
   * layout for sequential training-data consumption (deterministic shard →
   * worker assignment) and for merge-joinable corpus snapshots. One range
   * exchange (boundaries from a driver-side reservoir sample — O(sample)
   * driver memory at any scale) + an in-partition sort; no global
   * single-partition sort anywhere.
   */
  def writeRangeSharded(
      df: DataFrame, path: String, sortCol: String, nShards: Int,
      format: SinkFormat = ParquetFormat): Unit =
    df.repartitionByRange(nShards, col(sortCol))
      .sortWithinPartitions(sortCol)
      .write.format(format.name).mode(SaveMode.Overwrite).save(path)

  /**
   * Z-order multi-column layout: route rows into `nBuckets` partition
   * directories by equal-width slabs of the Morton code over two layout
   * columns ([[graft.functions.ZOrder.zorder2]]), sorted by z within each
   * bucket. Every bucket then covers a contiguous z-range, which bounds
   * BOTH columns' per-file min/max — scans filtered on either column skip
   * most buckets, where a single-column sort only helps its own column.
   *
   * Each column is min-max normalized to a common 16-bit domain before
   * interleaving — without this, mismatched ranges degenerate the curve
   * (a low-cardinality column's bits sit below the slab width and every
   * slab spans its whole range). Normalization bounds come from one agg
   * pass (four scalars to the driver — the only extra pass: the slab
   * width is the analytic z-domain bound 2^32/nBuckets, not a second
   * observed-max scan), so the whole layout is
   * deterministic by construction and the correctness oracle recomputes
   * it in SQL. The exchange is an ordinary hash repartition on the bucket
   * id; no global sort anywhere, so the plan is the same shape at 100 TB.
   * Skew note: equal-width z-slabs can be unbalanced on skewed data; the
   * production knob is raising `nBuckets` (buckets stay cheap — one dir
   * each) or AQE coalescing, not a sampled boundary search, because
   * reproducibility of the layout is the point.
   */
  /** Backtick-quoted column reference: names with dots or backticks
    * resolve as literal identifiers instead of being parsed. */
  private def qcol(name: String): org.apache.spark.sql.Column =
    col("`" + name.replace("`", "``") + "`")

  /** min-max span, guarded so `(v - min) * factor` cannot overflow a
    * long ((v - min) ≤ span): spans above ~1.4e14 (2-col) / wider for
    * higher k would silently wrap negative and scatter the layout.
    * Rank-normalize (e.g. a row_number pre-pass) such columns first. */
  private def spanChecked(hi: Long, lo: Long, factor: Long, name: String): Long = {
    // subtractExact: a plain `hi - lo` itself wraps for extreme ranges
    // (lo near Long.MinValue, hi near Long.MaxValue), and the wrapped
    // NEGATIVE span would sail through max(1, _) and the require — the
    // exact overflow this guard exists to reject
    val span =
      try math.max(1L, Math.subtractExact(hi, lo))
      catch { case _: ArithmeticException => Long.MaxValue }
    require(span <= Long.MaxValue / factor,
      s"layout column $name spans $span > ${Long.MaxValue / factor} " +
        "— normalization would overflow; rank-normalize the column first")
    span
  }

  /** Internal layout columns would silently shadow (and then drop) input
    * columns of the same name — reject up front instead. */
  private def assertNoReservedCols(df: DataFrame, reserved: Seq[String]): Unit = {
    val clash = df.columns.toSet.intersect(reserved.toSet)
    require(clash.isEmpty,
      s"input columns ${clash.toSeq.sorted.mkString(", ")} collide with " +
        "internal layout column names — rename them before the z-order write")
  }

  def writeZOrdered(
      df: DataFrame, path: String, colA: String, colB: String,
      nBuckets: Int, format: SinkFormat = ParquetFormat,
      bucketCol: String = "zbucket"): Unit = {
    require(nBuckets > 0, "nBuckets must be positive")
    assertNoReservedCols(df, Seq("_na", "_nb", "_z", bucketCol))
    if (df.isEmpty) {
      df.withColumn(bucketCol, lit(0L))
        .write.format(format.name).partitionBy(bucketCol)
        .mode(SaveMode.Overwrite).save(path)
      return
    }
    val mm = df.agg(min(qcol(colA)), max(qcol(colA)),
      min(qcol(colB)), max(qcol(colB))).head()
    def lv(i: Int): Long = mm.getAs[Number](i).longValue()
    val (minA, minB) = (lv(0), lv(2))
    val spanA = spanChecked(lv(1), minA, 65535L, colA)
    val spanB = spanChecked(lv(3), minB, 65535L, colB)
    // normalization in exact long arithmetic ((v-min)·65535 div span) via
    // temp columns so the only parsed expr references are names we control
    // — layout column names with backticks/dots resolve through qcol
    val withZ = df
      .withColumn("_na", (qcol(colA).cast("long") - lit(minA)) * lit(65535L))
      .withColumn("_nb", (qcol(colB).cast("long") - lit(minB)) * lit(65535L))
      .withColumn("_z",
        graft.functions.ZOrder.zorder2(
          expr(s"_na div $spanA"), expr(s"_nb div $spanB")))
      .drop("_na", "_nb")
    // normalization stretches both columns to fill the 16-bit domain, so
    // the z domain is exactly [0, 2^32) — slab width comes from that bound
    // analytically, not from a second full-table agg pass
    val width = 0xFFFFFFFFL / nBuckets + 1
    withZ
      .withColumn(bucketCol, expr(s"_z div $width"))
      .repartition(col(bucketCol))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.format(format.name).partitionBy(bucketCol)
      .mode(SaveMode.Overwrite).save(path)
  }

  /**
   * k-column generalization of [[writeZOrdered]]: round-robin Morton
   * interleave ([[graft.functions.ZOrder.zorderK]], a codegen'd native
   * expression — the magic-mask spread only exists for stride 2), each
   * column min-max normalized to its ⌊62/k⌋-bit share of the z domain.
   * Same analytic equal-width slab bucketing, same single extra agg
   * pass; layout determinism and slab disjointness are pinned in
   * `ZOrderLayoutSpec` (bit-by-bit interleave is SQL-expressible only as
   * ~60 terms, so the k>2 path is test-verified rather than
   * oracle-verified — the 2-column path's oracle covers the shared
   * normalize/slab machinery).
   */
  def writeZOrderedK(
      df: DataFrame, path: String, cols: Seq[String], nBuckets: Int,
      format: SinkFormat = ParquetFormat, bucketCol: String = "zbucket"): Unit = {
    require(cols.size >= 2, "need at least 2 layout columns")
    require(nBuckets > 0, "nBuckets must be positive")
    assertNoReservedCols(df,
      cols.indices.map(i => s"_zn$i") ++ Seq("_z", bucketCol))
    if (df.isEmpty) {
      df.withColumn(bucketCol, lit(0L))
        .write.format(format.name).partitionBy(bucketCol)
        .mode(SaveMode.Overwrite).save(path)
      return
    }
    val k = cols.size
    val bits = 62 / k
    val top = (1L << bits) - 1
    // one agg pass: [min(c0), max(c0), min(c1), max(c1), ...]
    val aggCols = cols.flatMap(c => Seq(min(qcol(c)), max(qcol(c))))
    val mm = df.agg(aggCols.head, aggCols.tail: _*).head()
    def mn(i: Int): Long = mm.getAs[Number](2 * i).longValue()
    def mx(i: Int): Long = mm.getAs[Number](2 * i + 1).longValue()
    // exact long normalization via temp columns (backtick-safe, overflow
    // guarded — see writeZOrdered)
    val tmp = cols.indices.map(i => s"_zn$i")
    val dfNorm = cols.zipWithIndex.foldLeft(df) { case (d, (c, i)) =>
      d.withColumn(tmp(i), (qcol(c).cast("long") - lit(mn(i))) * lit(top))
    }
    val scaled = cols.zipWithIndex.map { case (c, i) =>
      val span = spanChecked(mx(i), mn(i), top, c)
      expr(s"${tmp(i)} div $span")
    }
    // a null in ANY layout column propagates to a null z — and so to the
    // null bucket partition, matching writeZOrdered (the kernel itself
    // zeroes null elements for direct SQL callers; the writer keeps null
    // rows out of bucket 0)
    val anyNull = cols.map(c => qcol(c).isNull).reduce(_ || _)
    val withZ = dfNorm.withColumn("_z",
      when(anyNull, lit(null).cast("long"))
        .otherwise(graft.functions.ZOrder.zorderK(array(scaled: _*))))
      .drop(tmp: _*)
    val width = ((1L << (k * bits)) - 1) / nBuckets + 1
    withZ
      .withColumn(bucketCol, expr(s"_z div $width"))
      .repartition(col(bucketCol))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.format(format.name).partitionBy(bucketCol)
      .mode(SaveMode.Overwrite).save(path)
  }

  /**
   * Partition retention: drop whole partition DIRECTORIES whose
   * partition values satisfy `predicate` — the TTL/retention sweep every
   * partitioned corpus store needs (expire old date partitions, purge a
   * revoked source). This is a METADATA-COST operation: the partition
   * values come from the directory tree ([[PartitionCatalog.list]] —
   * O(partition-dirs) listStatus, no data file is ever opened), and each
   * dropped partition is one recursive directory delete. No rewrite, no
   * read, no shuffle — at 100 TB the sweep costs the same as at 100 GB
   * because only the partition CARDINALITY matters.
   *
   * Returns the dropped partition-value tuples so callers can sync a
   * registered catalog ([[PartitionCatalog]] `MSCK REPAIR` or explicit
   * `DROP PARTITION`) and audit what went away.
   */
  def dropPartitionsWhere(
      spark: SparkSession, path: String, partitionFields: Seq[String],
      predicate: Map[String, String] => Boolean): Seq[Map[String, String]] = {
    require(partitionFields.nonEmpty, "partitionFields must be non-empty")
    val parts = PartitionCatalog.list(spark, path, partitionFields.size)
    val (hfs, root) = FsOps.fs(spark, path)
    val dropped = parts.filter(predicate)
    dropped.foreach(vals => FsOps.deleteIfExists(hfs,
      new Path(root, PartitionCatalog.relDir(partitionFields,
        partitionFields.map(vals)))))
    dropped
  }

  /**
   * Compact a partitioned tree where it lives: THE operational failure
   * mode of dynamic partitioning at scale is small files — every
   * (task × partition-value) pair emits one, so a 2000-task write into
   * 500 partitions can leave a million KB-sized files that crush the
   * namenode and every subsequent scan. Reads the tree and re-clusters
   * rows through the write path's own clustering and writer, so each
   * partition value lands in at most `filesPerPartition` output files
   * (salted by a deterministic row hash when >1). Content is untouched
   * (oracle-verified via `sink_compacted`).
   *
   * Lazily reading and overwriting the same files in one job would be a
   * read-under-write hazard, so the rewrite lands COMPLETELY in a
   * `_`-hidden staging subtree first (the compaction job has fully
   * materialized its read of the old files before the first destructive
   * step; readers of `path` never list `_`/`.`-prefixed entries), then
   * each top-level partition directory is swapped in via a rename pair —
   * metadata ops, so the reader-visible window per partition is
   * rename-sized, not rewrite-sized, and a crashed swap is self-healing
   * on the next run ([[FsOps.swapIn]]). Hadoop FileSystem API end-to-end:
   * works on any FS with directory rename (local, HDFS); on object
   * stores, run from the tree's single writer — the discipline
   * partitioned appends require anyway. The tree is rewritten as stored
   * (no validation or partition-value preparation), so a
   * `__HIVE_DEFAULT_PARTITION__` directory compacts like any other.
   */
  def compactInPlace(
      spark: SparkSession, path: String,
      partitionFields: Seq[String], format: SinkFormat = ParquetFormat,
      filesPerPartition: Int = 1, codec: Option[String] = None): Unit = {
    require(filesPerPartition > 0, "filesPerPartition must be positive")
    rewriteInPlace(spark, path, format)(_ => SinkConfig(format,
      partitionFields, codec, filesPerPartition = Some(filesPerPartition)))
  }

  /**
   * [[compactInPlace]] with a TARGET FILE SIZE instead of a uniform file
   * count — the knob operators reason in ("~512 MB files"), serving a
   * 2 GB and a 2 MB partition in the same pass. The tree's visible bytes
   * (one driver-side listing) over its row count give the observed
   * bytes/row, which converts the byte target into the writer's
   * `maxRecordsPerFile` cap: oversized partitions split
   * DETERMINISTICALLY at file-write time (a salt cannot promise that —
   * the partitionBy writer merges same-partition salt groups that hash
   * into one task), and rows cluster one task per partition value, so
   * under-target partitions land as exactly one file. Compression-ratio
   * differences make the target approximate, not a contract.
   */
  def compactToTargetSize(
      spark: SparkSession, path: String,
      partitionFields: Seq[String], targetBytes: Long,
      format: SinkFormat = ParquetFormat, codec: Option[String] = None): Unit = {
    require(targetBytes > 0, "targetBytes must be positive")
    rewriteInPlace(spark, path, format) { tree =>
      val (fs, root) = FsOps.fs(spark, path)
      val totalBytes = FsOps.visibleFiles(fs, root).map(_.getLen).sum
      val avgRowBytes = math.max(1L, totalBytes / math.max(tree.count(), 1L))
      SinkConfig(format, partitionFields, codec, filesPerPartition = Some(1),
        maxRecordsPerFile = Some(math.max(1L, targetBytes / avgRowBytes)))
    }
  }

  /** The in-place rewrite both compactions share: heal a crashed prior
    * swap, read the tree, write it through [[cluster]] and [[save]] under
    * the config `configFor` derives from the tree into `_compact_staging`,
    * then swap each rewritten top-level partition directory in. */
  private def rewriteInPlace(spark: SparkSession, path: String,
      format: SinkFormat)(configFor: DataFrame => SinkConfig): Unit = {
    val (hfs, root) = FsOps.fs(spark, path)
    // heal any crashed prior swap BEFORE reading the tree
    FsOps.healSwaps(hfs, root)
    val staging = new Path(root, "_compact_staging")
    FsOps.deleteIfExists(hfs, staging)
    val tree = readBack(spark, path, format)
    val cfg = configFor(tree)
    save(cluster(tree, cfg), staging.toString, cfg)
    hfs.listStatus(staging)
      .filter(s => s.isDirectory && !FsOps.isHidden(s.getPath.getName))
      .foreach(s => FsOps.swapIn(hfs, s.getPath, new Path(root, s.getPath.getName)))
    FsOps.deleteIfExists(hfs, staging)
  }

  /** Result of a [[mergeUpsert]]: how many partitions were rewritten and how
    * many became empty (every row deleted) and had their directory dropped. */
  final case class MergeStats(partitionsRewritten: Int, partitionsDropped: Int)

  /**
   * CDC MERGE (upsert + delete) into an existing partitioned dataset,
   * copy-on-write at PARTITION granularity — the "apply a change batch to a
   * 100 TB table without rewriting the table" primitive every incremental
   * corpus pipeline needs.
   *
   * Semantics: `updates` carries the full payload schema plus, optionally, a
   * boolean `deleteCol`. Per key (`keyFields`): a non-delete row REPLACES the
   * existing row (inserting if absent — and the replacement may land in a
   * DIFFERENT partition, in which case the old copy is removed from its old
   * partition); a delete row removes the key wherever it lives. Keys must be
   * unique within the batch (checked — one tiny aggregation on the
   * CDC-batch-sized side).
   *
   * Scale posture: the merge touches only the partitions that can change —
   * (a) partitions where non-delete update rows land, plus (b) partitions
   * currently holding an updated key, found with one column-pruned scan of
   * the base (key + partition columns only — at 100 TB this reads two thin
   * columns, or is skipped entirely by a metastore key-location index when
   * one exists). The touched set is collected (bounded by partition-value
   * cardinality, the same assumption `partitionBy` makes) and becomes a
   * LITERAL partition-pruning predicate, so the survivor scan reads only
   * touched partitions; update keys broadcast into the anti-join (CDC
   * batches are small by definition). The rewrite itself is a dynamic
   * partition overwrite — untouched partitions' files are never opened.
   * Partitions whose every row was deleted produce no output rows, which
   * dynamic overwrite would silently leave stale — those directories are
   * dropped explicitly (driver loop bounded by the touched count).
   */
  def mergeUpsert(
      spark: SparkSession,
      path: String,
      updates: DataFrame,
      keyFields: Seq[String],
      cfg: SinkConfig,
      deleteCol: Option[String] = None): MergeStats = {
    require(keyFields.nonEmpty, "mergeUpsert needs at least one key field")
    require(!keyFields.exists(cfg.partitionFields.contains),
      "partition fields cannot be merge keys (a key that IS the partition " +
        "value cannot move; route through a payload column instead)")
    val dupKeys = updates.groupBy(keyFields.map(qcol): _*)
      .agg(count(lit(1)).as("__n")).filter(col("__n") > 1).limit(1).count()
    require(dupKeys == 0L,
      s"update batch has multiple rows for one (${keyFields.mkString(",")}) key")

    val isDelete = deleteCol
      .map(c => coalesce(col(c), lit(false))).getOrElse(lit(false))
    val upserts = preparePartitionColumns(
      deleteCol.foldLeft(updates.filter(!isDelete))((d, c) => d.drop(c)), cfg)
    validate(upserts, cfg)
    val keyCols = keyFields.map(qcol)
    val allKeys = updates.select(keyCols: _*).distinct()
    val pCols = cfg.partitionFields.map(qcol)

    val base = readBack(spark, path, cfg.format)
    // opt-in drift gate, same contract as the append path: the batch must
    // fit (Strict) or safely widen (Widen) what the dataset already holds
    cfg.evolution.foreach(policy =>
      graft.schema.SchemaEvolution.validate(
        base.schema, upserts.schema, cfg.partitionFields, policy): Unit)
    // touched = partitions receiving upserts ∪ partitions holding updated
    // keys (thin key+partition scan of the base; finds moved and deleted
    // keys' OLD locations)
    val touchedDf = upserts.select(pCols: _*)
      .union(base.join(broadcast(allKeys), keyFields.toSeq, "left_semi")
        .select(pCols: _*))
      .distinct()
    val touched = touchedDf.collect()

    // survivors: rows of touched partitions whose key is not in the batch.
    // Pruning via [[pruneToTouched]] — a per-column InSet prefilter
    // partition-prunes the parquet scan at planning time, the broadcast
    // semi join enforces the exact tuple set, and the plan stays small at
    // ANY touched-partition count (a literal Or-chain would not). Persist
    // so the partition census below and the rewrite share one base read.
    val survivors = pruneToTouched(
        base, touched.toSeq, touchedDf.schema, cfg.partitionFields)
      .join(broadcast(allKeys), keyFields.toSeq, "left_anti")
      .persist()
    try {
      // under Widen a batch may carry a NEW nullable column the survivors
      // lack (old rows read null for it) — allowMissingColumns is exactly
      // that contract; type promotions coerce through union's resolution
      val out = cfg.evolution match {
        case Some(graft.schema.SchemaEvolution.Widen) =>
          survivors.unionByName(upserts, allowMissingColumns = true)
        case _ => survivors.unionByName(upserts)
      }
      // partitions left with zero rows (all deleted, nothing upserted):
      // dynamic overwrite won't clear them — enumerate before the write
      val live = out.select(pCols: _*).distinct().collect()
        .map(r => (0 until cfg.partitionFields.length).map(r.getString))
        .toSet
      // evolution already validated against the full base above — the
      // inner write must not re-gate against a half-rewritten tree
      write(out, path,
        cfg.copy(disposition = OverwritePartitions, evolution = None))
      val emptied = touched
        .map(r => (0 until cfg.partitionFields.length).map(r.getString))
        .filterNot(live)
      val (fsys, root) = FsOps.fs(spark, path)
      emptied.foreach(vals => FsOps.deleteIfExists(fsys,
        new Path(root, PartitionCatalog.relDir(cfg.partitionFields, vals))))
      MergeStats(touched.length - emptied.length, emptied.length)
    } finally { survivors.unpersist(): Unit }
  }

  /** Prune `base` to rows whose partition values appear in `touched`,
    * never via a literal OR-chain predicate (a CDC batch touching
    * thousands of partitions would build a thousands-term Or tree that
    * Catalyst constraint propagation and codegen degrade badly on). Two
    * cooperating layers, each O(1)-ish in plan size:
    *  - a coarse PER-COLUMN `isin` prefilter — one `InSet` node per
    *    partition column (set-lookup codegen, no expression blowup) that
    *    the file index evaluates at PLANNING time, so untouched
    *    partitions' files are statically pruned from the scan;
    *  - an exact BROADCAST SEMI JOIN on the full value tuples (null-safe
    *    `<=>`, so a null partition value still prunes to ITS partition),
    *    which removes the per-column filter's cross-column false
    *    positives. */
  private[sink] def pruneToTouched(
      base: DataFrame, touched: Seq[org.apache.spark.sql.Row],
      touchedSchema: org.apache.spark.sql.types.StructType,
      partitionFields: Seq[String]): DataFrame = {
    import scala.jdk.CollectionConverters._
    // backtick-quote every resolution: Dataset#apply parses dotted names
    // as nested-field access, and the sink admits partition fields
    // containing dots (the qcol discipline)
    def qname(n: String) = "`" + n.replace("`", "``") + "`"
    val perCol = partitionFields.zipWithIndex.map { case (fn, i) =>
      val vals = touched.map(_.get(i)).distinct
      val nonNull = vals.filterNot(_ == null)
      val in =
        if (nonNull.isEmpty) lit(false)
        else base(qname(fn)).isin(nonNull: _*)
      if (vals.contains(null)) in || base(qname(fn)).isNull else in
    }.reduce(_ && _)
    val local = base.sparkSession.createDataFrame(
      touched.asJava, touchedSchema)
    val cond = partitionFields.map(fn => base(qname(fn)) <=> local(qname(fn)))
      .reduce(_ && _)
    base.filter(perCol).join(broadcast(local), cond, "left_semi")
  }

  /** T2 analogue (`_CDAPStageName` constant injection,
    * `common/Schemas.java:24-30` + `AvroDynamicPartitionedDatasetSink.java:82-85`):
    * append a constant stage-name column. In Spark the partition-field list
    * is driver-side so no per-record stage marker is needed for routing —
    * this exists for multi-sink fan-out provenance, and the column is NOT
    * part of the payload written by [[write]] unless explicitly included. */
  def withStageConstant(df: DataFrame, stageName: String,
      colName: String = "_stage"): DataFrame =
    df.withColumn(colName, lit(stageName))
}

package graft.sink

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/**
 * Partition catalog over a Hive-style partitioned directory tree — the
 * Spark-side stand-in for the reference's `PartitionedFileSet` metadata
 * (`getPartitions` / `getPartition(PartitionKey)`, SURVEY.md §1.1;
 * `DynamicPartitionedFilesetSinkTest.java:155-162`).
 *
 * At 100 TB the listing must come from a metastore catalog
 * (`SHOW PARTITIONS`), not a filesystem walk; `list` below walks the tree
 * with one listStatus per directory level, which is fine for the file-based
 * layout this project tests against, and the CREATE pre-check intersects in
 * a single distributed job either way.
 */
object PartitionCatalog {

  /** The one partition-tuple → relative-directory rule: Spark's own
    * writer encoding (`getPartitionPathString`), which Hive-escapes the
    * field name AND the value (`a:b=x` lands as `a%3Ab=x`) and maps a
    * null value to `__HIVE_DEFAULT_PARTITION__`, never a literal "null". */
  private[graft] def relDir(fields: Seq[String], values: Seq[String]): String =
    fields.zip(values).map { case (f, v) =>
      ExternalCatalogUtils.getPartitionPathString(f, v)
    }.mkString("/")

  /** Inverse of [[relDir]] for one `field=value` directory name (None when
    * the name holds no `=`). Both sides are unescaped with the EXACT
    * inverse of Spark's escaping (Hive `%XX` convention) — `URLDecoder`
    * is NOT that inverse: it turns a literal '+' (common in stringified
    * timestamps) into a space and throws on a stray '%' in an
    * externally-created directory, either of which would make the CREATE
    * pre-check miss existing partitions. */
  private[graft] def parseDir(name: String): Option[(String, String)] = {
    val i = name.indexOf('=')
    if (i < 0) None
    else Some(ExternalCatalogUtils.unescapePathName(name.substring(0, i)) ->
      ExternalCatalogUtils.unescapePathName(name.substring(i + 1)))
  }

  /** List partition keys present under `path` as ordered (field -> value)
    * maps, by walking `nFields` levels of `field=value` dirs ([[parseDir]]);
    * hidden entries ([[FsOps.isHidden]]) are never partitions. */
  def list(spark: org.apache.spark.sql.SparkSession, path: String, nFields: Int): Seq[Map[String, String]] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Seq.empty
    var frontier: Seq[(Path, Map[String, String])] = Seq(p -> Map.empty)
    (0 until nFields).foreach { _ =>
      frontier = frontier.flatMap { case (dir, key) =>
        fs.listStatus(dir).toSeq
          .filter(s => s.isDirectory && !FsOps.isHidden(s.getPath.getName))
          .flatMap(s => parseDir(s.getPath.getName).map(kv => s.getPath -> (key + kv)))
      }
    }
    frontier.map(_._2)
  }

  /** Partition tuples of a REGISTERED table from the session catalog
    * (`SHOW PARTITIONS`) — the 100 TB path: one metastore call instead of a
    * filesystem walk whose listStatus count grows with partition
    * cardinality. Values arrive Hive-escaped exactly as directory names do
    * and are unescaped the same way. */
  def listFromCatalog(
      spark: org.apache.spark.sql.SparkSession,
      tableName: String): Seq[Map[String, String]] =
    spark.sql(s"SHOW PARTITIONS $tableName").collect().toSeq.map { r =>
      r.getString(0).split("/").iterator.flatMap(parseDir).toMap
    }

  /** F7 (Explore/Hive registration,
    * `common/FileSetUtil.java:75-80,114-121,155-164`): register a written
    * partitioned tree as an external catalog table and recover its
    * partitions, making it queryable by name (`SHOW PARTITIONS`, SQL).
    * At 100 TB this catalog — not a filesystem walk — is what the CREATE
    * pre-check and partition pruning consult.
    *
    * Table properties mirror the reference's Explore registration: the
    * Hive SerDe / input-output format classes for the chosen format
    * (`FileSetUtil.java:75-80,155-164`) and, for Avro, the full
    * `avro.schema.literal` (`FileSetUtil.java:114-121,128-133`) derived
    * from the data schema (supplied, or read from the written files'
    * footers when omitted).
    *
    * Honesty boundary: this creates a Spark-NATIVE-provider table
    * (`CREATE TABLE ... USING`), so the SerDe/IO-format classes live in
    * TBLPROPERTIES as informational metadata — Spark reads the data through
    * its own datasource, and an external Hive engine would not honor them.
    * The reference registers a real Hive-format table (`STORED AS`,
    * `FileSetUtil.java:114-121,155-164`), which requires a Hive metastore;
    * on such a deployment run [[hiveRegistrationDdl]]'s output instead. */
  def registerExternal(
      spark: org.apache.spark.sql.SparkSession, tableName: String,
      path: String, format: String = "parquet",
      schema: Option[StructType] = None): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $tableName")
    val provider = SinkFormat.byName(format).fold(format.toLowerCase)(_.name)
    val dataSchema = schema.getOrElse(
      spark.read.format(provider).load(path).schema)
    val serdeProps: Map[String, String] = format.toLowerCase match {
      case "avro" => Map(
        "serde" -> "org.apache.hadoop.hive.serde2.avro.AvroSerDe",
        "input.format" -> "org.apache.hadoop.hive.ql.io.avro.AvroContainerInputFormat",
        "output.format" -> "org.apache.hadoop.hive.ql.io.avro.AvroContainerOutputFormat",
        "avro.schema.literal" ->
          org.apache.spark.sql.avro.SchemaConverters
            .toAvroType(dataSchema, nullable = false, tableName, "graft").toString)
      case "orc" => Map(
        "serde" -> "org.apache.hadoop.hive.ql.io.orc.OrcSerde",
        "input.format" -> "org.apache.hadoop.hive.ql.io.orc.OrcInputFormat",
        "output.format" -> "org.apache.hadoop.hive.ql.io.orc.OrcOutputFormat")
      case _ => Map(
        "serde" -> "org.apache.hadoop.hive.ql.io.parquet.serde.ParquetHiveSerDe",
        "input.format" -> "org.apache.hadoop.hive.ql.io.parquet.MapredParquetInputFormat",
        "output.format" -> "org.apache.hadoop.hive.ql.io.parquet.MapredParquetOutputFormat")
    }
    val tblProps = (serdeProps + ("graft.format" -> format.toLowerCase))
      .map { case (k, v) => s"'$k'='${v.replace("'", "''")}'" }
      .mkString(", ")
    spark.sql(
      s"""CREATE TABLE $tableName USING `$provider`
         |OPTIONS (path '$path')
         |TBLPROPERTIES ($tblProps)""".stripMargin)
    spark.catalog.recoverPartitions(tableName)
  }

  /** Hive-parity registration DDL (`STORED AS` + `LOCATION`) — the exact
    * table a Hive-metastore deployment should create for reference-parity
    * Explore registration (real SerDe storage, not informational
    * properties). Returned as a statement so callers control which catalog
    * runs it; execute it followed by `MSCK REPAIR TABLE`
    * (≙ `recoverPartitions`) on the target metastore. Exercised end-to-end
    * (create → repair → `SHOW PARTITIONS` → read-back, parquet and avro)
    * against a Derby-backed Hive metastore in `SinkSurfaceSpec`. */
  def hiveRegistrationDdl(
      tableName: String, path: String, dataSchema: StructType,
      partitionFields: Seq[String], format: String = "parquet"): String = {
    val storage = format.toLowerCase match {
      case "avro" => "AVRO"
      case "orc" => "ORC"
      case _ => "PARQUET"
    }
    // Hive has no TIMESTAMP_NTZ keyword: its TIMESTAMP *is* wall-clock
    // (NTZ) semantics, so both Spark timestamp flavors render as TIMESTAMP
    // (`f.dataType.sql` would emit TIMESTAMP_NTZ, which Hive's type parser
    // rejects at table-creation time)
    def hiveType(dt: org.apache.spark.sql.types.DataType): String = dt match {
      case org.apache.spark.sql.types.TimestampNTZType => "TIMESTAMP"
      case other => other.sql
    }
    def cols(fs: Seq[org.apache.spark.sql.types.StructField]) =
      fs.map(f => s"`${f.name}` ${hiveType(f.dataType)}").mkString(", ")
    val (partCols, dataCols) =
      dataSchema.fields.toSeq.partition(f => partitionFields.contains(f.name))
    // preserve declared partition-field order (directory nesting order)
    val orderedPart = partitionFields.map(n => partCols.find(_.name == n).get)
    s"""CREATE EXTERNAL TABLE `$tableName` (${cols(dataCols)})
       |PARTITIONED BY (${cols(orderedPart)})
       |STORED AS $storage
       |LOCATION '$path'""".stripMargin
  }

  /** CREATE-disposition pre-check (W1): fail if any incoming partition tuple
    * already exists at the target. Incoming tuples come from a distinct
    * aggregation over just the partition columns (column-pruned, map-side
    * partial agg); only the distinct tuples — bounded by partition
    * cardinality, not row count — reach the driver. When `catalogTable`
    * names a registered table, the existing side comes from the catalog
    * ([[listFromCatalog]]) instead of a filesystem walk — the catalog is the
    * source of truth a metastore deployment maintains, and the walk's
    * per-directory listStatus cost disappears. */
  /**
   * Per-partition occupancy over a partitioned tree: one row per
   * partition tuple with `n_rows` and `n_files` — the sink's health
   * surface, sibling of `Similarity.ivfIndexHealth` (partition metadata
   * is a first-class queryable surface, not opaque directories). The
   * operational read: `n_files` feeds the compaction decision (every
   * (task × partition) pair writes a file, so fragmentation grows with
   * writer parallelism), and row skew across partition values is the
   * partition-key-choice alarm the validators can't see statically.
   *
   * Cost shape at 100 TB: grouping on the PARTITION columns plus
   * `input_file_name` materializes zero data columns — the scan iterates
   * footer/batch row counts per file; the aggregate's cardinality is the
   * file count, combined map-side to the partition count. No driver
   * filesystem walk, no collect.
   */
  def partitionStats(
      spark: org.apache.spark.sql.SparkSession, path: String,
      partitionFields: Seq[String],
      format: SinkFormat = ParquetFormat): DataFrame = {
    val keyCols = partitionFields.map(col)
    PartitionedSink.readBack(spark, path, format)
      .groupBy((keyCols :+ org.apache.spark.sql.functions.input_file_name()
        .as("__f")): _*)
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("__rows"))
      .groupBy(keyCols: _*)
      .agg(org.apache.spark.sql.functions.sum(col("__rows")).as("n_rows"),
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_files"))
  }

  def assertNoneExist(prepared: DataFrame, path: String, fields: Seq[String],
      catalogTable: Option[String] = None): Unit = {
    val spark = prepared.sparkSession
    val existing = catalogTable match {
      case Some(t) if spark.catalog.tableExists(t) => listFromCatalog(spark, t)
      case _ => list(spark, path, fields.length)
    }
    if (existing.isEmpty) return
    // the EXISTING side is driver-bounded (it is the partition listing a
    // metastore already holds); the INCOMING side is not — at 100 TB a
    // high-cardinality key would make a distinct().collect() an unbounded
    // driver transfer. So the check runs as a broadcast semi-join against
    // the existing set, and only a bounded clash sample (≤5 rows, for the
    // error message) ever reaches the driver.
    val existingDf = spark.createDataFrame(
      java.util.Arrays.asList(existing.map(m =>
        org.apache.spark.sql.Row.fromSeq(fields.map(m(_)))): _*),
      org.apache.spark.sql.types.StructType(fields.map(f =>
        org.apache.spark.sql.types.StructField(f, org.apache.spark.sql.types.StringType))))
    val clashSample = prepared
      .select(fields.map(f => col(f).cast("string").as(f)): _*)
      .distinct()
      .join(org.apache.spark.sql.functions.broadcast(existingDf), fields, "left_semi")
      .take(5)
    if (clashSample.nonEmpty)
      throw new IllegalStateException(
        s"CREATE disposition: partition(s) already exist: " +
          clashSample.map(r => fields.zipWithIndex.map { case (f, i) =>
            s"$f=${r.get(i)}" }.mkString("/")).mkString(", "))
  }
}

package graft.sink

import graft.SparkSpec
import graft.schema.{GraftSchemaException, Validators}
import org.apache.spark.SparkException
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row}

import java.nio.file.Files
import scala.jdk.CollectionConverters._

/**
 * Mirrors the reference's two test files (SURVEY.md §5.1):
 * validation matrix from DynamicPartitionFileSetSinkConfigTest.java and the
 * 6-records→3-partitions E2E from DynamicPartitionedFilesetSinkTest.java,
 * for all three formats.
 */
class PartitionedSinkSpec extends SparkSpec {

  // purchase fixture (FIXTURES.md §1)
  private lazy val purchase: DataFrame = {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("first_name", StringType, nullable = false),
      StructField("purchase_date", StringType, nullable = false)))
    val rows = Seq(
      Row(1L, "Douglas", "2009-01-02"), Row(2L, "David", "2009-01-01"),
      Row(3L, "Hugh", "2009-01-01"), Row(4L, "Walter", "2009-01-03"),
      Row(5L, "Frank", "2009-01-03"), Row(6L, "Serena", "2009-01-01"))
    spark.createDataFrame(rows.asJava, schema)
  }

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  for (fmt <- Seq(ParquetFormat, OrcFormat, AvroFormat)) {
    test(s"${fmt.name}: 6 purchase records -> exactly 3 partitions, payload excludes partition col") {
      val out = tmp(s"e2e_${fmt.name}")
      PartitionedSink.write(purchase, out, SinkConfig(fmt, Seq("purchase_date")))
      val parts = PartitionCatalog.list(spark, out, 1)
      assert(parts.map(_("purchase_date")).sorted ==
        Seq("2009-01-01", "2009-01-02", "2009-01-03"))
      val back = PartitionedSink.readBack(spark, out, fmt)
      assert(back.count() == 6)
      assert(back.filter(col("purchase_date") === "2009-01-01").count() == 3)
      // payload files must not contain the partition column (T1)
      val dataOnly = spark.read.format(fmt.name)
        .load(s"$out/purchase_date=2009-01-02")
      assert(dataOnly.schema.fieldNames.toSeq == Seq("id", "first_name"))
    }
  }

  test("multi-field key nests directories in declared order") {
    val out = tmp("multi")
    val df = purchase.withColumn("region", concat(lit("r"), col("id") % 2))
      .select(col("id"), col("first_name"), col("purchase_date"),
        col("region").as("region"))
    PartitionedSink.write(df, out,
      SinkConfig(ParquetFormat, Seq("purchase_date", "region"), runtimeNullCheck = true))
    val parts = PartitionCatalog.list(spark, out, 2)
    assert(parts.nonEmpty)
    // layer order: purchase_date first, then region
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val level1 = fs.listStatus(new org.apache.hadoop.fs.Path(out))
      .filter(_.isDirectory).map(_.getPath.getName)
    assert(level1.forall(_.startsWith("purchase_date=")))
  }

  test("partition values are stringified and trimmed") {
    val out = tmp("trim")
    val df = purchase.withColumn("purchase_date", concat(lit("  "), col("purchase_date"), lit(" ")))
    PartitionedSink.write(df, out,
      SinkConfig(ParquetFormat, Seq("purchase_date"), runtimeNullCheck = true))
    val parts = PartitionCatalog.list(spark, out, 1).map(_("purchase_date"))
    assert(parts.forall(v => v == v.trim))
    assert(parts.toSet == Set("2009-01-01", "2009-01-02", "2009-01-03"))
  }

  test("non-string partition field is stringified (double -> string dir)") {
    val out = tmp("numpart")
    val df = purchase.withColumn("price", col("id") * 1.5)
    PartitionedSink.write(df, out,
      SinkConfig(ParquetFormat, Seq("price"), runtimeNullCheck = true))
    val parts = PartitionCatalog.list(spark, out, 1).map(_("price"))
    assert(parts.contains("1.5") && parts.contains("3.0"))
  }

  test("partition value containing '/' raises (reference throws; Spark alone would escape)") {
    val df = purchase.withColumn("purchase_date",
      when(col("id") === 1, lit("2009/01/02")).otherwise(col("purchase_date")))
    val e = intercept[Exception] {
      PartitionedSink.write(df, tmp("sep"),
        SinkConfig(ParquetFormat, Seq("purchase_date"), runtimeNullCheck = true))
    }
    assert(e.getMessage != null || e.isInstanceOf[SparkException])
  }

  test("nonexistent partition field rejected at validation") {
    intercept[GraftSchemaException] {
      PartitionedSink.validate(purchase,
        SinkConfig(ParquetFormat, Seq("no_such_field")))
    }
  }

  test("nullable partition field rejected in strict mode, allowed with runtime check") {
    val nullable = spark.createDataFrame(
      purchase.collectAsList(),
      StructType(purchase.schema.fields.map(_.copy(nullable = true))))
    intercept[GraftSchemaException] {
      PartitionedSink.validate(nullable, SinkConfig(ParquetFormat, Seq("purchase_date")))
    }
    PartitionedSink.validate(nullable,
      SinkConfig(ParquetFormat, Seq("purchase_date"), runtimeNullCheck = true))
  }

  test("null partition value raises at runtime under runtimeNullCheck") {
    val df = purchase.withColumn("purchase_date",
      when(col("id") === 1, lit(null.asInstanceOf[String])).otherwise(col("purchase_date")))
    intercept[Exception] {
      PartitionedSink.write(df, tmp("nullval"),
        SinkConfig(ParquetFormat, Seq("purchase_date"), runtimeNullCheck = true))
    }
  }

  test("schema with only partition fields rejected") {
    intercept[GraftSchemaException] {
      PartitionedSink.validate(purchase.select("purchase_date"),
        SinkConfig(ParquetFormat, Seq("purchase_date")))
    }
  }

  test("codec whitelists per format") {
    PartitionedSink.validate(purchase, SinkConfig(AvroFormat, Seq("purchase_date"), Some("deflate")))
    intercept[GraftSchemaException] {
      PartitionedSink.validate(purchase, SinkConfig(AvroFormat, Seq("purchase_date"), Some("gzip")))
    }
    intercept[GraftSchemaException] {
      PartitionedSink.validate(purchase, SinkConfig(ParquetFormat, Seq("purchase_date"), Some("zlib")))
    }
    intercept[GraftSchemaException] {
      PartitionedSink.validate(purchase,
        SinkConfig(OrcFormat, Seq("purchase_date"), Some("gzip"),
          orcOptions = Some(Validators.OrcOptions(262144, 67108864, 10000, true))))
    }
  }

  test("ORC codec requires all tuning options; indexStride >= 1000") {
    intercept[GraftSchemaException] {
      PartitionedSink.validate(purchase,
        SinkConfig(OrcFormat, Seq("purchase_date"), Some("snappy")))
    }
    intercept[GraftSchemaException] {
      PartitionedSink.validate(purchase,
        SinkConfig(OrcFormat, Seq("purchase_date"), Some("snappy"),
          orcOptions = Some(Validators.OrcOptions(262144, 67108864, 999, true))))
    }
    PartitionedSink.validate(purchase,
      SinkConfig(OrcFormat, Seq("purchase_date"), Some("snappy"),
        orcOptions = Some(Validators.OrcOptions(262144, 67108864, 1000, true))))
  }

  test("boolean and integer partition columns stringify to stable directory names") {
    val out = tmp("typedparts")
    val df = purchase
      .withColumn("flag", col("id") % 2 === 0)
      .withColumn("bucket", (col("id") % 3).cast("int"))
    PartitionedSink.write(df, out,
      SinkConfig(ParquetFormat, Seq("flag", "bucket"), runtimeNullCheck = true))
    val parts = PartitionCatalog.list(spark, out, 2)
    assert(parts.map(_("flag")).toSet == Set("true", "false"))
    assert(parts.map(_("bucket")).toSet == Set("0", "1", "2"))
    val back = PartitionedSink.readBack(spark, out)
    assert(back.schema("flag").dataType.typeName == "string") // stringified, inference off
    assert(back.count() == 6)
  }

  test("url-hostile partition values round-trip through escaping") {
    // NOTE: non-ASCII partition values are NOT covered here — Spark does
    // not URL-escape non-reserved unicode in partition dirs, and this
    // container's JVM filename charset (sun.jnu.encoding=ASCII) rejects
    // such paths. Deployments with unicode partition values need a UTF-8
    // filesystem locale; validate-or-escape upstream otherwise.
    val out = tmp("escapes")
    val df = purchase.limit(3).withColumn("purchase_date",
      when(col("id") === 1, lit("a b")) // space
        .when(col("id") === 2, lit("x=y")) // key-value separator
        .otherwise(lit("a:b"))) // colon (escaped on write)
    PartitionedSink.write(df, out,
      SinkConfig(ParquetFormat, Seq("purchase_date"), runtimeNullCheck = true))
    val vals = PartitionCatalog.list(spark, out, 1).map(_("purchase_date")).toSet
    assert(vals == Set("a b", "x=y", "a:b"))
    assert(PartitionedSink.readBack(spark, out)
      .select("purchase_date").distinct().count() == 3)
  }

  test("catalog listing skips hidden entries: a crashed swap's retired dir is no partition") {
    val out = tmp("hidden_entries")
    val cfgCreate = SinkConfig(ParquetFormat, Seq("purchase_date"), disposition = Create)
    PartitionedSink.write(purchase, out, cfgCreate)
    // the state a crash between FsOps.swapIn's final rename and its
    // cleanup leaves behind, plus a leftover staging tree
    val root = java.nio.file.Paths.get(out)
    Files.move(Files.createTempDirectory(root, "x"),
      root.resolve(".retired_purchase_date=2009-01-01"))
    Files.createDirectories(
      root.resolve("_compact_staging/purchase_date=2009-01-01"))
    assert(PartitionCatalog.list(spark, out, 1).toSet ==
      Set("2009-01-01", "2009-01-02", "2009-01-03")
        .map(v => Map("purchase_date" -> v)))
    // the CREATE pre-check runs (and passes) for a brand-new partition
    PartitionedSink.write(
      purchase.limit(1).withColumn("purchase_date", lit("2009-02-01")),
      out, cfgCreate)
    assert(PartitionedSink.readBack(spark, out).count() == 7)
    intercept[IllegalStateException] {
      PartitionedSink.write(purchase.limit(1), out, cfgCreate)
    }
    // a `_`-led FIELD is no hidden entry: Spark reads `_src=...` as a
    // partition directory, and so do the listing and the compaction
    val under = tmp("underscore_field")
    PartitionedSink.write(purchase.withColumnRenamed("purchase_date", "_src")
      .repartition(3), under, SinkConfig(ParquetFormat, Seq("_src")))
    assert(PartitionCatalog.list(spark, under, 1).map(_("_src")).toSet ==
      Set("2009-01-01", "2009-01-02", "2009-01-03"))
    PartitionedSink.compactInPlace(spark, under, Seq("_src"))
    assert(Files.walk(java.nio.file.Paths.get(under)).iterator().asScala
      .count(_.getFileName.toString.endsWith(".parquet")) == 3)
    assert(PartitionedSink.readBack(spark, under).count() == 6)
  }

  test("a partition field name that needs Hive escaping lists, drops and compacts by its own name") {
    val out = tmp("escaped_field")
    val df = purchase.withColumnRenamed("purchase_date", "a:b")
    PartitionedSink.write(df.repartition(3), out,
      SinkConfig(ParquetFormat, Seq("a:b"), runtimeNullCheck = true))
    assert(new java.io.File(out, "a%3Ab=2009-01-01").isDirectory,
      "Spark escapes the field name in the directory")
    assert(PartitionCatalog.list(spark, out, 1).map(_("a:b")).toSet ==
      Set("2009-01-01", "2009-01-02", "2009-01-03"))
    PartitionedSink.compactInPlace(spark, out, Seq("a:b"))
    val files = Files.walk(java.nio.file.Paths.get(out)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
    assert(files.size == 3, s"one file per partition after compaction: $files")
    assert(PartitionedSink.dropPartitionsWhere(spark, out, Seq("a:b"),
      _("a:b") == "2009-01-01") == Seq(Map("a:b" -> "2009-01-01")))
    assert(!new java.io.File(out, "a%3Ab=2009-01-01").exists())
    assert(PartitionedSink.readBack(spark, out).count() == 3)
  }

  test("CREATE disposition fails on existing partition; CREATE_OR_APPEND appends") {
    val out = tmp("disposition")
    val cfgCreate = SinkConfig(ParquetFormat, Seq("purchase_date"), disposition = Create)
    PartitionedSink.write(purchase, out, cfgCreate)
    intercept[IllegalStateException] {
      PartitionedSink.write(purchase, out, cfgCreate)
    }
    PartitionedSink.write(purchase, out,
      SinkConfig(ParquetFormat, Seq("purchase_date"), disposition = CreateOrAppend))
    assert(PartitionedSink.readBack(spark, out).count() == 12)
    assert(PartitionCatalog.list(spark, out, 1).size == 3)
  }
}

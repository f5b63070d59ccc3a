package graft.sink

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}

/** The driver-side metadata reader must return what
  * `spark.read.parquet(...).collect()` returned at every call site it
  * replaced — for files [[LocalParquet.write]] produced and for
  * Spark-written `coalesce(1)` parts alike — and refuse what it cannot
  * decode by naming the column. */
class LocalParquetSpec extends SparkSpec {

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(tag).toString

  private def sparkWritten(df: DataFrame, tag: String): String = {
    val dir = s"${tmp(tag)}/part"
    df.coalesce(1).write.parquet(dir)
    dir
  }

  private def sparkRows(dir: String): Seq[Row] =
    spark.read.parquet(dir).collect().toSeq

  test("write→read round trip of every writer type, with nulls") {
    import spark.implicits._
    val df = Seq(
      (1L, Option("a"), Option(Array[Byte](1, 2)), Option(7L), Option(3),
        Option(1.5), Option(2.5f), Option(true)),
      (2L, None, None, None, None, None, None, None),
      (3L, Option(""), Option(Array.empty[Byte]), Option(-1L),
        Option(Int.MinValue), Option(Double.NaN), Option(-0.5f),
        Option(false)))
      .toDF("k", "s", "b", "l", "i", "d", "f", "z")
    assert(LocalParquet.supported(df))
    val dir = tmp("lp_roundtrip")
    LocalParquet.write(df, dir)
    val rows = LocalParquet.read(spark, dir)
    assert(rows == df.collect().toSeq)
    assert(rows == sparkRows(dir))
    // the footer schema comes back, required columns included
    assert(rows.head.schema.map(f => (f.name, f.dataType, f.nullable)) ==
      df.schema.map(f => (f.name, f.dataType, f.nullable)))
    // an empty part reads as no rows
    val empty = tmp("lp_empty")
    LocalParquet.write(Seq.empty[(Long, String)].toDF("a", "b"), empty)
    assert(LocalParquet.read(spark, empty).isEmpty)
  }

  test("Spark-written parts of every call site's schema read as spark.read.parquet collects them") {
    import spark.implicits._
    val parts = Seq(
      // bloom sidecar (rel, col, filter)
      Seq(("f1.parquet", "k", Array[Byte](0, 1, 2)),
        ("f2.parquet", "k", Array[Byte](9)))
        .toDF("rel", "col", "filter"),
      // seen ledger (batch_id, fp, pos), and its legacy id-only form
      Seq((9L, 90L, 2L), (7L, 70L, 0L), (8L, 80L, 1L))
        .toDF("batch_id", "fp", "pos"),
      Seq(5L, 6L).toDF("batch_id"),
      // IVF centroids (cell, coefs) and PQ codebook (c, coefs, m)
      Seq((1, Seq(0.5, -1.0)), (0, Seq(0.25, 2.0))).toDF("cell", "coefs"),
      Seq((0, Seq(1.0, 2.0, 3.0), 4), (1, Seq.empty[Double], 4))
        .toDF("c", "coefs", "m"),
      // nullable array elements and a null array
      Seq((0, Option(Seq(Option(1.0), None))), (1, None))
        .toDF("cell", "coefs"))
    parts.zipWithIndex.foreach { case (df, i) =>
      val dir = sparkWritten(df, s"lp_spark$i")
      val names = new java.io.File(dir).list().toSeq
      assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")),
        s"the Spark write should leave hidden entries to skip: $names")
      assert(LocalParquet.read(spark, dir) == sparkRows(dir), df.schema)
    }
  }

  test("hidden entries are skipped; a file path reads as itself") {
    import spark.implicits._
    val dir = tmp("lp_hidden")
    val df = Seq(("a", 1L), ("b", 2L)).toDF("s", "l")
    LocalParquet.write(df, dir)
    // not parquet: reading either would throw
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_SUCCESS"), "x".getBytes)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, ".junk.parquet.crc"), "x".getBytes)
    assert(LocalParquet.read(spark, dir) == df.collect().toSeq)
    val file = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).head.toString
    assert(LocalParquet.read(spark, file, file) ==
      df.collect().toSeq ++ df.collect().toSeq)
  }

  test("an unsupported column type is rejected by name") {
    import spark.implicits._
    val ts = sparkWritten(
      Seq((1L, java.sql.Timestamp.valueOf("2024-01-02 03:04:05")))
        .toDF("id", "ts_col"), "lp_ts")
    val ex = intercept[UnsupportedOperationException](
      LocalParquet.read(spark, ts))
    assert(ex.getMessage.contains("'ts_col'"), ex.getMessage)
    val longs = sparkWritten(Seq((1, Seq(1L, 2L))).toDF("id", "ls"), "lp_ls")
    val ex2 = intercept[UnsupportedOperationException](
      LocalParquet.read(spark, longs))
    assert(ex2.getMessage.contains("'ls'"), ex2.getMessage)
  }
}

package graft.tools

import graft.Tables
import graft.ops.Dedup
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Dev: stage-by-stage timing of the prefix-filtered ngram join at sf0.1. */
object NgramProfile {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.build(8)
    spark.sparkContext.setLogLevel("ERROR")
    val docs = Tables(spark, "/root/testdata/sf0.1", "documents")
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"${(System.nanoTime() - t0) / 1e9}%8.2f  $label"); r
    }
    // warm up the session (parquet listing, codegen, JIT) before timing
    time("warmup count")(docs.count())
    time("warmup count 2")(docs.select(col("doc_id")).count())
    val n = 3; val threshold = 0.8
    val grams = docs
      .select(col("doc_id"), Dedup.wordNgrams(col("text"), n).as("g"))
      .filter(size(split(Dedup.normalize(col("text")), " ")) >= n)
      .withColumn("n_grams", size(col("g")))
      .cache()
    time("materialize grams")(grams.count())
    val posted = grams.select(col("doc_id"), col("n_grams"), explode(col("g")).as("gram"))
    val withDf = posted.withColumn("__df",
      count(lit(1)).over(Window.partitionBy(col("gram"))))
    val prefixes = withDf
      .withColumn("__rank", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("__df").asc, col("gram").asc)))
      .filter(col("__rank") <= floor(lit(1.0 - threshold) * col("n_grams")).cast("int") + 1)
      .select(col("gram"), col("doc_id")).cache()
    time("prefixes")(println("  prefix rows: " + prefixes.count()))
    val cands = prefixes.as("a").join(prefixes.as("b"), Seq("gram"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct().cache()
    time("candidates")(println("  cand pairs: " + cands.count()))
    val ga = grams.select(col("doc_id").as("a_id"), col("g").as("ga"), col("n_grams").as("la"))
    val gb = grams.select(col("doc_id").as("b_id"), col("g").as("gb"), col("n_grams").as("lb"))
    val res = cands.join(ga, Seq("a_id")).join(gb, Seq("b_id"))
      .withColumn("common", size(array_intersect(col("ga"), col("gb"))).cast("long"))
      .withColumn("jac", col("common").cast("double") / (col("la") + col("lb") - col("common")))
      .filter(col("jac") >= threshold)
    time("verify")(println("  result pairs: " + res.count()))
    spark.stop()
  }
}

package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/**
 * The one bridge into Spark's `private[sql]` surface — the established
 * external-connector shim (Delta's SQL extensions and the spark-redshift
 * lineage ship the same sub-package trick). Its entry points:
 *
 *  - an analyzed `LogicalPlan` (a MERGE source) back into a DataFrame,
 *  - catalyst `Expression` ↔ [[Column]] (Spark 4 moved these behind the
 *    classic ColumnNode API): the native `graft.functions` expressions
 *    surface this way, and a DELETE/UPDATE condition (attributes
 *    unresolved back to bare names) keeps its literals INTERNAL, so a
 *    timestamp bound is never re-parsed from a session-tz string (the
 *    DST-ambiguity rule the Bloom probe enforces),
 *  - temp SQL function registration, and streaming ↔ batch frame
 *    re-wrapping for the v1 streaming source and sink.
 *
 * Every other graft surface stays on public Spark API; a new need for
 * Spark internals adds an entry point here.
 */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Register a temp SQL function backed by a Catalyst expression builder
    * on an existing session (`sessionState` is `private[sql]`). */
  def registerFunction(
      spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** A computed batch as a STREAMING-flagged frame — what a v1
    * streaming `Source.getBatch` must hand the micro-batch engine (the
    * Kafka-v1 pattern: the batch's own plan is already optimized; the
    * engine stacks the query's streaming operators on its rows). */
  def asStreamingFrame(spark: SparkSession, batch: DataFrame): DataFrame = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    cs.internalCreateDataFrame(
      batch.queryExecution.toRdd, batch.schema, isStreaming = true)
  }

  /** The inverse, for a v1 streaming `Sink.addBatch`: the engine hands a
    * STREAMING-flagged micro-batch frame that batch writers reject
    * ("must be executed with writeStream.start()") — re-wrap its
    * executed rows as an ordinary batch frame (Spark's own
    * ForeachBatchSink does exactly this). */
  def asBatchFrame(spark: SparkSession, data: DataFrame): DataFrame = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    cs.internalCreateDataFrame(
      data.queryExecution.toRdd, data.schema, isStreaming = false)
  }
}

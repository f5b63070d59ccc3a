package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.{GraftSqlBridge => Bridge}
import org.apache.spark.sql.types._

/**
 * Log-bucketed rank histogram over LONG values — the quantile-lane
 * sibling of [[MgBuffer]]'s frequent-items sketch. Buckets follow the
 * DDSketch layout (Masson, Rim & Lee, "DDSketch: a fast and
 * fully-mergeable quantile sketch with relative-error guarantees",
 * VLDB'19): positive v lands in bucket `ceil(ln v / ln γ)` (bucket i
 * covers `(γ^(i-1), γ^i]`), zero and negatives get a mirrored encoding
 * so that ascending encoded bucket = ascending value. Two properties
 * make it the right distributed shape:
 *
 *  - **Bucket counts are EXACT** — the sketch loses value resolution
 *    (within a γ-relative bucket), never count accuracy. The bucket
 *    holding any target rank is therefore certain, which is what lets
 *    [[graft.ops.Relational.sketchQuantile]] run the
 *    sketch-proposes / exact-verifies two-pass and return the TRUE
 *    discrete quantile (the [[graft.ops.TextAnalysis.heavyHitters]]
 *    discipline, rank edition).
 *  - **Merge is bucket-wise addition** — commutative and associative, so
 *    the result is identical under any partial-aggregation merge order
 *    (unlike KLL's coin-flip compactions), and partial buffers combine
 *    map-side before the shuffle.
 *
 * Memory: bucket count is bounded by `log_γ(Long.MaxValue)` per sign
 * (≈ 2 200 buckets at γ = 1.02) regardless of row count — O(1/ln γ) per
 * task and per shuffled partial, versus the O(distinct values) hash map
 * Spark's exact `percentile` builds per group.
 */
final class LogHistogram(val gamma: Double) {
  require(gamma > 1.0, "gamma must exceed 1")
  val counts = new java.util.HashMap[Int, Long]()
  private val lnGamma = math.log(gamma)

  /** Order-preserving bucket encoding: negatives < 0 (zero) < positives.
    * Positive magnitude index is shifted by +1 so the long 1
    * (`ceil(ln 1 / ln γ) = 0`) cannot collide with the zero bucket. */
  def enc(v: Long): Int =
    if (v == 0L) 0
    else {
      // abs in DOUBLE space: Long.MinValue has no long-space negation
      val m = (math.ceil(math.log(math.abs(v.toDouble)) / lnGamma)).toInt + 1
      if (v > 0L) m else -m
    }

  def add(v: Long, w: Long = 1L): Unit = {
    val e = enc(v)
    val cur = counts.get(e)
    counts.put(e, cur + w)
  }

  def merge(other: LogHistogram): Unit = {
    val it = other.counts.entrySet().iterator()
    while (it.hasNext) {
      val x = it.next()
      val cur = counts.get(x.getKey)
      counts.put(x.getKey, cur + x.getValue)
    }
  }

  /** (bucket, count) ascending by bucket — ascending VALUE order, the
    * deterministic output the rank scan consumes. */
  def sorted: Array[(Int, Long)] = {
    val out = new Array[(Int, Long)](counts.size)
    var i = 0
    val it = counts.entrySet().iterator()
    while (it.hasNext) { val e = it.next(); out(i) = (e.getKey, e.getValue); i += 1 }
    out.sortBy(_._1)
  }
}

/**
 * `dd_sketch(value, γ)` / `dd_sketch_weighted(value, weight, γ)` — see
 * [[LogHistogram]]. Returns `array<struct<bucket int, cnt bigint>>`
 * ascending by bucket; in the weighted form each bucket count is the SUM
 * OF WEIGHTS of its values (token-mass, quantity-mass — the rank
 * universe training mixes actually care about). Null values, and rows
 * with null or non-positive weight, are skipped (callers derive the
 * total from the bucket sum).
 */
case class DdSketchAgg(
    valueExpr: Expression, gamma: Double,
    weightExpr: Option[Expression] = None,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[LogHistogram] with ImplicitCastInputTypes {

  require(gamma > 1.0, "gamma must exceed 1")

  override def children: Seq[Expression] = valueExpr +: weightExpr.toSeq
  override def inputTypes = children.map(_ => LongType)
  override def nullable: Boolean = false
  override def prettyName: String =
    if (weightExpr.isDefined) "dd_sketch_weighted" else "dd_sketch"
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("bucket", IntegerType, nullable = false),
    StructField("cnt", LongType, nullable = false))), containsNull = false)

  override def createAggregationBuffer(): LogHistogram = new LogHistogram(gamma)

  override def update(b: LogHistogram, input: InternalRow): LogHistogram = {
    val v = valueExpr.eval(input)
    if (v != null) weightExpr match {
      case None => b.add(v.asInstanceOf[Long])
      case Some(we) =>
        val w = we.eval(input)
        if (w != null && w.asInstanceOf[Long] > 0L)
          b.add(v.asInstanceOf[Long], w.asInstanceOf[Long])
    }
    b
  }

  override def merge(b: LogHistogram, other: LogHistogram): LogHistogram = {
    b.merge(other); b
  }

  override def eval(b: LogHistogram): Any =
    new GenericArrayData(b.sorted.map { case (e, c) =>
      InternalRow(e, c)
    }.asInstanceOf[Array[Any]])

  override def serialize(b: LogHistogram): Array[Byte] = {
    val entries = b.sorted
    val buf = java.nio.ByteBuffer.allocate(12 + entries.length * 12)
    buf.putDouble(b.gamma).putInt(entries.length)
    entries.foreach { case (e, c) => buf.putInt(e).putLong(c) }
    buf.array()
  }

  override def deserialize(bytes: Array[Byte]): LogHistogram = {
    val buf = java.nio.ByteBuffer.wrap(bytes)
    val b = new LogHistogram(buf.getDouble())
    val n = buf.getInt()
    var i = 0
    while (i < n) { b.counts.put(buf.getInt(), buf.getLong()); i += 1 }
    b
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): DdSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): DdSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): DdSketchAgg =
    copy(valueExpr = newChildren(0),
      weightExpr = if (newChildren.length > 1) Some(newChildren(1)) else None)
}

object dd {
  def dd_sketch(value: Column, gamma: Double): Column =
    Bridge.column(
      DdSketchAgg(Bridge.expression(value), gamma).toAggregateExpression())

  def dd_sketch_weighted(value: Column, weight: Column, gamma: Double): Column =
    Bridge.column(DdSketchAgg(Bridge.expression(value), gamma,
      Some(Bridge.expression(weight))).toAggregateExpression())
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.{GraftSqlBridge => Bridge}
import org.apache.spark.sql.types._

/**
 * Bounded top-k-per-key aggregation buffer: a fixed-size binary min-heap
 * under the ordering (score DESC, id ASC) whose root is the WORST kept
 * entry — an incoming row either beats the root (replace + sift) or is
 * discarded in O(1). Memory is O(k) per key per task regardless of input
 * size, and partial buffers combine map-side, so the shuffle carries at
 * most k entries per key per partition.
 *
 * Contrast the window formulation (`row_number().over(partitionBy(key)
 * .orderBy(...)) <= k`): that sorts EVERY candidate row within each key
 * partition and shuffles all of them first — at 10⁹ candidates per key
 * the sort is the job; with the heap the job is a streaming scan. The
 * result is EXACTLY the window's top-k (same total order, same
 * tiebreak), which keeps the operator oracle-checkable.
 */
final class TopKBuffer(val k: Int) {
  var size: Int = 0
  val scores: Array[Double] = new Array[Double](k)
  val ids: Array[Long] = new Array[Long](k)

  /** true if (sa, ia) ranks BETTER than (sb, ib): higher score, then
    * smaller id. Scores compare under `java.lang.Double.compare`'s TOTAL
    * order, which matches Spark's SQL ordering for doubles (NaN greater
    * than every non-NaN, so NaN ranks FIRST under `desc` — exactly what
    * the window formulation does); a naive `>` would silently drop NaN
    * rows once the heap is full and break the heap invariant when one
    * slipped in during the grow phase. -0.0 is normalized to 0.0 in
    * [[add]] (Spark orders them equal; `Double.compare` does not). */
  @inline private def better(sa: Double, ia: Long, sb: Double, ib: Long): Boolean = {
    val c = java.lang.Double.compare(sa, sb)
    c > 0 || (c == 0 && ia < ib)
  }

  def add(score0: Double, id: Long): Unit = {
    val score = if (score0 == 0.0) 0.0 else score0 // -0.0 → 0.0, like SQL
    if (size < k) {
      // grow phase: insert at the end, sift up toward the worst-at-root
      var i = size
      scores(i) = score; ids(i) = id
      size += 1
      while (i > 0 && better(scores((i - 1) / 2), ids((i - 1) / 2), scores(i), ids(i))) {
        swap(i, (i - 1) / 2); i = (i - 1) / 2
      }
    } else if (better(score, id, scores(0), ids(0))) {
      scores(0) = score; ids(0) = id
      siftDown(0)
    }
  }

  private def swap(a: Int, b: Int): Unit = {
    val s = scores(a); scores(a) = scores(b); scores(b) = s
    val i = ids(a); ids(a) = ids(b); ids(b) = i
  }

  private def siftDown(start: Int): Unit = {
    var i = start
    var done = false
    while (!done) {
      val l = 2 * i + 1
      val r = 2 * i + 2
      var worst = i
      if (l < size && better(scores(worst), ids(worst), scores(l), ids(l))) worst = l
      if (r < size && better(scores(worst), ids(worst), scores(r), ids(r))) worst = r
      if (worst == i) done = true
      else { swap(i, worst); i = worst }
    }
  }

  def merge(other: TopKBuffer): Unit = {
    var i = 0
    while (i < other.size) { add(other.scores(i), other.ids(i)); i += 1 }
  }

  /** Entries best-first: (score desc, id asc). */
  def sortedBest: Array[(Double, Long)] = {
    val out = Array.tabulate(size)(i => (scores(i), ids(i)))
    out.sortWith { case ((sa, ia), (sb, ib)) => better(sa, ia, sb, ib) }
  }
}

/**
 * `top_k_by_score(score, id, k)` — see [[TopKBuffer]]. Returns
 * `array<struct<score double, id bigint>>` best-first; explode with
 * `posexplode` to recover ranks. Null score or id rows are skipped
 * (window `row_number` formulations order nulls in; callers filter
 * nulls first — asserted by the oracle equivalence). NaN scores are
 * KEPT and rank first under the descending order, matching Spark's
 * SQL double ordering (NaN > every non-NaN) — a zero-norm vector's
 * NaN cosine surfaces in the heap exactly where the window would
 * put it.
 */
case class TopKByScore(
    scoreExpr: Expression, idExpr: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuffer] with ImplicitCastInputTypes {

  require(k > 0, "k must be positive")

  override def children: Seq[Expression] = Seq(scoreExpr, idExpr)
  // analyzer-inserted casts: SQL callers passing FLOAT scores / INT ids get
  // a plan-time cast, not an executor ClassCastException
  override def inputTypes = Seq(DoubleType, LongType)
  override def nullable: Boolean = false
  override def prettyName: String = "top_k_by_score"
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("score", DoubleType, nullable = false),
    StructField("id", LongType, nullable = false))), containsNull = false)

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k)

  override def update(b: TopKBuffer, input: InternalRow): TopKBuffer = {
    val s = scoreExpr.eval(input)
    val id = idExpr.eval(input)
    if (s != null && id != null)
      b.add(s.asInstanceOf[Double], id.asInstanceOf[Long])
    b
  }

  override def merge(b: TopKBuffer, other: TopKBuffer): TopKBuffer = {
    b.merge(other); b
  }

  override def eval(b: TopKBuffer): Any =
    new GenericArrayData(b.sortedBest.map { case (s, id) =>
      InternalRow(s, id)
    }.asInstanceOf[Array[Any]])

  override def serialize(b: TopKBuffer): Array[Byte] = {
    val buf = java.nio.ByteBuffer.allocate(8 + b.size * 16)
    buf.putInt(b.k).putInt(b.size)
    var i = 0
    while (i < b.size) { buf.putDouble(b.scores(i)).putLong(b.ids(i)); i += 1 }
    buf.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val buf = java.nio.ByteBuffer.wrap(bytes)
    val b = new TopKBuffer(buf.getInt())
    val n = buf.getInt()
    var i = 0
    while (i < n) { b.add(buf.getDouble(), buf.getLong()); i += 1 }
    b
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByScore =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKByScore =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKByScore =
    copy(scoreExpr = newChildren(0), idExpr = newChildren(1))
}

object topk {
  def top_k_by_score(score: Column, id: Column, k: Int): Column =
    Bridge.column(
      TopKByScore(Bridge.expression(score), Bridge.expression(id), k)
        .toAggregateExpression())
}

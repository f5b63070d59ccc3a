package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.{GraftSqlBridge => Bridge}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Bounded Misra–Gries frequent-items buffer: at most `k` counters over a
 * stream of items. The classic guarantee — every item whose true count
 * exceeds `n/(k+1)` is GUARANTEED a surviving counter, and each stored
 * count under-estimates the true count by at most `n/(k+1)` — survives
 * distributed merging (Agarwal et al., "Mergeable Summaries", PODS'12):
 * partial buffers combine by counter addition followed by subtracting the
 * (k+1)-th largest combined count from every counter and dropping the
 * non-positive ones.
 *
 * Memory is O(k) per task regardless of input size, and the decrement
 * event (full buffer, unseen item) removes k+1 units of total count, so
 * its O(k) cost amortizes to O(1) per update. Contrast the exact
 * formulation (`groupBy(token).count()`): that shuffles EVERY distinct
 * key; the sketch shuffles at most k counters per partition, and the
 * caller re-counts only the ≤ k candidates exactly — the
 * sketch-proposes / exact-verifies shape that keeps the operator
 * oracle-checkable ([[graft.ops.TextAnalysis.heavyHitters]]).
 */
final class MgBuffer(val k: Int) {
  val counts = new java.util.HashMap[UTF8String, Long](k * 2)

  def add(item: UTF8String, weight: Long = 1L): Unit = {
    val cur = counts.get(item)
    if (cur != 0L) counts.put(item, cur + weight)
    else if (counts.size < k) counts.put(item.clone(), weight)
    else {
      // decrement-all by the incoming weight (capped at the current
      // minimum so no counter goes negative in the weighted case), drop
      // zeros; any remaining incoming weight re-enters as a fresh counter
      var min = Long.MaxValue
      val it0 = counts.values().iterator()
      while (it0.hasNext) { val v = it0.next(); if (v < min) min = v }
      val dec = math.min(weight, min)
      val it = counts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val nv = e.getValue - dec
        if (nv <= 0L) it.remove() else e.setValue(nv)
      }
      if (weight > dec) add(item, weight - dec)
    }
  }

  /** Mergeable-summaries combine: add `other`'s counters in, then if more
    * than k survive, subtract the (k+1)-th largest count from every
    * counter and drop the non-positives — exactly k or fewer remain and
    * the n/(k+1) error bound still holds for the COMBINED stream. */
  def merge(other: MgBuffer): Unit = {
    val it = other.counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val cur = counts.get(e.getKey)
      if (cur != 0L) counts.put(e.getKey, cur + e.getValue)
      else counts.put(e.getKey.clone(), e.getValue)
    }
    if (counts.size > k) {
      val vals = new Array[Long](counts.size)
      var i = 0
      val vit = counts.values().iterator()
      while (vit.hasNext) { vals(i) = vit.next(); i += 1 }
      java.util.Arrays.sort(vals)
      val cut = vals(vals.length - k - 1) // (k+1)-th largest
      val eit = counts.entrySet().iterator()
      while (eit.hasNext) {
        val e = eit.next()
        val nv = e.getValue - cut
        if (nv <= 0L) eit.remove() else e.setValue(nv)
      }
    }
  }

  /** Surviving (item, lower-bound count) pairs, count desc then item asc —
    * a deterministic order for the bounded output. */
  def sorted: Array[(UTF8String, Long)] = {
    val out = new Array[(UTF8String, Long)](counts.size)
    var i = 0
    val it = counts.entrySet().iterator()
    while (it.hasNext) { val e = it.next(); out(i) = (e.getKey, e.getValue); i += 1 }
    out.sortWith { case ((ia, ca), (ib, cb)) =>
      ca > cb || (ca == cb && ia.compareTo(ib) < 0) }
  }
}

/**
 * `misra_gries(item, k)` — see [[MgBuffer]]. Returns
 * `array<struct<item string, weight bigint>>`, the surviving counters
 * (count desc, item asc). The weights are LOWER BOUNDS (true count minus
 * at most n/(k+1)) — callers wanting exact figures re-count the ≤ k
 * candidates with an exact aggregate, which is the intended use.
 * Null items are skipped.
 */
case class MisraGriesSketch(
    itemExpr: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[MgBuffer] with ImplicitCastInputTypes {

  require(k > 0, "k must be positive")

  override def children: Seq[Expression] = Seq(itemExpr)
  override def inputTypes = Seq(StringType)
  override def nullable: Boolean = false
  override def prettyName: String = "misra_gries"
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("item", StringType, nullable = false),
    StructField("weight", LongType, nullable = false))), containsNull = false)

  override def createAggregationBuffer(): MgBuffer = new MgBuffer(k)

  override def update(b: MgBuffer, input: InternalRow): MgBuffer = {
    val v = itemExpr.eval(input)
    if (v != null) b.add(v.asInstanceOf[UTF8String])
    b
  }

  override def merge(b: MgBuffer, other: MgBuffer): MgBuffer = {
    b.merge(other); b
  }

  override def eval(b: MgBuffer): Any =
    new GenericArrayData(b.sorted.map { case (item, w) =>
      InternalRow(item, w)
    }.asInstanceOf[Array[Any]])

  override def serialize(b: MgBuffer): Array[Byte] = {
    val entries = b.sorted
    var bytes = 12
    entries.foreach { case (item, _) => bytes += 12 + item.numBytes() }
    val buf = java.nio.ByteBuffer.allocate(bytes)
    buf.putInt(b.k).putInt(entries.length)
    entries.foreach { case (item, w) =>
      val ib = item.getBytes
      buf.putInt(ib.length); buf.put(ib); buf.putLong(w)
    }
    buf.array()
  }

  override def deserialize(bytes: Array[Byte]): MgBuffer = {
    val buf = java.nio.ByteBuffer.wrap(bytes)
    val b = new MgBuffer(buf.getInt())
    val n = buf.getInt()
    var i = 0
    while (i < n) {
      val len = buf.getInt()
      val ib = new Array[Byte](len)
      buf.get(ib)
      b.counts.put(UTF8String.fromBytes(ib), buf.getLong())
      i += 1
    }
    b
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGriesSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGriesSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MisraGriesSketch =
    copy(itemExpr = newChildren(0))
}

object mg {
  def misra_gries(item: Column, k: Int): Column =
    Bridge.column(
      MisraGriesSketch(Bridge.expression(item), k).toAggregateExpression())
}

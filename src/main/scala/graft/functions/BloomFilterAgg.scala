package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.graft.{GraftSqlBridge => Bridge}
import org.apache.spark.sql.types._

/**
 * Fixed-size Bloom filter buffer: `bits` bit slots (a power of two),
 * `k` probes per item via double hashing — h_i = h1 + i·h2 (Kirsch &
 * Mitzenmacher, "Less Hashing, Same Performance": two independent
 * 64-bit hashes simulate k without loss). Partial buffers from
 * different tasks MERGE by bitwise OR — the filter is a commutative
 * monoid, so map-side partial aggregation applies untouched.
 *
 * Capacity math (classic fpp bound): at k=6 and bits/n ≈ 9.6 the false
 * positive rate is ~1%. The default 2^20 bits (128 KiB per file per
 * column — sidecar-file territory, never a text manifest's) holds
 * ~100k distinct values at 1%, still prunes usefully at ~1M (fpp ≈
 * 25%), and degrades gracefully past that — an over-full filter only
 * prunes LESS, never wrongly (a Bloom "no" is definite, a "yes" is a
 * maybe; consumers treat "yes" as keep).
 */
final class BloomBuf(val bits: Int, val k: Int) {
  require(bits > 0 && (bits & (bits - 1)) == 0, "bits must be a power of two")
  val words = new Array[Long]((bits + 63) / 64)

  private def set(pos: Int): Unit =
    words(pos >>> 6) |= (1L << (pos & 63))
  private def get(pos: Int): Boolean =
    (words(pos >>> 6) & (1L << (pos & 63))) != 0L

  def add(h1: Long, h2: Long): Unit = {
    var i = 0
    while (i < k) {
      set((((h1 + i * h2) % bits + bits) % bits).toInt)
      i += 1
    }
  }

  def mightContain(h1: Long, h2: Long): Boolean = {
    var i = 0
    while (i < k) {
      if (!get((((h1 + i * h2) % bits + bits) % bits).toInt)) return false
      i += 1
    }
    true
  }

  def merge(other: BloomBuf): Unit = {
    require(other.bits == bits && other.k == k,
      "cannot merge Bloom buffers with different geometry")
    var i = 0
    while (i < words.length) { words(i) |= other.words(i); i += 1 }
  }

  /** Self-describing byte image: bits, k, then the packed words —
    * exactly what the snapshot manifest sidecars persist. */
  def toBytes: Array[Byte] = {
    val buf = java.nio.ByteBuffer.allocate(8 + words.length * 8)
    buf.putInt(bits).putInt(k)
    words.foreach(buf.putLong)
    buf.array()
  }
}

object BloomBuf {
  val DefaultBits: Int = 1 << 20
  val DefaultK: Int = 6

  def fromBytes(bytes: Array[Byte]): BloomBuf = {
    val buf = java.nio.ByteBuffer.wrap(bytes)
    val b = new BloomBuf(buf.getInt(), buf.getInt())
    var i = 0
    while (i < b.words.length) { b.words(i) = buf.getLong(); i += 1 }
    b
  }

  /** The two independent hashes of one INTERNAL (Catalyst) value under
    * a data type — shared by the write-side aggregate and the read-side
    * membership probe, which must agree bit for bit. */
  def hashes(value: Any, dt: DataType): (Long, Long) =
    (XxHash64Function.hash(value, dt, 42L),
      XxHash64Function.hash(value, dt, 0x9747b28cL))

  /** Read-side membership probe against a persisted filter image. */
  def mightContain(bytes: Array[Byte], value: Any, dt: DataType): Boolean = {
    val (h1, h2) = hashes(value, dt)
    fromBytes(bytes).mightContain(h1, h2)
  }
}

/**
 * `bloom_sketch(col, bits, k)` — aggregates the column's non-null
 * values into a [[BloomBuf]] byte image (BinaryType). Grouped by
 * `input_file_name()` over a staged write, this is the per-file
 * point-lookup index the snapshot manifests reference
 * ([[graft.sink.Snapshots]] `bloomColumns`): equality prunes consult it
 * where min/max ranges cannot separate interleaved keys.
 */
case class BloomSketch(
    child: Expression, bits: Int = BloomBuf.DefaultBits,
    k: Int = BloomBuf.DefaultK,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BloomBuf] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def prettyName: String = "bloom_sketch"
  override def dataType: DataType = BinaryType

  override def createAggregationBuffer(): BloomBuf = new BloomBuf(bits, k)

  override def update(b: BloomBuf, input: InternalRow): BloomBuf = {
    val v = child.eval(input)
    if (v != null) {
      val (h1, h2) = BloomBuf.hashes(v, child.dataType)
      b.add(h1, h2)
    }
    b
  }

  override def merge(b: BloomBuf, other: BloomBuf): BloomBuf = {
    b.merge(other); b
  }

  override def eval(b: BloomBuf): Any = b.toBytes

  override def serialize(b: BloomBuf): Array[Byte] = b.toBytes
  override def deserialize(bytes: Array[Byte]): BloomBuf =
    BloomBuf.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BloomSketch =
    copy(child = newChildren(0))
}

object bloom {
  def bloom_sketch(col: Column,
      bits: Int = BloomBuf.DefaultBits, k: Int = BloomBuf.DefaultK): Column =
    Bridge.column(
      BloomSketch(Bridge.expression(col), bits, k).toAggregateExpression())
}

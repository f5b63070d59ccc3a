package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.{GraftSqlBridge => Bridge}
import org.apache.spark.sql.types._

/**
 * `vector_moments(vec, dim)` — one-pass accumulation of the second-moment
 * statistics a PCA/covariance fit needs, over an `array<double>` column:
 *
 *   buffer = [ n,  Σx₀ … Σx_{d−1},  Σx₀x₀ Σx₀x₁ … (upper triangle) ]
 *
 * i.e. `1 + d + d(d+1)/2` doubles. The buffer is a flat mergeable vector,
 * so Spark runs it as a partial aggregate: every task folds its rows
 * locally and the shuffle carries ONE buffer per task — at 100 TB the
 * covariance of a billion embeddings moves `O(d²)` doubles per task,
 * never a row. (Contrast the declarative `posexplode × posexplode`
 * formulation: a d² row blow-up PER INPUT ROW before the groupBy.)
 *
 * Rows whose array is null or of the wrong length are skipped (same
 * null discipline as [[TopKByScore]]).
 */
case class VectorMoments(
    child: Expression, dim: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Double]] with ImplicitCastInputTypes {

  require(dim > 0, "dim must be positive")
  private val bufLen = 1 + dim + dim * (dim + 1) / 2

  override def children: Seq[Expression] = Seq(child)
  override def inputTypes = Seq(ArrayType(DoubleType))
  override def nullable: Boolean = false
  override def prettyName: String = "vector_moments"
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def createAggregationBuffer(): Array[Double] = new Array[Double](bufLen)

  override def update(b: Array[Double], input: InternalRow): Array[Double] = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      if (arr.numElements() == dim) {
        b(0) += 1.0
        var i = 0
        var tri = 1 + dim
        while (i < dim) {
          val xi = arr.getDouble(i)
          b(1 + i) += xi
          var j = i
          while (j < dim) {
            b(tri) += xi * arr.getDouble(j)
            tri += 1
            j += 1
          }
          i += 1
        }
      }
    }
    b
  }

  override def merge(b: Array[Double], other: Array[Double]): Array[Double] = {
    var i = 0
    while (i < bufLen) { b(i) += other(i); i += 1 }
    b
  }

  override def eval(b: Array[Double]): Any = new GenericArrayData(b)

  override def serialize(b: Array[Double]): Array[Byte] = {
    val buf = java.nio.ByteBuffer.allocate(b.length * 8)
    var i = 0
    while (i < b.length) { buf.putDouble(b(i)); i += 1 }
    buf.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Double] = {
    val buf = java.nio.ByteBuffer.wrap(bytes)
    val b = new Array[Double](bytes.length / 8)
    var i = 0
    while (i < b.length) { b(i) = buf.getDouble(); i += 1 }
    b
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VectorMoments =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VectorMoments =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): VectorMoments =
    copy(child = newChildren.head)
}

object moments {
  def vector_moments(vec: Column, dim: Int): Column =
    Bridge.column(
      VectorMoments(Bridge.expression(vec), dim).toAggregateExpression())
}

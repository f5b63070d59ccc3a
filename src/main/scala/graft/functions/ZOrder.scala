package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{GraftSqlBridge => Bridge}
import org.apache.spark.sql.types.{DataType, LongType}

/**
 * Z-order (Morton) curve math for multi-column file layout, built entirely
 * from Spark built-in functions so the whole computation stays inside
 * whole-stage codegen and is reproducible as plain integer SQL in any
 * engine (the DuckDB oracle evaluates the identical mask/shift sequence).
 *
 * Why: a sink that writes files along a z-curve over two columns gives
 * BOTH columns tight per-file min/max ranges, so parquet row-group /
 * file skipping prunes scans filtered on either column — the layout-side
 * complement of the reference's value-based directory partitioning
 * (`PartitionedFileSetSinkConfig.java:128,133-147` routes on exact
 * values; z-order clusters on ranges).
 *
 * The interleave uses the classic public-domain "spread bits" magic-mask
 * sequence: each 31-bit input is spread into even bit positions of a
 * 62-bit word in 5 mask/shift steps, then the two spread words are OR'd
 * one bit apart. All arithmetic is on non-negative longs, so the result
 * never overflows or wraps negative.
 */
object ZOrder {

  /** Spread the low 31 bits of a non-negative long so bit i lands at
    * position 2*i (even positions of a 62-bit word). */
  private[graft] def spreadBits31(c: Column): Column = {
    val x0 = c.bitwiseAND(lit(0x7FFFFFFFL))
    val x1 = x0.bitwiseOR(shiftleft(x0, 16)).bitwiseAND(lit(0x0000FFFF0000FFFFL))
    val x2 = x1.bitwiseOR(shiftleft(x1, 8)).bitwiseAND(lit(0x00FF00FF00FF00FFL))
    val x3 = x2.bitwiseOR(shiftleft(x2, 4)).bitwiseAND(lit(0x0F0F0F0F0F0F0F0FL))
    val x4 = x3.bitwiseOR(shiftleft(x3, 2)).bitwiseAND(lit(0x3333333333333333L))
    x4.bitwiseOR(shiftleft(x4, 1)).bitwiseAND(lit(0x5555555555555555L))
  }

  /** 2-column Morton code: interleaved bits of `a` (even positions) and
    * `b` (odd positions). Inputs are masked to their low 31 bits, so
    * callers with wider domains should rank- or scale-normalize first.
    * For k>2 columns the same construction generalizes with a k-step
    * round-robin spread; 2 columns covers the dominant two-filter-column
    * layout case. */
  def zorder2(a: Column, b: Column): Column =
    spreadBits31(a.cast("long")).bitwiseOR(shiftleft(spreadBits31(b.cast("long")), 1))

  /** Catalyst-level twin of [[zorder2]] for the SQL function registry —
    * a registered builder must return a resolvable expression tree, not a
    * Column wrapper. Same mask/shift sequence; repeated subtrees collapse
    * in codegen via Spark's common-subexpression elimination. */
  def zorder2Expr(a: org.apache.spark.sql.catalyst.expressions.Expression,
      b: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.LongType
    def step(e: Expression, bits: Int, mask: Long): Expression =
      BitwiseAnd(BitwiseOr(e, ShiftLeft(e, Literal(bits))), Literal(mask))
    def spread(e: Expression): Expression = {
      val x0 = BitwiseAnd(Cast(e, LongType), Literal(0x7FFFFFFFL))
      val x1 = step(x0, 16, 0x0000FFFF0000FFFFL)
      val x2 = step(x1, 8, 0x00FF00FF00FF00FFL)
      val x3 = step(x2, 4, 0x0F0F0F0F0F0F0F0FL)
      val x4 = step(x3, 2, 0x3333333333333333L)
      step(x4, 1, 0x5555555555555555L)
    }
    BitwiseOr(spread(a), ShiftLeft(spread(b), Literal(1)))
  }

  /** k-column Morton code over a pre-normalized `array<bigint>` column:
    * bit j of element i lands at position j·k+i (round-robin interleave).
    * Each element contributes its low ⌊62/k⌋ bits, so the result stays a
    * non-negative long for any k. The 2-element result equals [[zorder2]]
    * (tested). Bit-by-bit loop rather than magic masks — masks exist only
    * for the stride-2 case — implemented as a codegen'd static-kernel
    * call, so the per-row cost is one tight JIT'd loop. */
  def zorderK(arr: Column): Column = Bridge.column(ZOrderKExpr(Bridge.expression(arr)))

  /** Kernel shared by interpreted eval and generated code. Null array
    * elements contribute 0 bits (explicit isNullAt check — a blind
    * getLong would NPE on GenericArrayData or silently read garbage on
    * UnsafeArrayData); writers that want null-in → null-bucket semantics
    * guard BEFORE the kernel (see `PartitionedSink.writeZOrderedK`). */
  def interleaveK(xs: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
    val k = xs.numElements()
    if (k == 0) return 0L
    val bits = 62 / k
    var z = 0L
    var i = 0
    while (i < k) {
      val v = if (xs.isNullAt(i)) 0L else xs.getLong(i)
      var j = 0
      while (j < bits) {
        z |= ((v >>> j) & 1L) << (j * k + i)
        j += 1
      }
      i += 1
    }
    z
  }

  /** Reference Scala twin of [[zorderK]] for property tests. */
  private[graft] def zorderKLocal(vs: Seq[Long]): Long = {
    val k = vs.size
    if (k == 0) 0L
    else {
      val bits = 62 / k
      var z = 0L
      for (i <- 0 until k; j <- 0 until bits)
        z |= ((vs(i) >>> j) & 1L) << (j * k + i)
      z
    }
  }

  /** Reference Scala twin of [[zorder2]] for property tests. */
  private[graft] def zorder2Local(a: Long, b: Long): Long = {
    def spread(v: Long): Long = {
      var x = v & 0x7FFFFFFFL
      x = (x | (x << 16)) & 0x0000FFFF0000FFFFL
      x = (x | (x << 8)) & 0x00FF00FF00FF00FFL
      x = (x | (x << 4)) & 0x0F0F0F0F0F0F0F0FL
      x = (x | (x << 2)) & 0x3333333333333333L
      (x | (x << 1)) & 0x5555555555555555L
    }
    spread(a) | (spread(b) << 1)
  }
}

/** Native k-column Morton interleave over `array<bigint>` — see
  * [[ZOrder.zorderK]]. Real `doGenCode` (static-kernel call): this sits
  * in the projection feeding a layout exchange, once per row of the
  * whole table being laid out. */
case class ZOrderKExpr(child: Expression) extends UnaryExpression
  with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  override def inputTypes = Seq(org.apache.spark.sql.types.ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "zorder_k"
  override def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(ZOrder.interleaveK(input.asInstanceOf[ArrayData]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ZOrder.interleaveK($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

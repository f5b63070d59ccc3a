package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.{GraftSqlBridge => Bridge}
import org.apache.spark.sql.types._

/**
 * Native vector expressions over `array<double>` columns. The
 * `zip_with + aggregate` formulation materializes an intermediate product
 * array per row-pair (O(dim) allocation on every candidate pair of a
 * similarity join); these evaluate in a single allocation-free loop.
 * Accumulation is sequential left-to-right in double precision — the same
 * order as the declarative form and DuckDB's `list_cosine_similarity`, so
 * results stay bit-identical (the oracle depends on this).
 *
 * All four implement `doGenCode` (no `CodegenFallback`): generated code
 * calls the static kernels in [[VectorKernels]] directly, so child
 * expressions stay compiled and the per-row path never drops into
 * interpreted eval — these run once per CANDIDATE PAIR inside similarity
 * joins, the hottest per-row site in the library.
 */
case class DotProduct(left: Expression, right: Expression)
  extends BinaryExpression
  with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {

  // analyzer-inserted casts: SQL callers with float/int arrays get a
  // plan-time cast instead of an executor ClassCastException
  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"

  override def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Double.valueOf(VectorKernels.dot(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorKernels.dot($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Cosine similarity in one pass: dot, |a|², |b|² accumulated together. */
case class CosineSimilarity(left: Expression, right: Expression)
  extends BinaryExpression
  with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {

  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_similarity"

  override def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Double.valueOf(VectorKernels.cosine(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorKernels.cosine($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Merge-scan intersection size of two SORTED string arrays — O(n+m) with
  * no per-row hash-set allocation (`array_intersect` builds one per call).
  * Inputs MUST be sorted and distinct (e.g. via `sort_array(array_distinct)`);
  * the count equals `size(array_intersect(a, b))` on such inputs. */
case class SortedIntersectCount(left: Expression, right: Expression)
  extends BinaryExpression
  with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {

  override def inputTypes = Seq(ArrayType(StringType), ArrayType(StringType))
  override def dataType: DataType = LongType
  override def prettyName: String = "sorted_intersect_count"

  override def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Long.valueOf(VectorKernels.sortedIntersect(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.VectorKernels.sortedIntersect($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/**
 * Natural log via JVM `Math.log` (platform intrinsic). Spark's own `log()`
 * expression evaluates `StrictMath.log` (fdlibm), which differs from
 * `Math.log` — and from DuckDB's libm `ln`, which matches `Math.log`
 * bit-for-bit on this platform (the BM25/surprisal-verified fact) — by
 * one ulp on some inputs. Oracle-checked PMI/scoring expressions must use
 * THIS ln, not `functions.log`.
 */
case class MathLn(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  // declared input type → the analyzer inserts the cast for SQL callers
  // (math_ln(2), int/decimal columns); without it nullSafeEval would CCE.
  // Return type inferred: AbstractDataType is private[sql] in Spark 4.
  override def inputTypes = Seq(DoubleType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "math_ln"
  override def nullSafeEval(input: Any): Any =
    Math.log(input.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"java.lang.Math.log($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Pack an `array<bigint>` of int8-range codes into a BINARY column, one
 * signed byte per component. This is what makes the "4× bandwidth cut"
 * of int8 quantization REAL at the shuffle/broadcast layer: an
 * `array<double>` code vector carries 8 bytes per component (plus array
 * header) through every exchange; the packed form carries exactly
 * dim bytes. Values outside [-128, 127] throw — quantization produces
 * [-127, 127] by construction, so an out-of-range value is a caller bug,
 * not data to clamp silently.
 */
case class Int8Pack(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
  with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  override def inputTypes = Seq(ArrayType(LongType))
  override def dataType: DataType = BinaryType
  override def prettyName: String = "int8_pack"
  override def nullSafeEval(input: Any): Any =
    VectorKernels.packInt8(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VectorKernels.packInt8($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Integer dot product of two [[Int8Pack]]-packed code vectors — exact
  * (≤64-dim int8 dots are far inside long range), one byte-array loop per
  * candidate pair with no boxing or array header traffic. */
case class Int8Dot(left: Expression, right: Expression)
  extends BinaryExpression
  with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  override def inputTypes = Seq(BinaryType, BinaryType)
  override def dataType: DataType = LongType
  override def prettyName: String = "int8_dot"
  override def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Long.valueOf(VectorKernels.int8Dot(
      a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorKernels.int8Dot($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Static kernels shared by interpreted eval and generated code (top-level
  * objects get static forwarders, so codegen reaches them as plain Java
  * static calls — one source of truth for the loop semantics). */
object VectorKernels {

  def packInt8(xs: ArrayData): Array[Byte] = {
    val n = xs.numElements()
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      // explicit null check: a blind getLong would NPE on GenericArrayData
      // or read garbage on UnsafeArrayData (cf. the zorder_k kernel)
      if (xs.isNullAt(i))
        throw new IllegalArgumentException(
          s"int8_pack: null element at index $i — codes must be non-null")
      val v = xs.getLong(i)
      if (v < -128L || v > 127L)
        throw new IllegalArgumentException(
          s"int8_pack: value $v at index $i outside [-128, 127]")
      out(i) = v.toByte
      i += 1
    }
    out
  }

  def int8Dot(a: Array[Byte], b: Array[Byte]): Long = {
    val n = math.min(a.length, b.length)
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += a(i).toLong * b(i).toLong
      i += 1
    }
    acc
  }

  def dot(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  def cosine(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getDouble(i)
      val yv = y.getDouble(i)
      dot += xv * yv
      na += xv * xv
      nb += yv * yv
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  def sortedIntersect(x: ArrayData, y: ArrayData): Long = {
    val (nx, ny) = (x.numElements(), y.numElements())
    var i = 0
    var j = 0
    var c = 0L
    while (i < nx && j < ny) {
      val cmp = x.getUTF8String(i).compareTo(y.getUTF8String(j))
      if (cmp == 0) { c += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    c
  }
}

object vectors {
  def dot_product(a: Column, b: Column): Column =
    Bridge.column(DotProduct(Bridge.expression(a), Bridge.expression(b)))

  def math_ln(c: Column): Column =
    Bridge.column(MathLn(Bridge.expression(c.cast("double"))))

  def cosine_similarity(a: Column, b: Column): Column =
    Bridge.column(CosineSimilarity(Bridge.expression(a), Bridge.expression(b)))

  def sorted_intersect_count(a: Column, b: Column): Column =
    Bridge.column(SortedIntersectCount(Bridge.expression(a), Bridge.expression(b)))

  def int8_pack(a: Column): Column =
    Bridge.column(Int8Pack(Bridge.expression(a)))

  def int8_dot(a: Column, b: Column): Column =
    Bridge.column(Int8Dot(Bridge.expression(a), Bridge.expression(b)))
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.{GraftSqlBridge => Bridge}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Shared Viterbi decoder for the unigram-LM tokenizer (the SentencePiece
 * model family): best[i] = max over pieces p ending at i of
 * best[i-|p|] + logp(p). Deterministic tie rule, documented because the
 * contract tests and any re-implementation must reproduce it exactly:
 * candidate piece lengths are tried SHORTEST FIRST and a longer piece
 * wins only on a STRICTLY greater score (so exact-tie segmentations
 * resolve to shorter pieces).
 *
 * The piece table rides in the expression constructor (bounded,
 * vocab-sized — the plan-literal global-context pattern of the BPE and
 * n-gram LM kernels), so per-row work is one O(len · maxPieceLen) DP
 * with zero allocation beyond the two DP arrays. Characters absent from
 * the vocabulary fall back to a floor score (`unkLogp`) as their own
 * single-char piece — decoding never fails.
 */
object UnigramViterbiJvm {

  /** Segment `word`; returns the piece sequence. `pieces` maps piece →
    * log-probability (BOXED values — a primitive-valued map would unbox
    * the missing-key null to 0.0, silently scoring unknown pieces as
    * certainties); `maxLen` bounds candidate piece length; `unkLogp`
    * prices an out-of-vocabulary single character. */
  def segment(word: String, pieces: java.util.HashMap[String, java.lang.Double],
      maxLen: Int, unkLogp: Double): Array[String] = {
    val n = word.length
    if (n == 0) return Array.empty
    val best = new Array[Double](n + 1)
    val back = new Array[Int](n + 1) // start index of the winning last piece
    var i = 1
    while (i <= n) {
      best(i) = Double.NegativeInfinity
      back(i) = i - 1
      var l = 1
      val lmax = math.min(maxLen, i)
      while (l <= lmax) {
        val j = i - l
        val cand = word.substring(j, i)
        val lp = pieces.get(cand)
        val score =
          if (lp != null) best(j) + lp.doubleValue()
          else if (l == 1) best(j) + unkLogp
          else Double.NegativeInfinity
        if (score > best(i)) { best(i) = score; back(i) = j }
        l += 1
      }
      i += 1
    }
    // walk back
    var cnt = 0
    var k = n
    while (k > 0) { cnt += 1; k = back(k) }
    val out = new Array[String](cnt)
    k = n
    var w = cnt - 1
    while (k > 0) { out(w) = word.substring(back(k), k); k = back(k); w -= 1 }
    out
  }

  def buildMap(
      pieces: Seq[(String, Double)]): java.util.HashMap[String, java.lang.Double] = {
    val m = new java.util.HashMap[String, java.lang.Double](pieces.size * 2)
    pieces.foreach { case (p, lp) => m.put(p, java.lang.Double.valueOf(lp)) }
    m
  }
}

/**
 * `unigram_viterbi(word)` — the piece sequence of one word under the
 * unigram LM, via [[UnigramViterbiJvm]]. CodegenFallback: the DP loop
 * dwarfs the virtual-call overhead, and the piece table stays one shared
 * JVM map instead of a generated literal blob.
 */
case class UnigramViterbi(
    child: Expression, pieces: Seq[(String, Double)], maxPieceLen: Int,
    unkLogp: Double)
  extends UnaryExpression with CodegenFallback {

  private val table = UnigramViterbiJvm.buildMap(pieces)

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "unigram_viterbi"

  override def nullSafeEval(input: Any): Any = {
    val segs = UnigramViterbiJvm.segment(
      input.toString, table, maxPieceLen, unkLogp)
    val out = new Array[Any](segs.length)
    var i = 0
    while (i < segs.length) { out(i) = UTF8String.fromString(segs(i)); i += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object unigram {
  def viterbi(c: Column, pieces: Seq[(String, Double)], maxPieceLen: Int,
      unkLogp: Double): Column =
    Bridge.column(UnigramViterbi(Bridge.expression(c), pieces, maxPieceLen, unkLogp))
}

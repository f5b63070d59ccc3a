package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.{GraftSqlBridge => Bridge}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native Catalyst expressions for the hash-sketch operators. The
 * `functions._`-composed formulations (nested `transform`/`aggregate`
 * lambdas) re-evaluate the normalization and shingle expressions once per
 * (hash function × shingle) — O(numHashes · shingles) regex/substring work
 * per row. These expressions do one normalization pass, one xxhash64 per
 * shingle/token, and derive all `numHashes` min-hash lanes with
 * Kirsch-Mitzenmacher double hashing (h_j = h1 + j·h2) — ~64× less hashing
 * and ~20,000× less string work per row. Per-row state is a few small
 * arrays; rows stream through `eval` with no shared state, so the
 * expression is embarrassingly parallel across partitions.
 *
 * CodegenFallback is deliberate HERE: the per-row work (hundreds of hash
 * mixes) dwarfs the virtual-call overhead codegen would remove, and keeping
 * `eval`-only avoids a 64-lane unrolled codegen blob that would blow the
 * JIT method-size budget. Contrast [[VectorExpressions]]: those run once
 * per candidate PAIR inside similarity joins (not once per document), so
 * they implement real `doGenCode` via static-kernel calls.
 */
private[graft] object TextNormJvm {
  /** Java-regex `\s` class — what Spark's `regexp_replace(c, "\\s+", " ")`
    * collapses. NOT `Character.isWhitespace` (which adds - etc.). */
  private def isRegexWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** JVM-side EXACT twin of [[graft.ops.Dedup.normalize]] =
    * `regexp_replace(lower(trim(c)), "\\s+", " ")` (ASCII-equivalent case
    * fold). Two Spark quirks faithfully reproduced: `trim` strips only
    * 0x20 SPACE characters (not \t/\n — unlike `String.trim`, which strips
    * everything ≤ 0x20), and the collapse uses the regex `\s` class. So
    * `"\t\nx"` normalizes to `" x"` with a LEADING space, not `"x"`. */
  def normalize(s: String): String = {
    var b = 0
    var e = s.length
    while (b < e && s.charAt(b) == ' ') b += 1
    while (e > b && s.charAt(e - 1) == ' ') e -= 1
    val t = s.substring(b, e).toLowerCase(java.util.Locale.ROOT)
    // manual single-pass whitespace collapse (regex-free hot path)
    val sb = new java.lang.StringBuilder(t.length)
    var prevWs = false
    var i = 0
    while (i < t.length) {
      val c = t.charAt(i)
      val ws = isRegexWs(c)
      if (!ws) { sb.append(c); prevWs = false }
      else if (!prevWs) { sb.append(' '); prevWs = true }
      i += 1
    }
    sb.toString
  }

  def hashString(s: String, seed: Long): Long =
    XxHash64Function.hash(UTF8String.fromString(s), StringType, seed)
}

/**
 * MinHash signature of a text column: `numHashes` min-hash lanes over the
 * set of character `shingleLen`-grams of the normalized text. Returns
 * `array<bigint>` of length `numHashes`.
 */
case class MinHashSignature(
    child: Expression, numHashes: Int, shingleLen: Int)
  extends UnaryExpression with CodegenFallback {

  require(numHashes > 0 && shingleLen > 0)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"

  override def nullSafeEval(input: Any): Any = {
    val text = TextNormJvm.normalize(input.toString)
    val mins = Array.fill(numHashes)(Long.MaxValue)
    val last = math.max(text.length - shingleLen, 0)
    var i = 0
    while (i <= last) {
      val end = math.min(i + shingleLen, text.length)
      val h1 = TextNormJvm.hashString(text.substring(i, end), 42L)
      val h2 = h1 * 0x9E3779B97F4A7C15L + 0x165667B19E3779F9L
      var j = 0
      var h = h1
      while (j < numHashes) {
        if (h < mins(j)) mins(j) = h
        h += h2 // lane j+1 = h1 + (j+1)·h2
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * 64-bit SimHash of a text column over its normalized whitespace tokens:
 * each token's xxhash64 votes ±1 per bit position; the sign of each bit's
 * vote total sets that output bit.
 */
case class SimHash64(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any = {
    val text = TextNormJvm.normalize(input.toString)
    val votes = new Array[Int](64)
    var start = 0
    while (start < text.length) {
      var end = text.indexOf(' ', start)
      if (end < 0) end = text.length
      if (end > start) {
        val h = TextNormJvm.hashString(text.substring(start, end), 42L)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      start = end + 1
    }
    var sim = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) sim |= (1L << b)
      b += 1
    }
    java.lang.Long.valueOf(sim)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Distinct, SORTED word n-grams of normalized text — native one-pass
 * replacement for `array_distinct(transform(sequence(...), slice/concat_ws))`
 * (measured ~1.1 ms/doc declaratively vs ~30 µs here; the lambda pipeline
 * re-drives the interpreter per gram). Normalization is the JVM twin of
 * `Dedup.normalize` (ASCII-equivalent; the synthetic corpus is ASCII).
 * Returns an empty array when the text has fewer than `n` tokens (callers
 * filter on token count). Sorted by UTF8String binary order — identical to
 * `sort_array` on string arrays.
 */
case class WordNgrams(child: Expression, n: Int)
  extends UnaryExpression with CodegenFallback {

  require(n > 0)

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_ngrams"

  override def nullSafeEval(input: Any): Any = {
    val text = TextNormJvm.normalize(input.toString)
    val toks = text.split(' ')
    if (toks.length < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.TreeSet[UTF8String]()
    var i = 0
    val sb = new java.lang.StringBuilder(64)
    while (i <= toks.length - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      seen.add(UTF8String.fromString(sb.toString))
      i += 1
    }
    new GenericArrayData(seen.toArray[AnyRef](new Array[AnyRef](seen.size)))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Round-2 BPE adjacent symbol pairs of ONE WORD after merging `pair` (two
 * DISTINCT codepoints): single greedy left-to-right scan building the merged
 * symbol sequence, emitting `"s1 s2"` per adjacent symbol pair. For
 * distinct-codepoint pairs the greedy scan is exactly the position-wise
 * merge spec of `TextAnalysis.bpeMergeRound` (occurrences cannot overlap),
 * and one native pass replaces ~3 interpreted `substr` Column evaluations
 * per character. Codepoint-indexed, matching SQL `substr`/DuckDB slicing
 * semantics on astral characters.
 */
case class BpeRound2Pairs(child: Expression, pair: String)
  extends UnaryExpression with CodegenFallback {

  require(pair.codePointCount(0, pair.length) == 2 &&
    pair.codePointAt(0) != pair.codePointAt(pair.offsetByCodePoints(0, 1)),
    "merge pair must be two distinct codepoints")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bpe_round2_pairs"

  private val c1 = pair.codePointAt(0)
  private val c2 = pair.codePointAt(pair.offsetByCodePoints(0, 1))

  override def nullSafeEval(input: Any): Any = {
    val w = input.toString
    val cps = w.codePoints.toArray
    val syms = new scala.collection.mutable.ArrayBuffer[String](cps.length)
    var i = 0
    while (i < cps.length) {
      if (i + 1 < cps.length && cps(i) == c1 && cps(i + 1) == c2) {
        syms += pair; i += 2
      } else {
        syms += new String(Character.toChars(cps(i))); i += 1
      }
    }
    if (syms.length < 2) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](syms.length - 1)
    var j = 0
    while (j < syms.length - 1) {
      out(j) = UTF8String.fromString(syms(j) + " " + syms(j + 1))
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Adjacent symbol pairs of ONE WORD after applying an ORDERED merge list
 * — the general-k sibling of [[BpeRound2Pairs]] powering full BPE
 * tokenizer induction (`TextAnalysis.bpeTrain`). Each merge `"a b"`
 * rewrites the current symbol sequence greedily left-to-right (adjacent
 * (a, b) → `ab`), in PRIORITY ORDER — the standard BPE apply, handling
 * multi-character symbols from earlier merges. The sequential greedy fold
 * is not expressible as portable set-oriented SQL, so this surface is
 * pinned by an exact-equality contract against a driver-side reference
 * implementation instead of a DuckDB oracle (see `TextAnalysisSpec`).
 * Emits `"s1 s2"` per adjacent pair of the final sequence.
 */
/** The shared BPE merge-apply loop: split a word into codepoint symbols,
  * then rewrite greedily left-to-right per merge IN PRIORITY ORDER — the
  * standard apply, shared by the pair-counting ([[BpePairsWithMerges]])
  * and encoding ([[BpeEncode]]) expressions so the two surfaces can never
  * drift. */
private[functions] object BpeApplyJvm {
  def symbols(text: String,
      parsed: Array[(String, String)]): scala.collection.mutable.ArrayBuffer[String] = {
    val cps = text.codePoints.toArray
    var syms = new scala.collection.mutable.ArrayBuffer[String](cps.length)
    var i = 0
    while (i < cps.length) {
      syms += new String(Character.toChars(cps(i))); i += 1
    }
    var m = 0
    while (m < parsed.length) {
      val (a, b) = parsed(m)
      if (syms.length >= 2) {
        val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
        var j = 0
        while (j < syms.length) {
          if (j + 1 < syms.length && syms(j) == a && syms(j + 1) == b) {
            out += a + b; j += 2
          } else {
            out += syms(j); j += 1
          }
        }
        syms = out
      }
      m += 1
    }
    syms
  }

  def parse(merges: Seq[String]): Array[(String, String)] = {
    merges.foreach(m => require(m.indexOf(' ') > 0,
      s"merge '$m' must be 'left right' (space-separated symbols)"))
    merges.map { m =>
      val i = m.indexOf(' ')
      (m.substring(0, i), m.substring(i + 1))
    }.toArray
  }
}

case class BpePairsWithMerges(child: Expression, merges: Seq[String])
  extends UnaryExpression with CodegenFallback {

  private val parsed: Array[(String, String)] = BpeApplyJvm.parse(merges)

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bpe_pairs_with_merges"

  override def nullSafeEval(input: Any): Any = {
    val syms = BpeApplyJvm.symbols(input.toString, parsed)
    if (syms.length < 2) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](syms.length - 1)
    var j = 0
    while (j < syms.length - 1) {
      out(j) = UTF8String.fromString(syms(j) + " " + syms(j + 1))
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * BPE ENCODE of one word: the symbol (token) sequence after applying the
 * trained merge list — the tokenizer-application counterpart of
 * [[BpePairsWithMerges]] (identical [[BpeApplyJvm]] apply loop, symbols
 * out instead of adjacent pairs). Empty input → empty array. The greedy
 * sequential apply is not expressible as portable set-oriented SQL, so
 * this surface is pinned by an exact-equality contract against a
 * driver-side reference encoder (see `TextAnalysisSpec`).
 */
case class BpeEncode(child: Expression, merges: Seq[String])
  extends UnaryExpression with CodegenFallback {

  private val parsed: Array[(String, String)] = BpeApplyJvm.parse(merges)

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bpe_encode"

  override def nullSafeEval(input: Any): Any = {
    val syms = BpeApplyJvm.symbols(input.toString, parsed)
    val out = new Array[Any](syms.length)
    var j = 0
    while (j < syms.length) {
      out(j) = UTF8String.fromString(syms(j))
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * NET adjacent-pair count deltas of ONE WORD when `newPair` is adopted on
 * top of an ORDERED prior merge list — the single-pass kernel behind
 * delta-maintained BPE training (`TextAnalysis.bpeTrain`). Applies the
 * prior merges once (shared prefix of both states), diffs the adjacency
 * pairs of the symbol sequence before/after the `newPair` merge, and
 * emits only the NONZERO net deltas as `(pair, d)` structs — a word
 * usually changes a handful of pairs around its merge sites, so the
 * shuffle carries a few rows per affected word instead of two full pair
 * listings. Words where (a, b) are never adjacent after the prior merges
 * emit nothing (the caller's `contains(a+b)` filter is a substring
 * SUPERSET — a+b can straddle a symbol boundary).
 */
case class BpeDeltaPairs(child: Expression, merges: Seq[String], newPair: String)
  extends UnaryExpression with CodegenFallback {

  (merges :+ newPair).foreach(m => require(m.indexOf(' ') > 0,
    s"merge '$m' must be 'left right' (space-separated symbols)"))

  private val parsed: Array[(String, String)] = merges.map { m =>
    val i = m.indexOf(' ')
    (m.substring(0, i), m.substring(i + 1))
  }.toArray
  private val (na, nb) = {
    val i = newPair.indexOf(' ')
    (newPair.substring(0, i), newPair.substring(i + 1))
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("pair", StringType, nullable = false),
      StructField("d", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "bpe_delta_pairs"

  override def nullSafeEval(input: Any): Any = {
    val cps = input.toString.codePoints.toArray
    var syms = new scala.collection.mutable.ArrayBuffer[String](cps.length)
    var i = 0
    while (i < cps.length) {
      syms += new String(Character.toChars(cps(i))); i += 1
    }
    var m = 0
    while (m < parsed.length) {
      val (a, b) = parsed(m)
      if (syms.length >= 2) {
        val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
        var j = 0
        while (j < syms.length) {
          if (j + 1 < syms.length && syms(j) == a && syms(j + 1) == b) {
            out += a + b; j += 2
          } else {
            out += syms(j); j += 1
          }
        }
        syms = out
      }
      m += 1
    }
    // fast path: (na, nb) never adjacent -> no deltas at all
    var adjacent = false
    var j = 0
    while (!adjacent && j + 1 < syms.length) {
      if (syms(j) == na && syms(j + 1) == nb) adjacent = true
      j += 1
    }
    if (!adjacent) return new GenericArrayData(Array.empty[Any])
    // apply the new merge
    val after = new scala.collection.mutable.ArrayBuffer[String](syms.length)
    j = 0
    while (j < syms.length) {
      if (j + 1 < syms.length && syms(j) == na && syms(j + 1) == nb) {
        after += na + nb; j += 2
      } else {
        after += syms(j); j += 1
      }
    }
    // net pair deltas: -1 per old adjacency, +1 per new adjacency
    val net = new java.util.LinkedHashMap[String, Long]()
    j = 0
    while (j + 1 < syms.length) {
      val p = syms(j) + " " + syms(j + 1)
      net.merge(p, -1L, (x, y) => x + y): Unit
      j += 1
    }
    j = 0
    while (j + 1 < after.length) {
      val p = after(j) + " " + after(j + 1)
      net.merge(p, 1L, (x, y) => x + y): Unit
      j += 1
    }
    val out = new scala.collection.mutable.ArrayBuffer[Any](net.size)
    net.forEach { (p, d) =>
      if (d != 0L)
        out += org.apache.spark.sql.catalyst.InternalRow(UTF8String.fromString(p), d)
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Normalized whitespace tokens of a text column — native one-pass twin of
 * `split(Dedup.normalize(c), " ")` (regex lower/trim/collapse + regex split
 * costs interpreted-regex time on every document; this is a single scan).
 * Exact value parity with the declarative form, including the edge case:
 * splitting an empty normalized string yields `[""]` (one empty token), as
 * Spark's `split` does — callers that count tokens rely on it. Elements are
 * never null; empty-string elements only for empty/whitespace-only input.
 */
case class WordTokens(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_tokens"

  override def nullSafeEval(input: Any): Any = {
    val text = TextNormJvm.normalize(input.toString)
    // n separators → n+1 fields, exactly like split with limit -1: empty
    // leading/trailing fields are KEPT ("" → [""], " " → ["", ""])
    val out = new scala.collection.mutable.ArrayBuffer[AnyRef](16)
    var start = 0
    var idx = text.indexOf(' ')
    while (idx >= 0) {
      out += UTF8String.fromString(text.substring(start, idx))
      start = idx + 1
      idx = text.indexOf(' ', start)
    }
    out += UTF8String.fromString(text.substring(start))
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * zlib compression ratio of the raw UTF-8 text — the
 * boilerplate/repetition signal production corpus filters pair with
 * token-level repetition stats (templated and machine-generated text
 * compresses far below prose). One streaming Deflater pass per row with
 * a reused counting buffer (no compressed output is materialized);
 * ratio = deflated_len / raw_len, empty input → 1.0. Deterministic for
 * a fixed zlib level on a given platform; no DuckDB twin exists (SQL
 * has no deflate), so the query is documented `no_oracle` and the
 * contract is pinned in ScalaTest instead.
 */
case class CompressionRatio(child: Expression, level: Int = 6)
  extends UnaryExpression with CodegenFallback {

  // Deflater would throw this at executor runtime per-row; fail at plan
  // construction instead (the SQL surface lets any int literal through)
  require(level >= 0 && level <= 9, s"compression level $level not in [0, 9]")

  override def dataType: DataType = DoubleType
  override def prettyName: String = "compression_ratio"

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    if (bytes.isEmpty) java.lang.Double.valueOf(1.0)
    else {
      val d = new java.util.zip.Deflater(level, /*nowrap=*/ true)
      try {
        d.setInput(bytes)
        d.finish()
        val buf = new Array[Byte](8192)
        var total = 0L
        while (!d.finished()) total += d.deflate(buf)
        java.lang.Double.valueOf(total.toDouble / bytes.length)
      } finally d.end()
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Within-document repetition statistics over word n-grams (with
 * multiplicity) in ONE row-local pass:
 * struct(n_grams, n_distinct, n_dup, top_gram, top_cnt), where `n_dup`
 * counts occurrences of grams appearing more than once and `top_gram` is
 * the most frequent gram with the lexicographically-smallest tiebreak.
 * Declaratively this takes an explode + per-(doc,gram) aggregate + per-doc
 * window — two corpus-wide shuffles for what is inherently per-row work;
 * here it's a HashMap pass per document, zero shuffle at any scale.
 * Tokenization is the JVM twin of `Dedup.normalize` (same as WordTokens).
 */
case class RepetitionStats(child: Expression, n: Int)
  extends UnaryExpression with CodegenFallback {

  require(n > 0)

  override def dataType: DataType = StructType(Seq(
    StructField("n_grams", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("n_dup", LongType, nullable = false),
    StructField("top_gram", StringType, nullable = true),
    StructField("top_cnt", LongType, nullable = false)))
  override def prettyName: String = "repetition_stats"

  override def nullSafeEval(input: Any): Any = {
    val text = TextNormJvm.normalize(input.toString)
    // limit -1 KEEPS trailing empty fields — the WordTokens/string_split
    // contract. Plain split(' ') drops them, which would lose the final
    // truncated gram of text normalizing to a trailing space (e.g. "a b\n"
    // → "a b " → grams {"a b", "b "}, not just {"a b"}).
    val toks = text.split(" ", -1)
    val counts = new java.util.HashMap[String, Long]()
    val sb = new java.lang.StringBuilder(64)
    var total = 0L
    var i = 0
    val last = toks.length - n
    while (i <= last) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      val g = sb.toString
      if (g.nonEmpty) { // mirrors the declarative filter(gram != '')
        counts.merge(g, 1L, java.lang.Long.sum(_, _))
        total += 1
      }
      i += 1
    }
    // short text (< n tokens): emit the single truncated gram like the
    // declarative slice does, handled by the loop above (last < 0 → none)
    if (last < 0 && text.nonEmpty) {
      counts.merge(text, 1L, java.lang.Long.sum(_, _))
      total += 1
    }
    var dup = 0L
    var topCnt = 0L
    var topGram: String = null
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val c = e.getValue
      if (c > 1) dup += c
      if (c > topCnt || (c == topCnt && (topGram == null || e.getKey < topGram))) {
        topCnt = c
        topGram = e.getKey
      }
    }
    org.apache.spark.sql.catalyst.InternalRow(
      total, counts.size.toLong, dup,
      if (topGram == null) null else UTF8String.fromString(topGram), topCnt)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Shannon entropy (nats) of a text column's CHARACTER distribution — the
 * classic gibberish/boilerplate axis quality filters pair with token
 * stats: base64 blobs and hex dumps sit far ABOVE prose (near-uniform
 * chars), templated/repeated text sits far BELOW it. One row-local
 * counting pass; the `-p·ln p` terms are summed in ascending CODEPOINT
 * order — a FIXED fold order over per-codepoint counts (surrogate pairs
 * count as ONE symbol, matching a SQL engine's per-codepoint extraction
 * and UTF-8 binary sort), so an engine folding an ord-sorted list
 * reproduces the double up to libm: JVM `Math.log` and glibc `ln`
 * disagree by 1 ulp on rare inputs, which is why the oracle-matched
 * QUERY projection rounds to 6 decimals while this expression returns
 * raw nats (see `OpsQueries.text_char_entropy`). Empty text → 0.0.
 */
case class CharEntropy(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "char_entropy"

  override def nullSafeEval(input: Any): Any = {
    val s = input.toString
    if (s.isEmpty) return java.lang.Double.valueOf(0.0)
    val counts = new java.util.TreeMap[Integer, Long]()
    var n0 = 0L
    val it0 = s.codePoints().iterator()
    while (it0.hasNext) {
      counts.merge(it0.next(), 1L, java.lang.Long.sum(_, _))
      n0 += 1
    }
    val n = n0.toDouble
    var sum = 0.0
    val it = counts.values().iterator()
    while (it.hasNext) {
      val p = it.next().toDouble / n
      sum += -(p * Math.log(p))
    }
    java.lang.Double.valueOf(sum)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Unigram language-model surprisal of a text column — the KenLM-style
 * perplexity PROXY used for corpus quality filtering: per document,
 * struct(n_tokens, sum_logp) where
 * `sum_logp = Σ ln(count(token)/total)` over the document's normalized
 * tokens IN ORDER (sequential left-to-right double fold — deterministic
 * and reproducible by a SQL engine folding an ord-sorted list). Tokens
 * outside the (driver-computed, bounded, top-K) vocabulary use the
 * add-one floor `count = 1`. `ln` is bit-identical across JVM `Math.log`
 * and DuckDB libm on this platform (verified by the BM25 oracle), so the
 * whole computation is oracle-checkable.
 *
 * The vocabulary rides along as a constructor literal (the BM25
 * discipline: bounded driver-side stats embedded in the plan) — one
 * HashMap lookup per token, zero shuffle in the scoring pass.
 */
case class UnigramLogProb(
    child: Expression, vocab: Map[String, Long], total: Long)
  extends UnaryExpression with CodegenFallback {

  require(total > 0)

  @transient private lazy val lookup = {
    val m = new java.util.HashMap[String, Long](vocab.size * 2)
    vocab.foreach { case (k, v) => m.put(k, v) }
    m
  }

  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("sum_logp", DoubleType, nullable = false)))
  override def prettyName: String = "unigram_logprob"

  override def nullSafeEval(input: Any): Any = {
    val text = TextNormJvm.normalize(input.toString)
    var sum = 0.0
    var n = 0L
    var start = 0
    while (start <= text.length) {
      var end = text.indexOf(' ', start)
      if (end < 0) end = text.length
      if (end > start) {
        val tok = text.substring(start, end)
        val cnt = lookup.getOrDefault(tok, 1L)
        sum += Math.log(cnt.toDouble / total)
        n += 1
      }
      start = end + 1
    }
    org.apache.spark.sql.catalyst.InternalRow(n, sum)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Bigram language-model surprisal — the conditional sibling of
 * [[UnigramLogProb]]: per document, struct(n_pairs, sum_logp) with
 * `sum_logp = Σ ln(c(w₁w₂) / max(c(w₁), c(w₁w₂)))` over adjacent
 * token pairs IN ORDER (both tokens non-empty). Counts outside the
 * bounded top-K vocabularies floor to 1 (the add-one discipline), and
 * the denominator clamps to the numerator so probabilities stay ≤ 1
 * even when the bigram made its vocabulary cut but its left unigram
 * missed the (separately truncated) unigram cut — a fixed, documented
 * proxy rule both engines compute identically. Same determinism story
 * as the unigram: sequential left-to-right fold, `Math.log` ==
 * DuckDB `ln`, vocabularies ride as constructor literals.
 */
case class BigramLogProb(
    child: Expression, bigrams: Map[String, Long],
    unigrams: Map[String, Long])
  extends UnaryExpression with CodegenFallback {

  @transient private lazy val bi = {
    val m = new java.util.HashMap[String, Long](bigrams.size * 2)
    bigrams.foreach { case (k, v) => m.put(k, v) }
    m
  }
  @transient private lazy val uni = {
    val m = new java.util.HashMap[String, Long](unigrams.size * 2)
    unigrams.foreach { case (k, v) => m.put(k, v) }
    m
  }

  override def dataType: DataType = StructType(Seq(
    StructField("n_pairs", LongType, nullable = false),
    StructField("sum_logp", DoubleType, nullable = false)))
  override def prettyName: String = "bigram_logprob"

  override def nullSafeEval(input: Any): Any = {
    val text = TextNormJvm.normalize(input.toString)
    val toks = text.split(" ", -1)
    var sum = 0.0
    var n = 0L
    var i = 1
    while (i < toks.length) {
      val w1 = toks(i - 1)
      val w2 = toks(i)
      if (w1.nonEmpty && w2.nonEmpty) {
        val num = bi.getOrDefault(w1 + " " + w2, 1L)
        val den = Math.max(uni.getOrDefault(w1, 1L), num)
        sum += Math.log(num.toDouble / den.toDouble)
        n += 1
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(n, sum)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Interpolated trigram language-model surprisal — the KenLM-shaped rung
 * above [[BigramLogProb]]: per document, struct(n_triples, sum_logp)
 * with, for each in-order token triple (w₁ w₂ w₃),
 *
 *   p = λ₃·c(w₁w₂w₃)/max(c(w₁w₂), c₃, 1)
 *     + λ₂·c(w₂w₃)/max(c(w₂), c₂, 1)
 *     + λ₁·max(c(w₃),1)/T
 *
 * and `sum_logp = Σ ln(p)`. Unseen higher orders contribute 0 (counts
 * default 0), the unigram floor keeps p > 0 — the textbook
 * interpolation that backs off smoothly instead of cliffing to the OOV
 * floor, which is what separates "rare but well-formed" from
 * "implausible" continuations. λ = (1/2, 3/8, 1/8): DYADIC rationals,
 * so the scaling is exact in binary and the whole pre-ln arithmetic is
 * one fixed-shape correctly-rounded sequence — cross-engine
 * bit-identical into `ln`, whose 1-ulp libm wobble the caller's final
 * round(·, 6) absorbs (the char_entropy discipline). Vocabulary maps
 * are bounded top-K literals (the BM25/bounded-global-context
 * discipline): one pass, three HashMap probes per token, zero shuffle.
 */
case class TrigramLogProb(
    child: Expression, trigrams: Map[String, Long],
    bigrams: Map[String, Long], unigrams: Map[String, Long], total: Long)
  extends UnaryExpression with CodegenFallback {

  require(total > 0)

  @transient private lazy val tri = {
    val m = new java.util.HashMap[String, Long](trigrams.size * 2)
    trigrams.foreach { case (k, v) => m.put(k, v) }
    m
  }
  @transient private lazy val bi = {
    val m = new java.util.HashMap[String, Long](bigrams.size * 2)
    bigrams.foreach { case (k, v) => m.put(k, v) }
    m
  }
  @transient private lazy val uni = {
    val m = new java.util.HashMap[String, Long](unigrams.size * 2)
    unigrams.foreach { case (k, v) => m.put(k, v) }
    m
  }

  override def dataType: DataType = StructType(Seq(
    StructField("n_triples", LongType, nullable = false),
    StructField("sum_logp", DoubleType, nullable = false)))
  override def prettyName: String = "trigram_logprob"

  override def nullSafeEval(input: Any): Any = {
    val text = TextNormJvm.normalize(input.toString)
    val toks = text.split(" ", -1)
    var sum = 0.0
    var n = 0L
    var i = 2
    while (i < toks.length) {
      val w1 = toks(i - 2)
      val w2 = toks(i - 1)
      val w3 = toks(i)
      if (w1.nonEmpty && w2.nonEmpty && w3.nonEmpty) {
        val c3 = tri.getOrDefault(w1 + " " + w2 + " " + w3, 0L)
        val d3 = Math.max(bi.getOrDefault(w1 + " " + w2, 0L), Math.max(c3, 1L))
        val c2 = bi.getOrDefault(w2 + " " + w3, 0L)
        val d2 = Math.max(uni.getOrDefault(w2, 0L), Math.max(c2, 1L))
        val c1 = Math.max(uni.getOrDefault(w3, 1L), 1L)
        val p = 0.5 * (c3.toDouble / d3) + 0.375 * (c2.toDouble / d2) +
          0.125 * (c1.toDouble / total)
        sum += Math.log(p)
        n += 1
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(n, sum)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Column-API wrappers for the native expressions. */
object hashes {
  def minhash_signature(c: Column, numHashes: Int = 64, shingleLen: Int = 5): Column =
    Bridge.column(
      MinHashSignature(Bridge.expression(c), numHashes, shingleLen))

  def simhash64(c: Column): Column =
    Bridge.column(SimHash64(Bridge.expression(c)))

  def word_ngrams(c: Column, n: Int): Column =
    Bridge.column(WordNgrams(Bridge.expression(c), n))

  def word_tokens(c: Column): Column =
    Bridge.column(WordTokens(Bridge.expression(c)))

  def repetition_stats(c: Column, n: Int): Column =
    Bridge.column(RepetitionStats(Bridge.expression(c), n))

  def compression_ratio(c: Column, level: Int = 6): Column =
    Bridge.column(CompressionRatio(Bridge.expression(c), level))

  /** Shannon entropy (nats) of the text's CODEPOINT distribution —
    * supplementary-plane symbols count once (surrogate pairs are not
    * split). Raw double; for cross-engine hash comparisons round to 6
    * decimals (libm implementations differ by 1 ulp on rare inputs). */
  def char_entropy(c: Column): Column =
    Bridge.column(CharEntropy(Bridge.expression(c)))

  def unigram_logprob(c: Column, vocab: Map[String, Long], total: Long): Column =
    Bridge.column(UnigramLogProb(Bridge.expression(c), vocab, total))

  def bigram_logprob(
      c: Column, bigrams: Map[String, Long], unigrams: Map[String, Long]): Column =
    Bridge.column(BigramLogProb(Bridge.expression(c), bigrams, unigrams))

  def trigram_logprob(
      c: Column, trigrams: Map[String, Long], bigrams: Map[String, Long],
      unigrams: Map[String, Long], total: Long): Column =
    Bridge.column(TrigramLogProb(
      Bridge.expression(c), trigrams, bigrams, unigrams, total))

  def bpe_round2_pairs(c: Column, pair: String): Column =
    Bridge.column(BpeRound2Pairs(Bridge.expression(c), pair))

  def bpe_pairs_with_merges(c: Column, merges: Seq[String]): Column =
    Bridge.column(BpePairsWithMerges(Bridge.expression(c), merges))

  def bpe_encode(c: Column, merges: Seq[String]): Column =
    Bridge.column(BpeEncode(Bridge.expression(c), merges))

  def bpe_delta_pairs(c: Column, merges: Seq[String], newPair: String): Column =
    Bridge.column(BpeDeltaPairs(Bridge.expression(c), merges, newPair))

  /** Expose the native expressions to SQL on an EXISTING session (temp
    * functions): `SELECT minhash_signature(text), simhash64(text) ...`.
    * For cluster-wide installation at session creation, set
    * `spark.sql.extensions=graft.GraftExtensions` instead — both paths
    * share [[SqlFunctions.builders]]. */
  def registerSql(spark: org.apache.spark.sql.SparkSession): Unit =
    SqlFunctions.builders.foreach { case (name, builder) =>
      Bridge.registerFunction(spark, name, builder)
    }
}

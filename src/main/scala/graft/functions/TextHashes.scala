package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.types._

/** Document-fingerprint hash expressions for the dedup/text-analysis
  * pipeline (LLM-data extension; the reference has no such surface —
  * SURVEY §2.3). Both are single-pass custom Catalyst expressions whose
  * `doGenCode` delegates to the static helpers below, so they stay inside
  * the surrounding whole-stage-codegen span (no CodegenFallback, no UDF
  * serialization).
  */
object TextHashes {

  /** 64-bit SimHash over a token array: bit i of the result is set iff
    * the sum over tokens of (bit i of xxhash64-style token hash ? +1 : -1)
    * is positive. Near-duplicate docs land at small Hamming distance. */
  def simhash64(tokens: Column): Column =
    GraftColumnBridge.column(SimHash64(GraftColumnBridge.expression(tokens)))

  /** Polynomial rolling hash (Rabin–Karp, base 1000003, mod 2^64) of a
    * string — an order-sensitive content fingerprint (`md5`-class use,
    * long-sized, codegen'd). */
  def rolling_hash64(c: Column): Column =
    GraftColumnBridge.column(RollingHash64(GraftColumnBridge.expression(c)))

  /** Winnowing fingerprints (the MOSS algorithm, Schleimer/Wilkerson/
    * Aiken 2003): hash every `k`-codepoint gram, slide a `w`-gram
    * window, keep each window's MINIMUM hash; the distinct selected
    * values, sorted, are the document's signature. GUARANTEE: two
    * documents sharing any substring of at least `k + w - 1` codepoints
    * share at least one fingerprint — a substring-overlap detector with
    * a hard detection floor, unlike MinHash (which estimates WHOLE-doc
    * Jaccard and can miss a long verbatim quote inside otherwise
    * different docs). Hashes are FNV-1a over codepoints, truncated to
    * 63 bits so signed and unsigned comparisons agree everywhere
    * (JVM long, parquet, DuckDB BIGINT). */
  def winnow(c: Column, k: Int, w: Int): Column =
    GraftColumnBridge.column(Winnow(GraftColumnBridge.expression(c), k, w))

  /** Word n-grams of raw text in ONE codegen'd pass: lowercase (the
    * same [[UTF8String.toLowerCase]] Spark's `lower` calls, so parity
    * is by construction, not by locale luck), tokenize on maximal
    * `[\p{L}\p{N}]` codepoint runs (== `split` on the complement + drop
    * empties), join each n-window with a single space. Replaces the
    * `transform(sequence, slice, concat_ws)` higher-order phrasing,
    * which Spark evaluates INTERPRETED per element — the measured hot
    * spot of the corpus bigram query. */
  def word_ngrams(c: Column, n: Int): Column =
    GraftColumnBridge.column(WordNgrams(GraftColumnBridge.expression(c), n))

  /** Word n-grams over an ALREADY-TOKENIZED array — the output of
    * [[word_ngrams]] at n=1 — in one codegen'd pass: window-join only,
    * skipping the lowercase+tokenize scan. BIT-IDENTICAL law (pinned
    * by TextAnalysisSpec): `token_ngrams(word_ngrams(t, 1), n) ==
    * word_ngrams(t, n)` — [[wordNgramsOf]] tokenizes first and then
    * window-joins, and this runs the identical join over the identical
    * token list. Exists so multi-order consumers (Gopher repetition,
    * the Moore-Lewis / lmScore bigram streams) can tokenize a corpus
    * ONCE and derive every order from the token array (r21, guide §6:
    * re-reading 100 TB of text once per n-gram order is an I/O
    * multiplier, not a constant). */
  def token_ngrams(tokens: Column, n: Int): Column =
    GraftColumnBridge.column(TokenNgrams(GraftColumnBridge.expression(tokens), n))

  /** Sorted DISTINCT hashes of every `k`-CODEPOINT gram — [[winnow]]'s
    * gram layer WITHOUT the window selection: the full shingle-hash
    * SET, for exact set operations (containment, intersection counts)
    * where winnowing's sampled fingerprints would under-count. Same
    * FNV-1a-over-codepoints hash, same 63-bit truncation, so the
    * existing per-gram SQL replay applies verbatim, and a CHARACTER
    * `substr` replay is exact even off ASCII. (Distinct from
    * [[graft.functions.VectorHashes.ngram_hashes]], the BYTE-window
    * variant that shares internals with the pair-confirm kernels.)
    * A string shorter than `k` yields its single short gram (matching
    * [[winnow]]). */
  def cp_ngram_hashes(c: Column, k: Int): Column =
    GraftColumnBridge.column(CpNgramHashes(GraftColumnBridge.expression(c), k))

  // ------------------------------------------------------ static helpers
  // (public + JVM-static so generated code can call them)

  /** FNV-1a 64-bit over UTF-8 bytes — a cheap, stable per-token hash.
    * (Deliberately not Spark's xxhash64 so the fingerprint is defined by
    * THIS library, independent of Spark internals.) */
  def fnv1a64(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  def simhashOf(arr: ArrayData): Long = {
    val counts = new Array[Int](64)
    val n = arr.numElements()
    var t = 0
    while (t < n) {
      if (!arr.isNullAt(t)) {
        val h = fnv1a64(arr.getUTF8String(t))
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      t += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  def rollingHashOf(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      h = h * 1000003L + (bytes(i) & 0xffL)
      i += 1
    }
    h
  }

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming64(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.bit_count(a.bitwiseXOR(b))

  /** [[winnow]]'s evaluator. Codepoint-based (NOT bytes) so the same
    * definition replays in the DuckDB oracle via `unicode(substr(...))`;
    * `>>> 1` keeps every value in the non-negative signed range. A
    * shorter-than-`k` text is one gram (whole text, the shingle-family
    * convention); fewer than `w` grams are one window. O(grams x w)
    * window scan — w is small and bounded, no deque needed. */
  /** All per-position k-CODEPOINT-gram FNV hashes of `s` (the
    * [[winnowOf]] gram loop verbatim), sorted distinct — the complete
    * shingle-hash set. */
  def cpNgramHashesOf(s: UTF8String, k: Int): ArrayData = {
    val str = s.toString
    val len = str.length
    val cps = new Array[Int](str.codePointCount(0, len))
    var ci = 0
    var i = 0
    while (i < len) {
      val cp = str.codePointAt(i)
      cps(ci) = cp; ci += 1; i += Character.charCount(cp)
    }
    val g = math.max(cps.length - k + 1, 1)
    val selected = new java.util.TreeSet[java.lang.Long]()
    var j = 0
    while (j < g) {
      var h = 0xcbf29ce484222325L
      var t = j
      val end = math.min(j + k, cps.length)
      while (t < end) { h ^= cps(t).toLong; h *= 0x100000001b3L; t += 1 }
      selected.add(h >>> 1)
      j += 1
    }
    val out = new Array[Long](selected.size)
    var o = 0
    val it = selected.iterator()
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  def winnowOf(s: UTF8String, k: Int, w: Int): ArrayData = {
    val str = s.toString
    val len = str.length
    val cps = new Array[Int](str.codePointCount(0, len))
    var ci = 0
    var i = 0
    while (i < len) {
      val cp = str.codePointAt(i)
      cps(ci) = cp; ci += 1; i += Character.charCount(cp)
    }
    val g = math.max(cps.length - k + 1, 1)
    val grams = new Array[Long](g)
    var j = 0
    while (j < g) {
      var h = 0xcbf29ce484222325L
      var t = j
      val end = math.min(j + k, cps.length)
      while (t < end) { h ^= cps(t).toLong; h *= 0x100000001b3L; t += 1 }
      grams(j) = h >>> 1
      j += 1
    }
    val nw = math.max(g - w + 1, 1)
    val selected = new java.util.TreeSet[java.lang.Long]()
    var x = 0
    while (x < nw) {
      var m = java.lang.Long.MAX_VALUE
      var y = x
      val wend = math.min(x + w, g)
      while (y < wend) { if (grams(y) < m) m = grams(y); y += 1 }
      selected.add(m)
      x += 1
    }
    val out = new Array[Long](selected.size)
    var o = 0
    val it = selected.iterator()
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  /** Java-regex `\p{N}` is Nd|Nl|No — `Character.isDigit` alone is only
    * Nd, so the two extra categories are checked explicitly. */
  private def isTokenCp(cp: Int): Boolean = Character.isLetter(cp) || {
    val t = Character.getType(cp)
    t == Character.DECIMAL_DIGIT_NUMBER || t == Character.LETTER_NUMBER ||
      t == Character.OTHER_NUMBER
  }

  /** [[word_ngrams]]'s evaluator: one pass to extract token runs, one
    * O(tokens x n) pass to join windows. */
  def wordNgramsOf(s: UTF8String, n: Int): ArrayData = {
    val lowered = s.toLowerCase.toString
    val tokens = new java.util.ArrayList[String]()
    val sb = new java.lang.StringBuilder()
    var i = 0
    val len = lowered.length
    while (i < len) {
      val cp = lowered.codePointAt(i)
      if (isTokenCp(cp)) sb.appendCodePoint(cp)
      else if (sb.length > 0) { tokens.add(sb.toString); sb.setLength(0) }
      i += Character.charCount(cp)
    }
    if (sb.length > 0) tokens.add(sb.toString)
    val t = tokens.size
    if (t < n) return new org.apache.spark.sql.catalyst.util.GenericArrayData(
      new Array[Any](0))
    val out = new Array[Any](t - n + 1)
    var j = 0
    while (j < t - n + 1) {
      sb.setLength(0)
      var q = 0
      while (q < n) {
        if (q > 0) sb.append(' ')
        sb.append(tokens.get(j + q))
        q += 1
      }
      out(j) = UTF8String.fromString(sb.toString)
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** [[token_ngrams]]'s evaluator: the window-join half of
    * [[wordNgramsOf]], verbatim, over a prebuilt token array. Tokens
    * must be non-null (the [[word_ngrams]] output contract —
    * containsNull = false). */
  def tokenNgramsOf(arr: ArrayData, n: Int): ArrayData = {
    val t = arr.numElements()
    if (t < n) return new org.apache.spark.sql.catalyst.util.GenericArrayData(
      new Array[Any](0))
    val out = new Array[Any](t - n + 1)
    val sb = new java.lang.StringBuilder()
    var j = 0
    while (j < t - n + 1) {
      sb.setLength(0)
      var q = 0
      while (q < n) {
        if (q > 0) sb.append(' ')
        sb.append(arr.getUTF8String(j + q).toString)
        q += 1
      }
      out(j) = UTF8String.fromString(sb.toString)
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** array<string> -> long SimHash (single pass, codegen'd). */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got $other")
  }
  override def dataType: DataType = LongType
  override protected def nullSafeEval(v: Any): Any =
    TextHashes.simhashOf(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHashes.simhashOf($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
  override def prettyName: String = "graft_simhash64"
}

/** string -> long polynomial rolling hash (codegen'd). */
case class RollingHash64(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string input, got ${child.dataType}")
  override def dataType: DataType = LongType
  override protected def nullSafeEval(v: Any): Any =
    TextHashes.rollingHashOf(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHashes.rollingHashOf($c)")
  override protected def withNewChildInternal(newChild: Expression): RollingHash64 =
    copy(child = newChild)
  override def prettyName: String = "graft_rolling_hash64"
}

/** string -> sorted distinct array<long> of ALL k-codepoint-gram
  * hashes (codegen'd; see [[TextHashes.cp_ngram_hashes]]). */
case class CpNgramHashes(child: Expression, k: Int) extends UnaryExpression {
  require(k > 0, s"cp_ngram_hashes needs k > 0, got $k")
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string input, got ${child.dataType}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    TextHashes.cpNgramHashesOf(v.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHashes.cpNgramHashesOf($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): CpNgramHashes =
    copy(child = newChild)
  override def prettyName: String = "graft_cp_ngram_hashes"
}

/** string -> sorted distinct array<long> winnowing signature
  * (codegen'd; see [[TextHashes.winnow]]). */
case class Winnow(child: Expression, k: Int, w: Int)
  extends UnaryExpression {
  require(k > 0 && w > 0, s"winnow needs k > 0 and w > 0, got k=$k w=$w")
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string input, got ${child.dataType}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    TextHashes.winnowOf(v.asInstanceOf[UTF8String], k, w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHashes.winnowOf($c, $k, $w)")
  override protected def withNewChildInternal(newChild: Expression): Winnow =
    copy(child = newChild)
  override def prettyName: String = "graft_winnow"
}

/** string -> array<string> word n-grams (codegen'd; see
  * [[TextHashes.word_ngrams]]). */
case class WordNgrams(child: Expression, n: Int) extends UnaryExpression {
  require(n > 0, s"word_ngrams needs n > 0, got $n")
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string input, got ${child.dataType}")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    TextHashes.wordNgramsOf(v.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHashes.wordNgramsOf($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): WordNgrams =
    copy(child = newChild)
  override def prettyName: String = "graft_word_ngrams"
}

/** array<string> (a prebuilt token array) -> array<string> word
  * n-grams (codegen'd; see [[TextHashes.token_ngrams]]). */
case class TokenNgrams(child: Expression, n: Int) extends UnaryExpression {
  require(n > 0, s"token_ngrams needs n > 0, got $n")
  // the kernel reads every element as a string: an array type that
  // admits null elements is refused here, at analysis, instead of
  // failing with an NPE on the executor
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, false) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string> whose elements cannot be " +
        s"null (containsNull = false), got $other")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    TextHashes.tokenNgramsOf(v.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHashes.tokenNgramsOf($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): TokenNgrams =
    copy(child = newChild)
  override def prettyName: String = "graft_token_ngrams"
}

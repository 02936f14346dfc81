package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BPE VOCABULARY INDUCTION (Sennrich, Haddow & Birch 2016, "Neural
  * Machine Translation of Rare Words with Subword Units") — train the
  * tokenizer's merge table ON the corpus: start from characters,
  * repeatedly fuse the most frequent adjacent symbol pair. The merge
  * table IS the tokenizer artifact; every LLM pipeline runs exactly
  * this job once per corpus before anything downstream can count a
  * token honestly.
  *
  * The reference engine has nothing in this family (its per-record Lua
  * transforms never aggregate; SURVEY §2.3) — this is part of the
  * mandated training-data band.
  *
  * Determinism recipe: pure integer pair counts; the per-round merge
  * winner is a TOTAL order (count DESC, left symbol ASC, right symbol
  * ASC — binary string compare in both engines), so ties break
  * identically everywhere (early rounds tie constantly: the classic
  * low/lower/newest/widest example opens with a 9–9 tie). Left-to-
  * right non-overlapping merge application is reformulated
  * index-parallel (see [[applyMerge]]) so it is a per-row HOF chain —
  * no UDF, no sequential state — and replays verbatim in DuckDB.
  *
  * Scale shape — the 100 TB story is the word-count reduction: BPE
  * statistics are a function of the DISTINCT-WORD frequency table,
  * not the corpus. One corpus-wide token count (map-side partials)
  * reduces 100 TB of text to |vocab| slim rows; every round then runs
  * on THAT table — pair counts shuffle (symbol, symbol, count) rows,
  * and the argmax is ONE collected row per round (the fsEmWeights
  * driver-collect contract) — with per-round lineage pins (the
  * PageRank round discipline). Word length is loudly capped
  * ([[MaxWordLen]]): an over-long "word" means pre-tokenization failed
  * upstream, and it would quadratically inflate the per-row HOF work.
  *
  * Simplification vs the paper, documented: no end-of-word marker
  * symbol ([[TextAnalysis.tokens]] already strips punctuation; the
  * marker is one more literal per word and changes no mechanics).
  */
object Tokenizer {

  /** Loud cap on pre-tokenized word length (codepoints). */
  private[graft] val MaxWordLen = 64

  /** Characters of `w` as an array of 1-codepoint strings (substr
    * probe, identical semantics in DuckDB — deliberately NOT
    * split-on-empty-pattern, whose edge behavior differs across
    * engines). */
  private[graft] def charSyms(w: Column): Column =
    transform(sequence(lit(1), length(w)), i => w.substr(i, lit(1)))

  /** One merge rule applied to every word of `words`: fuse
    * LEFT-TO-RIGHT non-overlapping occurrences of the adjacent symbol
    * pair (a, b) in the `syms` array into a||b; all other columns pass
    * through. The sequential LTR scan is index-parallel: within each
    * maximal run of consecutive matching positions the scan fuses at
    * the 1st, 3rd, 5th… offset, so `st(i)` ("a fuse starts at i") is
    * "i matches AND its distance past the nearest preceding non-match
    * is odd", and position i is dropped iff `st(i-1)`. Three
    * withColumn stages so each intermediate array is computed ONCE per
    * row and later lambdas only index BOUND columns (the q_skipgram
    * kernel-in-own-projection lesson — referencing a big expression
    * inside a HOF lambda re-evaluates it per element). O(len^2)
    * tiny-integer work per word, bounded by [[MaxWordLen]]. */
  private[graft] def applyMerge(words: DataFrame, a: String, b: String)
      : DataFrame = {
    val syms = col("syms")
    words
      .withColumn("m",
        when(size(syms) < 2, array().cast("array<boolean>"))
          .otherwise(transform(sequence(lit(1), size(syms) - 1), i =>
            (element_at(syms, i) === lit(a)) &&
              (element_at(syms, i + 1) === lit(b)))))
      .withColumn("st",
        when(size(col("m")) < 1, array().cast("array<boolean>"))
          .otherwise(transform(sequence(lit(1), size(col("m"))), i =>
            element_at(col("m"), i) &&
              (((i - coalesce(array_max(filter(sequence(lit(1), i), j =>
                !element_at(col("m"), j))), lit(0))) % 2) === 1))))
      .withColumn("syms",
        transform(
          filter(sequence(lit(1), size(syms)), i =>
            !coalesce(get(col("st"), i - 2), lit(false))),
          i => when(coalesce(get(col("st"), i - 1), lit(false)), lit(a + b))
            .otherwise(element_at(syms, i))))
      .drop("m", "st")
  }

  /** Corpus word-frequency table as `(cnt, syms)` plus any of
    * `keep`'s columns — shared entry of [[bpeMerges]] (global table)
    * and [[bpeEncode]] (per-doc table). */
  private def wordSyms(corpus: DataFrame, textCol: String,
      keep: Seq[String]): DataFrame = {
    val keyCols = keep.map(col) :+ col("w")
    corpus
      .select(keep.map(col) :+
        explode(TextAnalysis.tokens(col(textCol))).as("w"): _*)
      .groupBy(keyCols: _*).agg(count(lit(1)).as("cnt"))
      .where(assert_true(length(col("w")) <= lit(MaxWordLen),
        concat(lit("bpe: word '"), col("w"),
          lit(s"' exceeds $MaxWordLen codepoints — pre-tokenization " +
            "failed upstream (missing whitespace?); fix the corpus or " +
            "split the run"))).isNull)
      .select(keep.map(col) :+ col("cnt") :+
        charSyms(col("w")).as("syms"): _*)
  }

  /** Train `rounds` BPE merges on `corpus(textCol)`; returns the merge
    * table `(round, l, r, merged, pc)` — `pc` the winning pair's
    * corpus frequency (with multiplicity, weighted by word count).
    * Training stops at symbol exhaustion (every word fused to one
    * symbol), so the table may end early. Each round's word table is
    * pinned ([[Pins]]). */
  def bpeMerges(corpus: DataFrame, textCol: String, rounds: Int,
      checkpointDir: Option[String] = None): DataFrame = {
    require(rounds >= 1 && rounds <= 256,
      s"bpeMerges: rounds must be in [1, 256], got $rounds")
    val pins = Pins(corpus.sparkSession, checkpointDir)
    // (words, merge table so far); every state-changing round adds one
    // merge, so the `rounds` bound is reached by returning None, never
    // by a refusal
    val ((_, merges), _) = Fixpoint.iterate("bpeMerges",
        (pins(wordSyms(corpus, textCol, keep = Nil)),
          Vector.empty[(Int, String, String, String, Long)]), rounds)(
        s => Seq(s._1)) { case (words, merges) =>
      if (merges.size == rounds) None
      else words
        .select(col("cnt"), col("syms"),
          explode(when(size(col("syms")) < 2, array().cast("array<int>"))
            .otherwise(sequence(lit(1), size(col("syms")) - 1))).as("i"))
        .groupBy(element_at(col("syms"), col("i")).as("l"),
          element_at(col("syms"), col("i") + 1).as("r"))
        .agg(sum(col("cnt")).as("pc"))
        .orderBy(desc("pc"), asc("l"), asc("r"))
        .limit(1).collect().headOption
        // None: no adjacent pairs remain, every later round is a no-op
        .map { top =>
          val (l, r, pc) = (top.getString(0), top.getString(1), top.getLong(2))
          (pins(applyMerge(words, l, r)),
            merges :+ ((merges.size + 1, l, r, l + r, pc)))
        }
    }
    corpus.sparkSession.createDataFrame(merges)
      .toDF("round", "l", "r", "merged", "pc")
  }

  /** Driver-local BPE training fast path — lifts [[bpeMerges]]' 256-
    * round ceiling (one distributed argmax round-trip PER RULE makes a
    * realistic 30k-merge table untrainable there; serving already
    * handles any rule count via [[graft.functions.Bpe]]). The key
    * scale fact makes this SOUND, not a shortcut: BPE statistics are a
    * function of the DISTINCT-WORD frequency table, which is
    * vocab-bounded — small at ANY corpus scale — so ONE distributed
    * word count reduces 100 TB of text to a driver-sized table
    * (loudly guarded by `maxWords`; the collect is `limit`-bounded so
    * an over-vocab corpus raises instead of OOMing the driver), and
    * the Sennrich loop runs locally at memory speed: count adjacent
    * pairs with word multiplicity, pick the (count DESC, l ASC, r ASC)
    * winner under UTF-8 BINARY string order (exactly Spark's and
    * DuckDB's ASC — a UTF-16 `String` compare would diverge on
    * supplementary codepoints), fuse left-to-right non-overlapping.
    * BIT-IDENTICAL to [[bpeMerges]] round for round (TokenizerSpec
    * pins it, q_bpe_local oracles a 64-round table end-to-end);
    * rounds after symbol exhaustion emit nothing, identically. */
  def bpeMergesLocal(corpus: DataFrame, textCol: String, rounds: Int,
      maxWords: Int = 1 << 20): DataFrame = {
    require(rounds >= 1 && rounds <= (1 << 20),
      s"bpeMergesLocal: rounds must be in [1, 2^20], got $rounds")
    val collected = wordSyms(corpus, textCol, keep = Nil)
      .limit(maxWords + 1).collect()
    require(collected.length <= maxWords,
      s"bpeMergesLocal: distinct-word table exceeds maxWords=$maxWords " +
        "— this corpus' vocabulary is not driver-sized; raise maxWords " +
        "deliberately or use the distributed bpeMerges rounds")
    var words = collected.map(r =>
      (r.getLong(0), r.getSeq[String](1).toArray))
    def utf8Lt(a: String, b: String): Boolean = {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      val n = math.min(x.length, y.length)
      while (i < n) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c < 0
        i += 1
      }
      x.length < y.length
    }
    val out = Seq.newBuilder[(Int, String, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val pc = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (cnt, syms) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          pc.update(k, pc.getOrElse(k, 0L) + cnt)
          i += 1
        }
      }
      if (pc.isEmpty) exhausted = true
      else {
        val ((l, rr), c) = pc.reduceLeft { (best, cand) =>
          val ((bl, br), bc) = best
          val ((cl, cr), cc) = cand
          if (cc > bc || (cc == bc && (utf8Lt(cl, bl) ||
            (cl == bl && utf8Lt(cr, br))))) cand else best
        }
        out += ((r, l, rr, l + rr, c))
        words = words.map { case (cnt, syms) =>
          if (syms.length < 2) (cnt, syms)
          else {
            val b = Array.newBuilder[String]
            var i = 0
            while (i < syms.length) {
              if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == rr) {
                b += l + rr; i += 2
              } else { b += syms(i); i += 1 }
            }
            (cnt, b.result())
          }
        }
        r += 1
      }
    }
    corpus.sparkSession.createDataFrame(out.result())
      .toDF("round", "l", "r", "merged", "pc")
  }

  /** Serve a TRAINED merge table: re-tokenize `df`'s docs and report
    * per-doc `(idCol, n_chars_alpha, n_bpe)` — total tokenized
    * codepoints vs BPE token count under `mergesInOrder` (the (l, r)
    * pairs of [[bpeMerges]]' output, in round order); their ratio is
    * the tokenizer's compression on that doc. The whole table is
    * applied by ONE codegen'd kernel ([[graft.functions.Bpe]]) over the
    * doc's distinct-word counts — plan depth O(1) in the rule count
    * (production tables hold 30k+ merges; the old fold path spent
    * three projections PER RULE and was capped at 256), per-row work,
    * one narrow aggregate, document text never shuffles after the word
    * count. Byte parity with the fold is spec-pinned (BpeKernelSpec). */
  def bpeEncode(df: DataFrame, idCol: String, textCol: String,
      mergesInOrder: Seq[(String, String)]): DataFrame = {
    require(mergesInOrder.size <= (1 << 20),
      s"bpeEncode: ${mergesInOrder.size} rules exceed the 2^20 sanity " +
        "cap — no trained tokenizer is this large; suspect a bad table")
    val base = wordSyms(df, textCol, keep = Seq(idCol))
    val encoded = base.withColumn("syms",
      graft.functions.Bpe.bpe_apply(col("syms"), mergesInOrder))
    encodeStats(encoded, idCol)
  }

  /** The pre-kernel fold path (three [[applyMerge]] projections per
    * rule, hence the hard cap) — kept as the independently-derived
    * parity anchor for the kernel spec, not a serving path. */
  private[graft] def bpeEncodeFold(df: DataFrame, idCol: String,
      textCol: String, mergesInOrder: Seq[(String, String)]): DataFrame = {
    require(mergesInOrder.size <= 256,
      s"bpeEncodeFold: ${mergesInOrder.size} rules exceed the 256-rule " +
        "plan-size cap (three projections per rule)")
    val base = wordSyms(df, textCol, keep = Seq(idCol))
    val encoded = mergesInOrder.foldLeft(base) {
      case (acc, (a, b)) => applyMerge(acc, a, b) }
    encodeStats(encoded, idCol)
  }

  /** Shared tail of the encode paths: per-doc token/codepoint totals
    * over the encoded distinct-word table. */
  private def encodeStats(encoded: DataFrame, idCol: String): DataFrame =
    encoded
      .groupBy(col(idCol))
      .agg(sum(col("cnt") * size(col("syms"))).as("n_bpe"),
        sum(col("cnt") *
          aggregate(col("syms"), lit(0), (s, x) => s + length(x)))
          .as("n_chars_alpha"))
      .select(col(idCol), col("n_chars_alpha"), col("n_bpe"))
}

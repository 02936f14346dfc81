package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpecBase

class TextAnalysisSpec extends SparkSpecBase with org.scalatest.matchers.should.Matchers {
  import spark.implicits._

  test("token counts, punct ratio, stopword ratio on a known sentence") {
    val df = Seq("The cat, and the dog!").toDF("text").select(
      TextAnalysis.whitespaceTokenCount($"text").as("ws"),
      TextAnalysis.subwordTokenCount($"text").as("sub"),
      TextAnalysis.punctRatio($"text").as("punct"),
      TextAnalysis.stopwordRatio($"text").as("stop"))
    val r = df.head()
    r.getAs[Int]("ws") shouldBe 5
    r.getAs[Int]("sub") shouldBe 7 // The, cat, ",", and, the, dog, "!"
    r.getAs[Double]("punct") shouldBe (2.0 / 21.0) +- 1e-12
    r.getAs[Double]("stop") shouldBe (3.0 / 5.0) +- 1e-12 // the, and, the
  }

  test("empty text yields zeros, not NaN/div-by-zero") {
    val r = Seq("").toDF("text").select(
      TextAnalysis.punctRatio($"text").as("p"),
      TextAnalysis.stopwordRatio($"text").as("s"),
      TextAnalysis.meanTokenLength($"text").as("m")).head()
    r.getDouble(0) shouldBe 0.0
    r.getDouble(1) shouldBe 0.0
    r.getDouble(2) shouldBe 0.0
  }

  test("langId picks the dominant marker language, und for no markers") {
    val df = Seq(
      "the cat and the dog is in that house",
      "der hund und die katze ist nicht hier",
      "el perro y la casa es de los gatos",
      "xyzzy plugh 12345").toDF("text")
      .select(TextAnalysis.langId($"text").as("lang"))
    df.as[String].collect() shouldBe Array("en", "de", "es", "und")
  }

  test("langId detects UNSEGMENTED Chinese (no token separators — marker " +
      "chars are counted as substrings, not whole tokens)") {
    val df = Seq(
      "这是我的书，他有很多书。",        // natural unsegmented zh clause
      "我 的 书",                       // pre-segmented zh still works
      "the book is mine").toDF("text")
      .select(TextAnalysis.langId($"text").as("lang"))
    df.as[String].collect() shouldBe Array("zh", "zh", "en")
  }

  test("ngrams slides a word window; short docs yield [], not a " +
      "descending-sequence artifact") {
    val df = Seq("The cat and the dog", "one two", "solo", "")
      .toDF("text").select(TextAnalysis.ngrams($"text", 2).as("ng"))
    val r = df.as[Seq[String]].collect()
    r(0) shouldBe Seq("the cat", "cat and", "and the", "the dog")
    r(1) shouldBe Seq("one two")
    r(2) shouldBe Seq.empty // 1 token < n=2: the sequence(1,0) guard
    r(3) shouldBe Seq.empty
  }

  test("ngrams kernel is bit-identical to the HOF Column model it replaced") {
    // null included: kernel null-propagates and the model's isNull arm
    // must match (a bare size(null)>=n guard would yield [] instead)
    val texts = Seq("The cat, and the dog!", "", "solo", "a  b\tc\nd",
      "é ß 中文 x1", "🙂 emoji only 🍕", "1 2 3 4 5", null)
    for (n <- 1 to 3) {
      val both = texts.toDF("text").select(
        TextAnalysis.ngrams($"text", n).as("kernel"),
        TextAnalysis.ngramsColumnModel($"text", n).as("model"))
        .as[(Seq[String], Seq[String])].collect()
      both.zipWithIndex.foreach { case ((k, m), i) =>
        withClue(s"n=$n text='${texts(i)}': ") { k shouldBe m }
      }
    }
  }

  test("topNgrams counts corpus-wide with (cnt DESC, ngram ASC) ties") {
    val df = Seq("a b a b", "a b c").toDF("text")
    val r = TextAnalysis.topNgrams(df, "text", n = 2, k = 3)
      .as[(String, Long)].collect()
    // "a b" x3 ("a b a b" contributes 2), then "b a" / "b c" tie at 1
    r shouldBe Array(("a b", 3L), ("b a", 1L), ("b c", 1L))
  }

  test("collocations: hand-computed lift — a glued pair outranks a " +
      "frequent-word pair; the floor drops rare pairs") {
    // Corpus: "new york" always together (3x), "the" everywhere.
    // tokens: doc1 [the new york the] doc2 [new york the] doc3
    // [the new york] -> N=10, c(the)=4, c(new)=3, c(york)=3
    val df = Seq("the new york the", "new york the", "the new york")
      .toDF("text")
    val r = TextAnalysis.collocations(df, "text", minCount = 2)
      .as[(String, Long, Long, Long, Double)].collect()
      .map(t => t._1 -> t).toMap
    // "new york": c_xy=3 -> 3*10/(3*3) = 10/3
    r("new york")._5 shouldBe (3.0 * 10.0 / (3.0 * 3.0))
    r("new york")._2 shouldBe 3L
    // "york the": c_xy=2 -> 2*10/(3*4) = 5/3 — together less than
    // independence-adjusted "new york" despite "the" being frequent
    r("york the")._5 shouldBe (2.0 * 10.0 / (3.0 * 4.0))
    r("new york")._5 should be > r("york the")._5
    // pairs under the floor ("the new" occurs 2x, kept; nothing at 1x)
    r.keySet shouldBe Set("new york", "york the", "the new")
  }

  test("tfidfTopTerms ranks rare terms above common ones, ties by term") {
    // 3 docs; "common" in all (df=3), each doc has one unique term (df=1)
    val df = Seq(
      (1L, "common unique1 common"),
      (2L, "common unique2"),
      (3L, "common unique3")).toDF("doc_id", "text")
    val r = TextAnalysis.tfidfTopTerms(df, "doc_id", "text", k = 2)
      .select($"doc_id", $"rk", $"term", $"tfidf")
      .as[(Long, Int, String, Double)].collect()
    // doc 1: tf(common)=2 -> 2*4/4 = 2.0; tf(unique1)=1 -> 1*4/2 = 2.0
    //        EQUAL scores -> term ascending puts "common" first
    r.filter(_._1 == 1L).map(t => (t._3, t._4)) shouldBe
      Array(("common", 2.0), ("unique1", 2.0))
    // docs 2/3: unique (1*4/2 = 2.0) beats common (1*4/4 = 1.0)
    r.filter(_._1 == 2L).map(t => (t._3, t._4)) shouldBe
      Array(("unique2", 2.0), ("common", 1.0))
    r.filter(_._1 == 3L).head._3 shouldBe "unique3"
  }

  test("ngrams matches the tokens.sliding model on seeded random text " +
      "for n in 1..4 (count = max(0, tokens - n + 1), grams reconstruct)") {
    val rng = new scala.util.Random(42)
    val words = Seq("the", "cat", "dog", "a", "b", "x1", "中文", "café", "")
    val sentences = Seq.fill(40) {
      Seq.fill(rng.nextInt(8))(words(rng.nextInt(words.length)))
        .mkString(Seq(" ", "  ", ", ", "! ")(rng.nextInt(4)))
    }
    for (n <- 1 to 4) {
      val got = sentences.toDF("text")
        .select(TextAnalysis.ngrams($"text", n).as("ng"))
        .as[Seq[String]].collect()
      sentences.zip(got).foreach { case (s, g) =>
        // same tokenizer as TextAnalysis.tokens
        val toks = s.toLowerCase.split("[^\\p{L}\\p{N}]+").filter(_.nonEmpty).toSeq
        val want = if (toks.length < n) Seq.empty
          else toks.sliding(n).map(_.mkString(" ")).toSeq
        withClue(s"n=$n text='$s': ") { g shouldBe want }
      }
    }
  }

  test("token_ngrams refuses a token array whose elements may be null " +
      "at analysis, instead of an NPE on the executor") {
    import graft.functions.TextHashes.token_ngrams
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.range(1)
        .select(token_ngrams(expr("array('a', null, 'b')"), 2))
        .collect()
    }
    e.getMessage should include("containsNull = false")
    spark.range(1)
      .select(token_ngrams(expr("array('a', 'b', 'c')"), 2))
      .as[Seq[String]].head() shouldBe Seq("a b", "b c")
  }

  test("chunkDocuments windows cover the text with the stated overlap; " +
      "short docs are one chunk, empty docs none") {
    val df = Seq((1L, "abcdefghij"), (2L, "abc"), (3L, "")).toDF("id", "text")
    val r = TextAnalysis.chunkDocuments(df, "id", "text", size = 5, overlap = 2)
      .orderBy("id", "chunk_id").as[(Long, Int, String)].collect()
    r shouldBe Array(
      (1L, 0, "abcde"), (1L, 1, "defgh"), (1L, 2, "ghij"), // starts 1,4,7
      (2L, 0, "abc"))
    // reconstruction: dropping each chunk's overlap prefix rebuilds the text
    val doc1 = r.filter(_._1 == 1L).map(_._3)
    (doc1.head +: doc1.tail.map(_.drop(2)).toSeq).mkString shouldBe "abcdefghij"
  }

  test("chunkText boundary: len exactly size -> 1 chunk; size+1 -> 2") {
    val df = Seq("a" * 5, "a" * 6).toDF("text")
      .select(org.apache.spark.sql.functions.size(
        TextAnalysis.chunkText($"text", 5, 2)).as("n"))
    df.as[Int].collect() shouldBe Array(1, 2)
  }

  test("fingerprint is whitespace/case-normalized and order-sensitive") {
    val fp = Seq("Hello   World", "hello world", "world hello")
      .toDF("text").select(TextAnalysis.fingerprint($"text")).as[Long].collect()
    fp(0) shouldBe fp(1)
    fp(0) should not be fp(2)
  }

  test("fused TextStats kernel is bit-identical to the Column phrasing") {
    // Tricky shapes: punctuation runs, digits, unicode letters (é, ß, 中),
    // non-breaking space (NOT Java-regex \s), empty, ws-only, short text.
    val docs = Seq(
      "The cat, and the dog!", "", "   ", "a", "ab5cd 12 x.y,z",
      "café straße 中文 mixed CASE Text",
      "nbsp joined", "tabs\tand\nnewlines\r\nhere",
      "!!!???...;;;:::", "word " * 100)
    val df = docs.toDF("text")
    val t = col("text")
    val fused = df.select(
      graft.functions.TextStatsKernel.text_stats(t, lower(t)).as("s"))
      .select(col("s.*")).collect()
    val ref = df.select(
      org.apache.spark.sql.functions.length(t).cast("long").as("n_chars"),
      TextAnalysis.whitespaceTokenCount(t).cast("long").as("n_tokens_ws"),
      TextAnalysis.subwordTokenCount(t).cast("long").as("n_tokens_subword"),
      TextAnalysis.meanTokenLength(t).as("mean_token_len"),
      TextAnalysis.punctRatio(t).as("punct_ratio"),
      TextAnalysis.stopwordRatio(t).as("stopword_ratio"),
      TextAnalysis.qualityScore(t).as("quality")).collect()
    fused.zip(ref).zipWithIndex.foreach { case ((f, r), i) =>
      withClue(s"doc $i (${docs(i).take(30)}): ") { f shouldBe r }
    }
  }

  test("topTokens ranks by frequency with token tie-break") {
    val df = Seq((1L, "b b b a a c"), (2L, "a d")).toDF("id", "text")
    val top = TextAnalysis.topTokens(df, "text", 3)
      .as[(String, Long)].collect()
    top shouldBe Array(("a", 3L), ("b", 3L), ("c", 1L)) // a before b on tie
  }

  test("repetitionRatio: 0 for all-distinct, high for looping text") {
    val r = Seq("abcdefghij", "ababababababababab", "")
      .toDF("text")
      .select(TextAnalysis.repetitionRatio($"text").as("r"))
      .as[Double].collect()
    r(0) shouldBe 0.0
    r(1) should be > 0.8 // 2-periodic string: only 2 distinct 5-grams
    r(2) shouldBe 0.0
  }

  test("withSplit: content-determined, id-independent, valid labels") {
    val df = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (999L, "the quick brown fox jumps over the lazy dog"),
      (2L, "an entirely different document about cats"))
      .toDF("id", "text")
    val s = TextAnalysis.withSplit(df, "text")
      .select("id", "split").as[(Long, String)].collect().toMap
    s(1L) shouldBe s(999L) // same content -> same split, whatever the id
    Set("train", "val", "test") should contain(s(2L))
  }

  test("documentFeatures produces the full feature row") {
    val df = Seq((7L, "The quick brown fox.")).toDF("doc_id", "text")
    val r = TextAnalysis.documentFeatures(df, "doc_id", "text").head()
    r.getAs[Long]("doc_id") shouldBe 7L
    r.getAs[Long]("n_chars") shouldBe 20L
    r.getAs[Long]("n_tokens_ws") shouldBe 4L
    r.getAs[String]("lang_pred") shouldBe "en"
    r.getAs[Double]("quality") should (be > 0.0 and be <= 1.0)
  }

  test("mixCorpus: content-determined, duplicate-consistent, rate-monotone") {
    val df = (1L to 200L).map(i => (i, s"src${i % 2}", s"document number ${i / 2}"))
      .toDF("id", "source", "text") // ids 2k,2k+1 share text across sources
    val kept = TextAnalysis.mixCorpus(df, "text", "source",
        rates = Map("src0" -> 0.5), defaultRate = 1.0)
      .select("id").as[Long].collect().toSet
    // default-rate group keeps everything
    (1L to 200L by 2).foreach(i => kept should contain(i)) // src1 ids are odd
    // rate 0 and 1 are exact
    TextAnalysis.mixCorpus(df, "text", "source", Map("src0" -> 0.0, "src1" -> 0.0))
      .count() shouldBe 0L
    TextAnalysis.mixCorpus(df, "text", "source", Map.empty)
      .count() shouldBe 200L
    // content decides: the same text is kept-or-dropped identically
    // whatever the id (compare src0 decisions against a relabeled copy)
    val relabeled = df.withColumn("id", col("id") + 10000)
    val k2 = TextAnalysis.mixCorpus(relabeled, "text", "source",
        rates = Map("src0" -> 0.5), defaultRate = 1.0)
      .select("id").as[Long].collect().map(_ - 10000).toSet
    k2 shouldBe kept
  }

  test("packSequences assigns concat-and-chunk pack ids per stream") {
    // stream A: 3+4+5 tokens, capacity 6: doc1 [0,3) pack0; doc2 [3,7)
    // pack0 offset3 SPANS into pack1; doc3 [7,12) pack1 offset1
    // stream B independent: doc10 [0,6) pack0 exactly full (no span);
    // doc11 [6,8) pack1 offset0; empty doc12 never spans
    val df = Seq(
      (1L, "A", "a b c"), (2L, "A", "d e f g"), (3L, "A", "h i j k l"),
      (10L, "B", "t u v w x y"), (11L, "B", "z z"), (12L, "B", "")
    ).toDF("doc_id", "source", "text")
    val got = TextAnalysis.packSequences(df, "doc_id",
        TextAnalysis.whitespaceTokenCount($"text"), "source", 6L)
      .select("doc_id", "pack_id", "pack_offset", "spans_packs")
      .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1)
    got.toSeq shouldBe Seq(
      (1L, 0L, 0L, false), (2L, 0L, 3L, true), (3L, 1L, 1L, false),
      (10L, 0L, 0L, false), (11L, 1L, 0L, false), (12L, 1L, 2L, false))
  }

  test("packSequences matches the sequential-packer model on random corpora") {
    // Randomized model check: many streams of random sizes with zero-,
    // small-, and over-capacity-token docs, vs the obvious sequential
    // packer (sort by id within stream, running head-to-tail layout).
    // Pins the window's partitioning/ordering/frame and the
    // empty-stream-prefix coalesce against the definition rather than
    // hand-picked rows.
    val rng = new scala.util.Random(53)
    val capacity = 16L
    val rows = (0 until 400).map { i =>
      val stream = "s" + rng.nextInt(7)
      val nTok = rng.nextInt(6) match {
        case 0 => 0L                      // empty doc
        case 5 => 16L + rng.nextInt(30)   // > capacity: must span
        case _ => 1L + rng.nextInt(12)
      }
      (i.toLong, stream, nTok)
    }
    val got = TextAnalysis.packSequences(
        rows.toDF("doc_id", "stream", "n"), "doc_id", $"n", "stream", capacity)
      .select("doc_id", "pack_id", "pack_offset", "spans_packs")
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    val want = rows.groupBy(_._2).values.flatMap { stream =>
      var cum = 0L
      stream.sortBy(_._1).map { case (id, _, n) =>
        val entry = id -> (cum / capacity, cum % capacity,
          n > 0 && (cum + n - 1) / capacity > cum / capacity)
        cum += n
        entry
      }
    }.toMap
    got shouldBe want
    // the corpus actually exercised both span outcomes
    got.values.count(_._3) should be > 0
    got.values.count(!_._3) should be > 0
  }

  test("scrub redacts URLs, emails, and long digit runs; keeps the rest") {
    val df = Seq(
      (1L, "see https://ex.com/a?b=1 or mail bob.smith+x@corp.example now"),
      (2L, "acct 1234567890 and short 12345678 stay"),
      (3L, "a URL with userinfo http://u:p@host.example/x is one token"),
      (4L, "nothing to redact here")
    ).toDF("id", "text")
    val out = df.select($"id", TextAnalysis.scrub($"text").as("s"))
      .as[(Long, String)].collect().toMap
    out(1L) shouldBe "see <URL> or mail <EMAIL> now"
    out(2L) shouldBe "acct <NUM> and short 12345678 stay" // 8 digits kept
    out(3L) shouldBe "a URL with userinfo <URL> is one token"
    out(4L) shouldBe "nothing to redact here"
  }

  test("invertedIndex: rarest-first term pick, sorted capped postings, " +
      "per-doc dedup") {
    val docs = Seq(
      (3L, "apple banana apple"), // apple deduped within the doc
      (1L, "apple cherry"),
      (2L, "banana cherry"),
      (4L, "cherry")
    ).toDF("doc_id", "text")
    // df: apple=2, banana=2, cherry=3 -> 2 rarest = apple, banana
    val out = TextAnalysis.invertedIndex(docs, "doc_id", "text",
        numTerms = 2, maxPostings = 10)
      .orderBy("term", "pos").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    out.toSeq shouldBe Seq(
      ("apple", 2L, 1, 1L), ("apple", 2L, 2, 3L),
      ("banana", 2L, 1, 2L), ("banana", 2L, 2, 3L))
    // cap: maxPostings=1 keeps only the lowest doc id
    val capped = TextAnalysis.invertedIndex(docs, "doc_id", "text",
        numTerms = 2, maxPostings = 1)
      .orderBy("term").collect().map(r => (r.getString(0), r.getLong(3)))
    capped.toSeq shouldBe Seq(("apple", 1L), ("banana", 2L))
  }

  test("bm25TopDocs: hand-computed scores, tf saturation, zero-score drop") {
    // N=3, df(cat)=2, avgdl=2. idf = (3-2+0.5)/(2+0.5)+1 = 1.6.
    // d1 (tf=1, dl=2): 1.6 * (1*2.2)/(1 + 1.2*(0.25+0.75*(2/2))) = 1.6
    // d2 (tf=2, dl=3): 1.6 * (2*2.2)/(2 + 1.2*(0.25+0.75*(3/2)))
    //                = 1.6 * 4.4/3.65
    // d3 (tf=0): score 0 -> dropped.
    val docs = Seq((1L, "cat dog"), (2L, "cat cat fish"), (3L, "bird"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.bm25TopDocs(docs, "doc_id", "text", Seq("cat"),
        k1 = 1.2, b = 0.75, k = 10)
      .orderBy("rk").collect()
    out.map(r => (r.getInt(0), r.getLong(1))).toSeq shouldBe
      Seq((1, 2L), (2, 1L))
    out(1).getDouble(3) shouldBe 1.6
    out(0).getDouble(3) shouldBe (1.6 * 4.4 / 3.65 +- 1e-12)
  }

  test("ngramNovelty: hand-built corpus — shared trigrams score 0, " +
      "unique score 1, short docs yield no row, dup-in-doc counts once") {
    val docs = Seq(
      (1L, "the cat sat on the mat"),          // shares "the cat sat"/"cat sat on" with doc 2
      (2L, "the cat sat on a rug"),
      (3L, "entirely novel words here indeed"), // all trigrams unique
      (4L, "too short"),                        // < 3 tokens -> no row
      (5L, "echo echo echo echo")               // one distinct trigram, unique
    ).toDF("doc_id", "text")
    val out = TextAnalysis.ngramNovelty(docs, "doc_id", "text", 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    out.map(_._1).toSeq shouldBe Seq(1L, 2L, 3L, 5L)
    val byId = out.map(t => t._1 -> t).toMap
    byId(1L) shouldBe ((1L, 4L, 2L, 0.5)) // "the cat sat","cat sat on" shared
    byId(2L) shouldBe ((2L, 4L, 2L, 0.5))
    byId(3L) shouldBe ((3L, 3L, 3L, 1.0))
    // "echo echo echo" appears twice in doc 5 but array_distinct keeps
    // one; no other doc has it -> df=1, novelty 1
    byId(5L) shouldBe ((5L, 1L, 1L, 1.0))
  }

  test("qualityGate: each rule fires alone (or with only its forced " +
      "companions), bits combine, clean doc passes") {
    // 16 tokens ("with" + 15 distinct 5-letter words): 94 chars, mean
    // 79/16 = 4.94, stop 1/16, distinct 1.0 -> passes every rule
    val clean = "with alpha bravo crane drape eagle fjord gravy hotel " +
      "inlet joker kayak lemon mango night ocean"
    // 15 distinct 4-letter tokens: 74 chars < 80 but EXACTLY 15 tokens
    // and mean EXACTLY 4.0 (band is inclusive) -> only bit 1
    val shortChars = "with bolt cart dime echo fizz gust hive iris jolt " +
      "kelp lime mint noon opal"
    val tiny = "with tiny" // 9 chars + 2 tokens -> bits 1+2
    // "with" + 15 distinct 7-letter words: mean 109/16 = 6.81 > 5 -> bit 4
    val longWords = "with amplify balance cabbage dolphin elastic fashion " +
      "garment harvest imagine journey kitchen lantern machine nostril oatmeal"
    // 16 distinct 5-letter words, zero stopwords: ratio 0 -> bit 8, and
    // no distinct stopword -> bit 32 (a doc failing 8 with ratio in
    // (0, 0.02) needs > 50 tokens; 8 forces 32 at this size)
    val noStop = "alpha bravo crane drape eagle fjord gravy hotel inlet " +
      "joker kayak lemon mango night ocean pearl"
    // "with" + 29x "wave": distinct 2/30 = 0.07 < 0.30 -> only bit 16
    val repetitive = "with " + Seq.fill(29)("wave").mkString(" ")
    val df = Seq(
      (0L, clean), (1L, shortChars), (2L, tiny), (3L, longWords),
      (4L, noStop), (5L, repetitive), (6L, ""),
      (7L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = TextAnalysis.qualityGate(df, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    out shouldBe Array(
      (0L, 0L, true),
      (1L, 1L, false),
      (2L, 1L + 2L, false),
      (3L, 4L, false),
      (4L, 8L + 32L, false),
      (5L, 16L, false),
      // empty doc: fails chars/tokens/mean/stop-ratio/stop-presence but
      // distinct_ratio DEFAULTS to 1.0 (no tokens = not repetitive)
      (6L, 1L + 2L + 4L + 8L + 32L, false),
      // NULL doc is gated exactly like an empty one — without the
      // coalesce every rule is null-condition false and it would PASS
      (7L, 1L + 2L + 4L + 8L + 32L, false))
  }

  test("temperatureMix: sqrt rebalancing derives hand-computable integer " +
      "cuts (16:4 split at f=0.5 -> cuts 417/833) and applies them " +
      "through the content-hash bucket") {
    // counts with EXACT sqrts: n_a=16 (sqrt 4), n_b=4 (sqrt 2), S=6,
    // N=20: rate_a = (0.5*20)*4/(6*16) = 40/96  -> floor(416.67+0.5) = 417
    //       rate_b = (0.5*20)*2/(6*4)  = 20/24  -> floor(833.33+0.5) = 833
    // the minority group keeps ~2x the rate of the majority.
    val df = ((1 to 16).map(i => (i.toLong, s"alpha document body $i", "a"))
      ++ (17 to 20).map(i => (i.toLong, s"beta document body $i", "b")))
      .toDF("id", "text", "g")
    val kept = TextAnalysis.temperatureMix(df, "text", "g", 0.5)
      .select("id").as[Long].collect().toSet
    val expect = df.select(col("id"),
        TextAnalysis.splitBucket(col("text"), 1000).as("b"), col("g"))
      .collect()
      .filter(r => r.getInt(1) < (if (r.getString(2) == "a") 417 else 833))
      .map(_.getLong(0)).toSet
    kept shouldBe expect
    kept should not be empty // the cut actually keeps something here
  }

  test("temperatureMixWeighted: weight 1 degenerates to temperatureMix " +
      "exactly; token weights move the cuts to token space " +
      "(hand-computed)") {
    val df = ((1 to 16).map(i => (i.toLong, s"alpha document body $i", "a"))
      ++ (17 to 20).map(i => (i.toLong, s"beta document body $i", "b")))
      .toDF("id", "text", "g")
    def ids(d: org.apache.spark.sql.DataFrame) =
      d.select("id").as[Long].collect().toSet
    ids(TextAnalysis.temperatureMixWeighted(df, "text", "g", lit(1L), 0.5)) shouldBe
      ids(TextAnalysis.temperatureMix(df, "text", "g", 0.5))
    // token-weighted: group a carries 4 tokens/doc (W_a = 64, sqrt 8),
    // group b 25 tokens/doc (W_b = 100, sqrt 10); S = 18, W = 164:
    //   rate_a = (0.5*164)*8/(18*64)   = 656/1152 -> floor(569.44+0.5) = 569
    //   rate_b = (0.5*164)*10/(18*100) = 820/1800 -> floor(455.56+0.5) = 456
    // doc-counted mixing would BOOST minority-by-docs b; token-counted
    // sees b as the heavier mass and damps it below a instead.
    val w = when(col("g") === "a", lit(4L)).otherwise(lit(25L))
    val kept = ids(TextAnalysis.temperatureMixWeighted(df, "text", "g", w, 0.5))
    val expect = df.select(col("id"),
        TextAnalysis.splitBucket(col("text"), 1000).as("b"), col("g"))
      .collect()
      .filter(r => r.getInt(1) < (if (r.getString(2) == "a") 569 else 456))
      .map(_.getLong(0)).toSet
    kept shouldBe expect
  }

  test("dfTable merge law + stored-stats BM25 serve: merged per-half " +
      "tables equal the single-pass table term for term, and serving " +
      "the full corpus from the merged artifacts is BIT-IDENTICAL to " +
      "bm25TopDocs") {
    val docs = Seq(
      (1L, "the quick brown fox"), (2L, "the lazy dog sleeps"),
      (3L, "quick quick dup patterns"), (4L, "merge the dup tables"),
      (5L, "vector search over text"), (6L, "dup dup dup everywhere"))
      .toDF("doc_id", "text")
    val evens = docs.where(col("doc_id") % 2 === 0)
    val odds = docs.where(col("doc_id") % 2 === 1)
    val merged = TextAnalysis.dfTableMerge(Seq(
      TextAnalysis.dfTable(evens, "doc_id", "text"),
      TextAnalysis.dfTable(odds, "doc_id", "text")))
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.as[(String, Long)].collect().sortBy(_._1).toSeq
    rows(merged) shouldBe rows(TextAnalysis.dfTable(docs, "doc_id", "text"))
    val tot = TextAnalysis.docStatsMerge(Seq(
      TextAnalysis.docStats(evens, "doc_id", "text"),
      TextAnalysis.docStats(odds, "doc_id", "text")))
    tot.as[(Long, Long)].head() shouldBe ((6L, 24L)) // 6 docs x 4 tokens
    val terms = Seq("dup", "merge", "vector")
    val served = TextAnalysis.bm25TopDocsFromStats(docs, "doc_id", "text",
        terms, merged, tot)
      .as[(Int, Long, Int, Double)].collect().sortBy(_._1).toSeq
    served shouldBe TextAnalysis.bm25TopDocs(docs, "doc_id", "text", terms)
      .as[(Int, Long, Int, Double)].collect().sortBy(_._1).toSeq
    served should not be empty
    // a query term absent from the table scores with df = 0, like a
    // term absent from bm25TopDocs' own corpus
    val ghost = Seq("dup", "merge", "zzzghost")
    TextAnalysis.bm25TopDocsFromStats(docs, "doc_id", "text", ghost,
        merged, tot)
      .as[(Int, Long, Int, Double)].collect().sortBy(_._1).toSeq shouldBe
      TextAnalysis.bm25TopDocs(docs, "doc_id", "text", ghost)
        .as[(Int, Long, Int, Double)].collect().sortBy(_._1).toSeq
    an[IllegalArgumentException] should be thrownBy
      TextAnalysis.dfTableMerge(Seq.empty)
  }

  test("dfTableRetract / docStatsRetract: subtracting the removed docs' " +
      "stats leaves the survivors' tables exactly; extinguished terms " +
      "drop; non-subset retractions raise") {
    val docs = Seq(
      (1L, "spark shuffles data between stages"),
      (2L, "catalyst optimizes the logical plan"),
      (3L, "spark plans shuffles with catalyst"),
      (4L, "unique ghost tokens appear here only")).toDF("id", "text")
    val removed = docs.where(col("id").isin(3L, 4L))
    val survivors = docs.where(!col("id").isin(3L, 4L))
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.as[(String, Long)].collect().sortBy(_._1).toSeq
    val retracted = TextAnalysis.dfTableRetract(
      TextAnalysis.dfTable(docs, "id", "text"), removed, "id", "text")
    rows(retracted) shouldBe
      rows(TextAnalysis.dfTable(survivors, "id", "text"))
    // doc 4's unique terms were extinguished — really gone
    rows(retracted).map(_._1) should not contain "ghost"
    val tot = TextAnalysis.docStatsRetract(
      TextAnalysis.docStats(docs, "id", "text"), removed, "id", "text")
    tot.as[(Long, Long)].head() shouldBe
      TextAnalysis.docStats(survivors, "id", "text")
        .as[(Long, Long)].head()
    // retracting docs that were never indexed -> loud raises
    val foreign = Seq((9L, "zzz yyy xxx www vvv")).toDF("id", "text")
    intercept[Exception] {
      TextAnalysis.dfTableRetract(
        TextAnalysis.dfTable(survivors, "id", "text"), foreign,
        "id", "text").collect()
    }.getMessage should include("never indexed")
    intercept[Exception] {
      TextAnalysis.docStatsRetract(
        TextAnalysis.docStats(survivors, "id", "text"),
        docs, "id", "text").collect()
    }.getMessage should include("negative")
    // removing MORE copies of a term than indexed (same term set) also
    // dies on the df guard
    intercept[Exception] {
      TextAnalysis.dfTableRetract(
        TextAnalysis.dfTable(survivors, "id", "text"),
        survivors.unionAll(survivors.withColumn("id", col("id") + 100)),
        "id", "text").collect()
    }.getMessage should include("negative")
  }

  test("skipgramPairs: hand-computed windowed pairs, canonical order, " +
      "short/empty docs contribute nothing") {
    val docs = Seq("a b c d", "b a", "x", "", null)
      .toDF("text")
    val out = TextAnalysis.skipgramPairs(docs, "text", window = 2, k = 10)
      .as[(String, String, Long)].collect().toSeq
      .sortBy(r => (-r._3, r._1, r._2))
    // "a b c d" w=2: (a,b) (a,c) (b,c) (b,d) (c,d); "b a" adds (a,b)
    // — canonicalized despite reversed surface order
    out shouldBe Seq(
      ("a", "b", 2L),
      ("a", "c", 1L), ("b", "c", 1L), ("b", "d", 1L), ("c", "d", 1L))
  }

  test("spanDedup matches an in-memory model on a seeded random corpus " +
      "with planted duplicate blocks, bit-identically on 1 vs 13 " +
      "partitions") {
    val rnd = new scala.util.Random(71)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa")
    val base = (0 until 30).map { i =>
      (i.toLong, Seq.fill(12 + rnd.nextInt(9))(vocab(rnd.nextInt(vocab.size)))
        .mkString(" "))
    }
    // plant a 6-word block copied from doc 0 into docs 5 and 9 (span
    // grid alignment: appended at the end, so only full-span repeats
    // are guaranteed if lengths align — the model decides exactly)
    val block = base(0)._2.split(" ").take(6).mkString(" ")
    val corpus = base.map { case (id, t) =>
      if (id == 5L || id == 9L) (id, t + " " + block) else (id, t) }
    // in-memory model of the op's contract
    val spanWords = 3
    def toks(t: String): Vector[String] =
      t.toLowerCase.split("[^\\p{L}\\p{N}]+").filter(_.nonEmpty).toVector
    val occ = corpus.flatMap { case (id, t) =>
      toks(t).grouped(spanWords).zipWithIndex.map { case (w, p) =>
        (id, p, w.mkString(" ")) } }
    val freq = occ.groupBy(_._3).view.mapValues(_.size).toMap
    val keeper = occ.groupBy(_._3).view
      .mapValues(os => os.map(o => (o._1, o._2)).min).toMap
    val expected = corpus.map { case (id, _) =>
      val mine = occ.filter(_._1 == id)
      val kept = mine.filter { case (d, p, sp) =>
        freq(sp) < 2 || keeper(sp) == ((d, p)) }
      (id, mine.size.toLong, (mine.size - kept.size).toLong,
        kept.sortBy(_._2).map(_._3).mkString(" "))
    }.sortBy(_._1)
    expected.map(_._3).sum should be > 0L // the plant really repeats
    def run(parts: Int) = TextAnalysis.spanDedup(
        corpus.toDF("doc_id", "text").repartition(parts),
        "doc_id", "text", spanWords = spanWords, minCount = 2)
      .select("doc_id", "n_spans", "n_removed", "text_clean")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    run(1) shouldBe expected
    run(13) shouldBe expected
  }

  test("spanDedup: repeated span keeps exactly one occurrence at the " +
      "min (doc, pos); unique docs untouched; fully-repeated doc " +
      "comes back empty, not dropped") {
    val df = Seq(
      (1L, "alpha beta gamma delta"),     // spans: "alpha beta","gamma delta"
      (2L, "zeta eta gamma delta"),       // shares "gamma delta" at pos 1
      (3L, "gamma delta"),                // the span alone
      (4L, "unique words only here"),     // untouched
      (5L, ""))                           // empty input
      .toDF("doc_id", "text")
    val out = TextAnalysis.spanDedup(df, "doc_id", "text",
        spanWords = 2, minCount = 2)
      .select("doc_id", "n_spans", "n_removed", "text_clean")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    out shouldBe Seq(
      (1L, 2L, 0L, "alpha beta gamma delta"), // keeper: min (doc,pos)=(1,1)
      (2L, 2L, 1L, "zeta eta"),
      (3L, 1L, 1L, ""),                       // every span removed: empty
      (4L, 2L, 0L, "unique words only here"),
      (5L, 0L, 0L, ""))
  }

  test("lmScore: hand-computed add-one smoothed transition means, " +
      "unseen bigram/context degrade smoothly, <2-token doc keeps NULL") {
    // train: "a b a b" -> bigrams (a b)x2, (b a); "a c" -> (a c)
    // ctx: a -> 3, b -> 1; V = |{a,b,c}| = 3
    val train = Seq((1L, "a b a b"), (2L, "a c")).toDF("doc_id", "text")
    val score = Seq(
      (1L, "a b a b"), // p(b|a)=3/6, p(a|b)=2/4, p(b|a) -> all 0.5
      (2L, "a c"),     // p(c|a) = 2/6
      (3L, "z a x"),   // unseen ctx z: 1/(0+3); unseen bigram a x: 1/6
      (4L, "a"))       // no transitions
      .toDF("doc_id", "text")
    val out = TextAnalysis.lmScore(train, score, "doc_id", "text")
      .select("doc_id", "n_trans", "lm_score", "lm_min")
      .as[(Long, Long, Option[Double], Option[Double])]
      .collect().sortBy(_._1).toSeq
    val S = (1L << 40).toDouble
    def fp(ps: Double*): Double =
      ps.map(p => math.floor(p * S)).sum / (ps.size * S)
    out shouldBe Seq(
      (1L, 3L, Some(fp(0.5, 0.5, 0.5)), Some(0.5)),
      (2L, 1L, Some(fp(2.0 / 6.0)), Some(2.0 / 6.0)),
      (3L, 2L, Some(fp(1.0 / 3.0, 1.0 / 6.0)), Some(1.0 / 6.0)),
      (4L, 0L, None, None))
    out(0)._3 shouldBe Some(0.5) // 0.5 is exact in fixed point
  }

  test("lmScore guards fail LOUDLY: empty training vocabulary (0/0 NaN " +
      "hazard) and a doc past 2^13 transitions (2^53 sum_fp exactness " +
      "bound); at-the-bound docs pass") {
    def msg(f: => Array[_]): String = {
      val e = intercept[Exception](f)
      e.getMessage + Option(e.getCause).map(_.getMessage).mkString
    }
    // empty vocabulary: train has rows but no tokens
    val emptyTrain = Seq((1L, ""), (2L, "   ")).toDF("doc_id", "text")
    val score = Seq((1L, "a b")).toDF("doc_id", "text")
    msg(TextAnalysis.lmScore(emptyTrain, score, "doc_id", "text")
      .collect()) should include("empty vocabulary")
    // overflow bound: 8193 tokens = 8192 transitions passes, 8194 fails
    val train = Seq((1L, "a b")).toDF("doc_id", "text")
    def doc(nTokens: Int): org.apache.spark.sql.DataFrame =
      Seq((9L, Seq.fill(nTokens)("a").mkString(" "))).toDF("doc_id", "text")
    val ok = TextAnalysis.lmScore(train, doc(8193), "doc_id", "text")
      .select("n_trans").as[Long].head()
    ok shouldBe 8192L
    val m = msg(TextAnalysis.lmScore(train, doc(8194), "doc_id", "text")
      .collect())
    m should include("8193")
    m should include("2^53")
  }

  test("dsirWeights matches a brute-force model (same hash, same op " +
      "order), ranks target-like docs above off-target, NULL on " +
      "featureless docs, rejects non-power-of-two buckets") {
    import org.apache.spark.unsafe.types.UTF8String
    val target = Seq(
      (100L, "spark query plan spark query plan optimizer"),
      (101L, "query plan optimizer spark query plan"))
      .toDF("doc_id", "text")
    val raw = Seq(
      (1L, "spark query plan optimizer spark query"), // target-like
      (2L, "banana smoothie recipe with mango and lime"), // off-target
      (3L, "word"))                                   // no bigram
      .toDF("doc_id", "text")
    val B = 1024L
    def toks(t: String): Seq[String] =
      t.toLowerCase.split("[^\\p{L}\\p{N}]+").filter(_.nonEmpty).toSeq
    def bigrams(t: String): Seq[String] =
      toks(t).sliding(2).filter(_.size == 2).map(_.mkString(" ")).toSeq
    def bucket(bg: String): Long = {
      val h = graft.functions.TextHashes.rollingHashOf(
        UTF8String.fromString(bg))
      ((h % B) + B) % B
    }
    val tFeats = Seq("spark query plan spark query plan optimizer",
      "query plan optimizer spark query plan").flatMap(bigrams).map(bucket)
    val rDocs = Seq(1L -> "spark query plan optimizer spark query",
      2L -> "banana smoothie recipe with mango and lime", 3L -> "word")
    val rFeats = rDocs.flatMap(d => bigrams(d._2)).map(bucket)
    val ct = tFeats.groupBy(identity).map { case (b, xs) => b -> xs.size }
    val cr = rFeats.groupBy(identity).map { case (b, xs) => b -> xs.size }
    def model(text: String): Option[Double] = {
      val bs = bigrams(text).map(bucket)
      if (bs.isEmpty) None
      else Some(bs.foldLeft(1.0) { (acc, b) =>
        acc * ((ct.getOrElse(b, 0) + 1).toDouble /
            (tFeats.size + 1024).toDouble /
          ((cr.getOrElse(b, 0) + 1).toDouble /
            (rFeats.size + 1024).toDouble))
      })
    }
    val out = TextAnalysis.dsirWeights(raw, target, "doc_id", "text")
      .select("doc_id", "n_feat", "dsir_w")
      .as[(Long, Long, Option[Double])].collect().sortBy(_._1).toSeq
    out shouldBe Seq(
      (1L, 5L, model(rDocs(0)._2)),
      (2L, 6L, model(rDocs(1)._2)),
      (3L, 0L, None))
    out(0)._3.get should be > out(1)._3.get // target-like ranks higher
    out(0)._3.get should be > 1.0
    out(1)._3.get should be < 1.0
    intercept[IllegalArgumentException] {
      TextAnalysis.dsirWeights(raw, target, "doc_id", "text", buckets = 100)
    }.getMessage should include("power of two")
  }

  test("mooreLewis: hand-computed difference of the two lmScore means; " +
      "in-domain-like doc scores positive, off-domain negative, " +
      "<2-token doc keeps NULLs") {
    // in-domain model: ctx a->3, b->1; V={a,b,c}=3 (the lmScore fixture)
    val inD = Seq((1L, "a b a b"), (2L, "a c")).toDF("doc_id", "text")
    // general model: (a c)x2, (c a), (b d); ctx a->2, c->1, b->1; V=4
    val gen = Seq((1L, "a c a c"), (2L, "b d")).toDF("doc_id", "text")
    val sc = Seq((10L, "a b"), (11L, "a c"), (12L, "a"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.mooreLewis(inD, gen, sc, "doc_id", "text")
      .select("doc_id", "n_trans", "lm_in", "lm_out", "ml_score")
      .as[(Long, Long, Option[Double], Option[Double], Option[Double])]
      .collect().sortBy(_._1).toSeq
    val S = (1L << 40).toDouble
    def fp(p: Double): Double = math.floor(p * S) / S
    // doc 10 "a b": p_in=(2+1)/(3+3)=.5, p_out=(0+1)/(2+4)=1/6
    // doc 11 "a c": p_in=(1+1)/(3+3)=1/3, p_out=(2+1)/(2+4)=.5
    out shouldBe Seq(
      (10L, 1L, Some(fp(0.5)), Some(fp(1.0 / 6.0)),
        Some(fp(0.5) - fp(1.0 / 6.0))),
      (11L, 1L, Some(fp(1.0 / 3.0)), Some(fp(0.5)),
        Some(fp(1.0 / 3.0) - fp(0.5))),
      (12L, 0L, None, None, None))
    out(0)._5.get should be > 0.0 // in-domain-like floats up
    out(1)._5.get should be < 0.0 // general-crawl-like sinks
  }

  test("repetitionSignals: hand-computed Gopher fractions — top-gram " +
      "with multiplicity (exceeds 1.0 on loops), duplicate-gram " +
      "interval union counts overlapped positions once, empty doc " +
      "zeros, sub-n doc zeros, NULL text nulls") {
    val df = Seq(
      (1L, "a b a b a"), // top2="a b"x2 -> .8; top3="a b a"x2 -> 1.2
      (2L, "x y z"),     // nothing repeats: top2 1*2/3, top3 3/3, dup 0
      (3L, ""),          // 0 tokens -> all 0.0
      (4L, "q"),         // 1 token: no 2-grams -> 0.0
      (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = TextAnalysis.repetitionSignals(df, "doc_id", "text",
        topNs = Seq(2, 3), dupNs = Seq(2, 3))
      .orderBy("doc_id")
      .as[(Long, Option[Long], Option[Double], Option[Double],
        Option[Double], Option[Double])]
      .collect().toSeq
    out shouldBe Seq(
      // dup2: "a b"/"b a" both repeat, occurrences cover {0..4} -> 1.0
      // dup3: "a b a" at pos 0 and 2, union {0,1,2}+{2,3,4} = 5 -> 1.0
      (1L, Some(5L), Some(0.8), Some(1.2), Some(1.0), Some(1.0)),
      (2L, Some(3L), Some(2.0 / 3.0), Some(1.0), Some(0.0), Some(0.0)),
      (3L, Some(0L), Some(0.0), Some(0.0), Some(0.0), Some(0.0)),
      (4L, Some(1L), Some(0.0), Some(0.0), Some(0.0), Some(0.0)),
      (5L, None, None, None, None, None))
    intercept[IllegalArgumentException] {
      TextAnalysis.repetitionSignals(df, "doc_id", "text", topNs = Seq(1))
    }.getMessage should include("n >= 2")
  }

  test("lmScore is partition-order independent: 1 partition == 7 " +
      "partitions bit-for-bit (integer fixed-point sum)") {
    val rng = new scala.util.Random(17)
    val words = Array("ax", "by", "cz", "dw", "ev", "fu")
    val docs = Seq.tabulate(60) { i =>
      (i.toLong, Seq.fill(3 + rng.nextInt(40))(
        words(rng.nextInt(words.length))).mkString(" "))
    }
    def run(parts: Int): Seq[(Long, Long, Option[Double], Option[Double])] = {
      val df = docs.toDF("doc_id", "text").repartition(parts)
      TextAnalysis.lmScore(df, df, "doc_id", "text")
        .select("doc_id", "n_trans", "lm_score", "lm_min")
        .as[(Long, Long, Option[Double], Option[Double])]
        .collect().sortBy(_._1).toSeq
    }
    run(1) shouldBe run(7)
  }

  test("luhnScrub: validates the mod-10 checksum before redacting — " +
      "valid PANs go, invalid and short/long runs stay, multiple " +
      "candidates fold, NULL passes through") {
    def scrub(texts: Seq[String]): Seq[String] =
      texts.toDF("t")
        .select(TextAnalysis.luhnScrub(col("t")).as("s"))
        .as[String].collect().toSeq
    scrub(Seq(
      // 4111111111111111 is Luhn-valid (the classic test PAN);
      // 4111111111111112 flips the check digit
      "pay 4111111111111111 now",
      "ref 4111111111111112 now",
      // 12 digits: below card length — not a candidate even though
      // its checksum happens to matter not at all
      "order 123456789012 x",
      // 20 digits: above card length — not a candidate
      "id 12345678901234567890 x",
      // two valid cards both redact; the invalid middle one stays
      "a 4111111111111111 b 4111111111111112 c 4111111111111111 d",
      "no digits at all")) shouldBe Seq(
      "pay <CC> now",
      "ref 4111111111111112 now",
      "order 123456789012 x",
      "id 12345678901234567890 x",
      "a <CC> b 4111111111111112 c <CC> d",
      "no digits at all")
    // NULL text stays NULL
    Seq(Option.empty[String]).toDF("t")
      .select(TextAnalysis.luhnScrub(col("t")).as("s"))
      .as[Option[String]].collect().head shouldBe None
  }

  test("luhnValid agrees with an independent Luhn implementation on " +
      "seeded random card numbers; cardCandidates takes maximal runs " +
      "length 13-19 only") {
    def luhnRef(s: String): Boolean = {
      val ds = s.reverse.map(_ - '0')
      ds.zipWithIndex.map { case (d, i) =>
        if (i % 2 == 1) { val x = d * 2; if (x > 9) x - 9 else x }
        else d
      }.sum % 10 == 0
    }
    val rnd = new scala.util.Random(14L)
    val cards = Seq.fill(60)(
      (13 + rnd.nextInt(7), Seq.fill(19)(rnd.nextInt(10))) match {
        case (len, ds) => ds.take(len).mkString
      })
    val got = cards.toDF("c")
      .select(col("c"), TextAnalysis.luhnValid(col("c")).as("v"))
      .as[(String, Boolean)].collect().toMap
    cards.foreach { c => got(c) shouldBe luhnRef(c) }
    // candidates: maximal runs, bounds inclusive at 13 and 19
    Seq("a 1234567890123 b 1234567890123456789 c 123456789012 " +
      "d 12345678901234567890").toDF("t")
      .select(TextAnalysis.cardCandidates(col("t")).as("cs"))
      .as[Seq[String]].collect().head shouldBe
      Seq("1234567890123", "1234567890123456789")
  }

  test("distinctiveTerms: hand-computed lifts — per-group rates over " +
      "corpus rate, lift-then-term ordering, minCount floor, k cutoff") {
    // group a: "x y x y" -> bigrams [x y, y x, x y]; group b:
    // "z w z w" -> [z w, w z, z w]. n_a = n_b = 3, N = 6.
    // every term is group-exclusive: lift("x y"|a) = 2*6/(3*2) = 2,
    // lift("y x"|a) = 1*6/(3*1) = 2 — TIED, so the term tie-break
    // orders "x y" (rk 1) before "y x" (rk 2).
    val df = Seq(("a", "x y x y"), ("b", "z w z w")).toDF("g", "text")
    def run(k: Int, minCount: Long) =
      TextAnalysis.distinctiveTerms(df, "g", "text", 2, k, minCount)
        .as[(String, String, Long, Long, Double, Int)]
        .collect().sortBy(r => (r._1, r._6)).toSeq
    // note "w z" < "z w" lexicographically, so b's tie resolves the
    // OTHER way around from a's
    run(5, 1) shouldBe Seq(
      ("a", "x y", 2L, 2L, 2.0, 1), ("a", "y x", 1L, 1L, 2.0, 2),
      ("b", "w z", 1L, 1L, 2.0, 1), ("b", "z w", 2L, 2L, 2.0, 2))
    // minCount 2 floors the singletons BEFORE ranking, so "z w"
    // takes rk 1 in b; k cutoff trims within group
    run(5, 2) shouldBe Seq(
      ("a", "x y", 2L, 2L, 2.0, 1), ("b", "z w", 2L, 2L, 2.0, 1))
    run(1, 1) shouldBe Seq(
      ("a", "x y", 2L, 2L, 2.0, 1), ("b", "w z", 1L, 1L, 2.0, 1))
  }

  test("normalizeText: hand-computed repair/strip/collapse/trim on " +
      "every stage") {
    // Mojibake sources spelled as escapes (U+0007/U+009D are
    // untypeable); expectations likewise.
    val cases = Seq(
      // all nine repair rows, batch A: e-acute, rsquo, ldquo, rdquo
      "cafÃ© itâ€™s â€œqâ€r"
        -> "café it’s “q”r",
      // batch B: e-grave, u-umlaut, en dash, em dash, A-hat+NBSP
      "fÃ¨te Ã¼ber â€“xâ€”y zÂ w"
        -> "fète über –x—y z w",
      // strip: ZWSP ZWJ BOM SHY BEL C1-9D vanish without a seam
      "a​b‍c﻿d­efg" -> "abcdefg",
      // collapse: every whitespace run -> one space; ends trimmed
      "\tx  y　 z\r\n" -> "x y z",
      // strip-then-collapse ordering: ZWSP BETWEEN two spaces still
      // yields ONE space, not two
      "a ​ b" -> "a b",
      // in-pass composition: a dangling mojibake prefix completed by
      // a repair TARGET resolves within one application (row 2 makes
      // the ldquo that row 4 then turns into an en dash)
      "â€â€œ" -> "–",
      // strip-then-repair ordering: a junk-interrupted pair (ZWSP
      // inside the ldquo source) fuses under strip and the SECOND
      // repair pass catches it — the idempotence-critical path
      "â€​œx" -> "“x",
      "plain ascii stays" -> "plain ascii stays")
    val out = cases.map(_._1).toDF("t")
      .select(TextAnalysis.normalizeText($"t").as("n"))
      .as[String].collect()
    out.toSeq shouldBe cases.map(_._2)
  }

  test("normalizeText is idempotent and NULL-preserving") {
    // Random mixes of clean words, mojibake sources, strippables, and
    // exotic whitespace — norm(norm(x)) == norm(x) on all of them.
    val pieces = Vector("word", "cafÃ©", "â€™",
      "â€œ", "â€", "â€",
      "Ã", "​", "﻿", "­", "", " ", "  ",
      " ", "　", "\t", "\r\n", "x", "Â ")
    val rnd = new scala.util.Random(41)
    val docs = Seq.fill(200)(
      Seq.fill(rnd.nextInt(12))(pieces(rnd.nextInt(pieces.size)))
        .mkString) :+ null
    val rows = docs.toDF("t").select(
        TextAnalysis.normalizeText($"t").as("n1"),
        TextAnalysis.normalizeText(TextAnalysis.normalizeText($"t"))
          .as("n2"))
      .collect()
    rows.foreach { r => r.getAs[String]("n2") shouldBe r.getAs[String]("n1") }
    rows.last.isNullAt(0) shouldBe true
  }

  test("simpsonDiversity: hand-computed concentration — skewed, " +
      "uniform, and degenerate vocabularies") {
    val df = Seq(
      ("a", "x x x y"),      // counts 3,1: sc2 = 10, n = 4
      ("b", "p q r s"),      // uniform: sc2 = 4
      ("c", "z z z z")       // one type does all the work
    ).toDF("g", "text")
    val out = TextAnalysis.simpsonDiversity(df, "g", "text")
      .as[(String, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    out("a") shouldBe (("a", 4L, 2L, 1.0 - 10.0 / 16.0, 16.0 / 10.0))
    out("b") shouldBe (("b", 4L, 4L, 1.0 - 4.0 / 16.0, 4.0))
    out("c") shouldBe (("c", 4L, 1L, 0.0, 1.0))
  }

  test("oovRate: hand-computed vocabulary cut, tie-break, and rates") {
    val train = Seq("a a a b b c").toDF("text")
    val eval_ = Seq(("g1", "a b d d"), ("g2", "c c")).toDF("src", "text")
    // k=2 vocab by (cnt DESC, token ASC): {a(3), b(2)} — c excluded
    val out = TextAnalysis.oovRate(train, eval_, "src", "text", k = 2)
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    out("g1") shouldBe (("g1", 4L, 2L, 0.5)) // d, d are OOV
    out("g2") shouldBe (("g2", 2L, 2L, 1.0)) // c fell below the cut
    // tie at the cut: counts a=2, b=1, c=1 -> ascending token keeps b
    val t2 = Seq("a a b c").toDF("text")
    val o2 = TextAnalysis.oovRate(t2, Seq(("g", "b c")).toDF("src", "text"),
        "src", "text", k = 2)
      .as[(String, Long, Long, Double)].collect().head
    o2 shouldBe (("g", 2L, 1L, 0.5)) // b in-vocab, c out
  }

  test("distinctiveTerms: a term shared across groups lifts where it " +
      "is over-represented and dips where it is not") {
    // group a "p q p q p q r": 7 tokens -> 6 bigrams ("p q" x3,
    // "q p" x2, "q r"); group b "p q s t u": 4 bigrams ("p q" once).
    // c_t("p q") = 4, N = 10: lift(a) = 3*10/(6*4) = 1.25,
    // lift(b) = 1*10/(4*4) = 0.625 — both exact doubles.
    val df = Seq(("a", "p q p q p q r"), ("b", "p q s t u")).toDF("g", "t")
    val out = TextAnalysis.distinctiveTerms(df, "g", "t", 2, 10, 1)
      .as[(String, String, Long, Long, Double, Int)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    out(("a", "p q")) shouldBe ((3L, 4L, 1.25))
    out(("b", "p q")) shouldBe ((1L, 4L, 0.625))
  }

  test("dfTableCompact is pure layout: compacted stats equal the " +
      "merged originals and BM25 serves identically from both") {
    import spark.implicits._
    val a = Seq((1L, "spark shuffles data between stages"),
      (2L, "catalyst optimizes the logical plan")).toDF("id", "text")
    val b = Seq((3L, "spark plans shuffles with catalyst"))
      .toDF("id", "text")
    val merged = TextAnalysis.dfTableMerge(Seq(
      TextAnalysis.dfTable(a, "id", "text"),
      TextAnalysis.dfTable(b, "id", "text")))
    val compacted = TextAnalysis.dfTableCompact(merged)
    compacted.as[(String, Long)].collect().sortBy(_._1).toSeq shouldBe
      merged.as[(String, Long)].collect().sortBy(_._1).toSeq
    val all = a.unionByName(b)
    val totals = TextAnalysis.docStats(all, "id", "text")
    def serve(d: org.apache.spark.sql.DataFrame) =
      TextAnalysis.bm25TopDocsFromStats(all, "id", "text",
          Seq("spark", "catalyst"), d, totals, k = 3)
        .collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    serve(compacted) shouldBe serve(merged)
    intercept[IllegalArgumentException] {
      TextAnalysis.dfTableCompact(merged.drop("df"))
    }.getMessage should include("not a dfTable")
  }
}

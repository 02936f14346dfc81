package graft.ops

import org.apache.spark.sql.functions._
import graft.SparkSpecBase

class DedupSpec extends SparkSpecBase with org.scalatest.matchers.should.Matchers {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 1
    (3L, "the quick brown fox jumped over the lazy dog"),  // near dup of 1
    (4L, "completely different content about spark engines"),
    (5L, "totally unrelated text mentioning query optimizers")
  ).toDF("id", "text")

  test("exact dedup keeps deterministic min-id keeper per content") {
    val deduped = Dedup.exactDedup(docs, "id", "text")
    deduped.select("id").as[Long].collect().sorted shouldBe Array(1L, 3L, 4L, 5L)
    val groups = Dedup.exactGroups(docs, "id", "text")
      .where(col("n_copies") > 1).collect()
    groups should have length 1
    groups.head.getAs[Long]("keeper_id") shouldBe 1L
    groups.head.getAs[Long]("n_copies") shouldBe 2L
  }

  test("minhash estimates: identical ~1.0, near-dup high, unrelated low") {
    val sig = docs.select($"id", Dedup.minhashSignature($"text").as("sig"))
    val pairs = sig.as("a").crossJoin(sig.as("b"))
      .where($"a.id" < $"b.id")
      .select($"a.id".as("ia"), $"b.id".as("ib"),
        Dedup.estimatedJaccard($"a.sig", $"b.sig").as("est"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    pairs((1L, 2L)) shouldBe 1.0
    pairs((1L, 3L)) should be > 0.5
    pairs((1L, 4L)) should be < 0.3
  }

  test("minhash-LSH candidate pairs find exact+near dups, skip unrelated") {
    val pairs = Dedup.nearDupPairs(docs, "id", "text", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    pairs should contain((1L, 2L))
    pairs should contain((1L, 3L))
    pairs should contain((2L, 3L))
    pairs.exists(p => p._1 == 4L || p._2 == 4L) shouldBe false
  }

  test("cascade estimate stage loses no true pair (slackened bound)") {
    // Pairs engineered to sit NEAR the 0.5 threshold, where the 64-slot
    // agreement estimate's noise (sigma ~0.06) could prune a true pair
    // if the estimate stage filtered at the exact threshold. Compare the
    // full cascade against the same cascade WITHOUT the estimate stage
    // (candidates straight into the exact confirm) — banding recall is
    // identical on both sides, so any difference is estimate pruning.
    val base = ("alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa quebec romeo").split(" ")
    val variants = (0 until 10).map { i =>
      (i.toLong, base.zipWithIndex.map { case (w, j) =>
        if (j % 10 < i) w.reverse else w }.mkString(" "))
    }
    val df = variants.toDF("id", "text")
    val withEstimate = Dedup.nearDupPairs(df, "id", "text", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val texts = df.select($"id", $"text")
    val noEstimate = Dedup.minhashCandidatePairs(df, "id", "text",
        threshold = 0.0)
      .join(texts.select($"id".as("id_a"), $"text".as("text_a")), "id_a")
      .join(texts.select($"id".as("id_b"), $"text".as("text_b")), "id_b")
      .where(Dedup.ngramJaccard($"text_a", $"text_b") >= 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    withEstimate shouldBe noEstimate
    withEstimate should not be empty
  }

  test("curateCorpus drops exact dups, near-dups, und-language docs") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),  // exact dup of 1
      (3L, "the quick brown fox jumped over the lazy dog"), // near dup of 1
      (4L, "it is a different document and that is fine"),  // en survivor
      (5L, "xyzzy plugh qwerty")                            // no markers: und
    ).toDF("id", "text")
    val kept = Dedup.curateCorpus(corpus, "id", "text",
        minQuality = 0.0, jaccardThreshold = 0.5)
      .select("id").as[Long].collect().toSet
    kept shouldBe Set(1L, 4L)
  }

  test("crossCorpusOverlap finds identical content across corpora only") {
    val corpus = Seq((1L, "shared text"), (2L, "unique a")).toDF("id", "text")
    val eval = Seq((100L, "shared text"), (101L, "unique b")).toDF("id", "text")
    val hits = Dedup.crossCorpusOverlap(corpus, "id", eval, "id", "text")
      .as[(Long, Long)].collect()
    hits shouldBe Array((1L, 100L))
  }

  test("exact ngram jaccard: identical texts = 1.0") {
    val j = docs.where($"id" === 1).select(
      Dedup.ngramJaccard($"text", $"text").as("j")).as[Double].head()
    j shouldBe 1.0
  }

  test("winnowOverlapPairs flags a lifted quote, not merely similar docs") {
    val quote = "the training corpus must never contain the eval set verbatim"
    val docs = Seq(
      (1L, s"alpha bravo charlie $quote delta echo foxtrot golf hotel"),
      (2L, s"one two three four five six seven $quote eight nine ten"),
      (3L, "completely different content with no shared runs at all here"),
      (4L, "more unrelated filler text that talks about something else")
    ).toDF("id", "text")
    val pairs = Dedup.winnowOverlapPairs(docs, "id", "text",
        k = 25, w = 10, minShared = 1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    pairs shouldBe Set((1L, 2L)) // the quote >= k+w-1 chars: guaranteed hit;
                                 // no other pair shares a 34-char run
  }

  test("winnowCrossOverlap flags train docs quoting eval docs only") {
    val evalQ = "which of the following best describes the capital of france"
    val train = Seq(
      (1L, s"some scraped page containing $evalQ and other prose around it"),
      (2L, "an innocent training document about cooking pasta properly")
    ).toDF("id", "text")
    val eval_ = Seq(
      (10L, s"$evalQ a paris b london c rome d madrid"),
      (11L, "unrelated eval question about arithmetic with small numbers")
    ).toDF("id", "text")
    val hits = Dedup.winnowCrossOverlap(train, "id", "text",
        eval_, "id", "text", k = 25, w = 10, minShared = 1)
      .select("id_left", "id_right").as[(Long, Long)].collect().toSet
    hits shouldBe Set((1L, 10L))
  }

  test("simhash: identical fp for dup, small hamming for near-dup") {
    val fp = docs.select($"id", Dedup.simhash($"text").as("fp"))
      .as[(Long, Long)].collect().toMap
    fp(1L) shouldBe fp(2L)
    java.lang.Long.bitCount(fp(1L) ^ fp(3L)) should be <= 16
    java.lang.Long.bitCount(fp(1L) ^ fp(4L)) should be > 16
  }

  test("simhash near-dup pairs via chunk bucketing") {
    val pairs = Dedup.simhashNearDupPairs(docs, "id", "text", maxDistance = 16)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    pairs should contain((1L, 2L))
    pairs should contain((1L, 3L))
  }

  test("simhashNearDupPairs == brute-force hamming filter on random " +
      "mutated corpora (chunk bucketing is complete AND sound)") {
    // The scaladoc claims pigeonhole completeness: any pair within
    // maxDistance shares an exact chunk, so bucketing loses no pair.
    // Check output == ALL-pairs hamming<=d on a corpus of random docs
    // plus small token mutations (which yield genuinely small
    // distances), at several d values including the uneven-last-chunk
    // widths (64 mod (d+1) != 0).
    val rng = new scala.util.Random(71)
    val vocab = Vector.tabulate(40)(i => s"w$i")
    def doc(): Vector[String] = Vector.fill(20)(vocab(rng.nextInt(vocab.size)))
    val bases = Vector.fill(6)(doc())
    val docs = (bases ++ bases.flatMap { b =>
      Vector.fill(3) {
        // mutate 1-3 token positions
        var v = b
        (0 until 1 + rng.nextInt(3)).foreach { _ =>
          v = v.updated(rng.nextInt(v.size), vocab(rng.nextInt(vocab.size)))
        }
        v
      }
    } :+ bases.head // exact dup: a hamming-0 pair exists at every d
    ).zipWithIndex.map { case (toks, i) => (i.toLong, toks.mkString(" ")) }
    val df = docs.toDF("id", "text")
    val fps = df.select($"id", Dedup.simhash($"text").as("fp"))
      .as[(Long, Long)].collect().toMap
    for (d <- Seq(3, 6, 10)) {
      val want = (for {
        a <- docs.map(_._1); b <- docs.map(_._1) if a < b
        if java.lang.Long.bitCount(fps(a) ^ fps(b)) <= d
      } yield (a, b)).toSet
      val got = Dedup.simhashNearDupPairs(df, "id", "text", maxDistance = d)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      withClue(s"maxDistance=$d: ") { got shouldBe want }
      // the corpus really produced pairs at this distance
      withClue(s"maxDistance=$d vacuous: ") { want should not be empty }
    }
  }

  test("nearDupClusters computes connected components with min-id labels") {
    // components: {1,2,3} (path), {10,11}, {20..27} (a LONG path whose
    // diameter forces several propagation rounds), singleton-free input
    val pairs = (Seq((1L, 2L), (2L, 3L), (10L, 11L)) ++
      (20L until 27L).map(i => (i, i + 1))).toDF("id_a", "id_b")
    val got = Dedup.nearDupClusters(pairs)
      .select("id", "cluster_id", "cluster_size")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    val expect =
      (Seq(1L, 2L, 3L).map(i => (i, 1L, 3L)) ++
        Seq(10L, 11L).map(i => (i, 10L, 2L)) ++
        (20L to 27L).map(i => (i, 20L, 8L))).sortBy(_._1)
    got.toSeq shouldBe expect
  }

  test("nearDupClusters handles a merge of two growing components") {
    // 1-2, 3-4 first form separate components, 2-3 merges them: label
    // 3's side must re-propagate down to 4 (regression guard for
    // premature convergence)
    val pairs = Seq((3L, 4L), (1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val got = Dedup.nearDupClusters(pairs)
      .select("id", "cluster_id").as[(Long, Long)].collect().toSet
    got shouldBe Set((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L))
  }

  test("nearDupClusters matches a union-find model on a random graph") {
    // Randomized closure check: a sparse random graph with many small
    // components, long chains, and isolated-by-chance nodes, vs an
    // in-memory union-find. Pins the iterative min-label + pointer-jump
    // propagation (including the merge-late and convergence-detection
    // paths) against the textbook answer, not hand-picked examples.
    val rng = new scala.util.Random(37)
    val nodes = 140
    val edges = Vector.fill(110)(
        (rng.nextInt(nodes).toLong, rng.nextInt(nodes).toLong))
      .filter(e => e._1 != e._2) // self-loop pairs never reach the op
    // union-find with path compression
    val parent = Array.tabulate(nodes)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val touched = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val wantLabel = touched.map(id => id ->
      touched.filter(o => find(o.toInt) == find(id.toInt)).min).toMap
    val wantSize = wantLabel.groupBy(_._2).view.mapValues(_.size.toLong).toMap

    val got = Dedup.nearDupClusters(edges.toDF("id_a", "id_b"))
      .select("id", "cluster_id", "cluster_size")
      .as[(Long, Long, Long)].collect()
    got.length shouldBe touched.size
    got.foreach { case (id, cid, sz) =>
      cid shouldBe wantLabel(id)
      sz shouldBe wantSize(cid)
    }
    // the graph actually exercised multi-node components
    wantSize.values.max should be >= 4L
  }

  test("nearDupClusters reliable-checkpoint path: identical output, " +
      "checkpoint files actually written") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val pairs = (Seq((1L, 2L), (2L, 3L), (10L, 11L)) ++
      (20L until 27L).map(i => (i, i + 1))).toDF("id_a", "id_b")
    val local = Dedup.nearDupClusters(pairs)
      .select("id", "cluster_id", "cluster_size")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    val reliable = Dedup.nearDupClusters(pairs, checkpointDir = Some(dir))
      .select("id", "cluster_id", "cluster_size")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    reliable.toSeq shouldBe local.toSeq
    // the reliable path must really have gone through the checkpoint dir
    // (an accidental fallback to localCheckpoint would leave it empty)
    val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(java.nio.file.Files.isRegularFile(_)).count()
    wrote should be > 0L
  }

  test("embedding near-dup via LSH buckets") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.1f)),
      (2L, Array(0.99f, 0.01f, 0.0f, 0.1f)), // near-dup of 1
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f))
    ).toDF("id", "vec")
    val pairs = Dedup.embeddingNearDupPairs(vecs, "id", "vec", dim = 4,
        threshold = 0.95, numTables = 8, planesPerTable = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    pairs should contain((1L, 2L))
    pairs should not contain ((1L, 3L))
  }

  test("clusterDedupBest keeps the highest-score member per component " +
      "(min-id keeper would keep the truncated dup); singletons and " +
      "ties unaffected") {
    val full = (1 to 30).map(i => s"w$i").mkString(" ")
    val truncated = (1 to 26).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, truncated, truncated.length.toDouble), // near-dup, shorter, LOWER id
      (2L, full, full.length.toDouble),           // near-dup, longer
      (3L, "completely different text about zebras and xylophones", 10.0)
    ).toDF("doc_id", "text", "score")
    // min-id keeper keeps the truncated doc 1
    Dedup.clusterDedup(docs, "doc_id", "text", threshold = 0.5)
      .select("doc_id").as[Long].collect().sorted shouldBe Array(1L, 3L)
    // score keeper keeps the full doc 2
    Dedup.clusterDedupBest(docs, "doc_id", "text",
        scoreCol = org.apache.spark.sql.functions.col("score"),
        threshold = 0.5)
      .select("doc_id").as[Long].collect().sorted shouldBe Array(2L, 3L)
    // equal scores degrade to the min-id keeper (deterministic tie)
    Dedup.clusterDedupBest(docs, "doc_id", "text",
        scoreCol = org.apache.spark.sql.functions.lit(1.0),
        threshold = 0.5)
      .select("doc_id").as[Long].collect().sorted shouldBe Array(1L, 3L)
  }

  test("semDedup: within-cluster min-id keeper; cluster boundary splits " +
      "a near-pair (documented SemDeDup blindness); far pairs survive") {
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val vecs = Seq(
      (1L, Array(1.0f, 0.01f)),   // cluster 0, keeper of {1,2}
      (2L, Array(0.999f, 0.02f)), // cluster 0, cos(1,2) ~ 1.0 -> dropped
      (3L, Array(0.02f, 1.0f)),   // cluster 1, keeper of {3,4}
      (4L, Array(-0.03f, 0.98f)), // cluster 1, cos(3,4) ~ 0.999 -> dropped
      (5L, Array(0.9f, -0.35f)),  // cluster 0, cos to every clustermate
                                  // <= 0.93 < tau -> kept
      (6L, Array(1.0f, 0.99f)),   // cluster 0 \ cos(6,7) ~ 0.9999 but the
      (7L, Array(0.99f, 1.0f))    // cluster 1 / boundary splits: BOTH kept
    ).toDF("id", "vec")
    Dedup.semDedupDropIds(vecs, "id", "vec", cents, tau = 0.95)
      .as[Long].collect().sorted shouldBe Array(2L, 4L)
    // semDedup returns the kept rows WITH their cluster assignment
    // (computed once, shared with the pair scan — no second kernel run)
    Dedup.semDedup(vecs, "id", "vec", cents, tau = 0.95)
      .selectExpr("id", "CAST(cluster AS LONG)").as[(Long, Long)]
      .collect().sorted shouldBe
      Array((1L, 0L), (3L, 1L), (5L, 0L), (6L, 0L), (7L, 1L))
    // Neighbor-cluster probing (probes = 2) closes the boundary
    // blindness: 6 and 7 each probe BOTH centroids, so the pair meets
    // and 7 (higher id) is dropped; everything else is unchanged —
    // 5's runner-up probe adds no new pair above tau.
    Dedup.semDedupDropIds(vecs, "id", "vec", cents, tau = 0.95, probes = 2)
      .as[Long].collect().sorted shouldBe Array(2L, 4L, 7L)
    // kept rows still carry the PRIMARY cluster, not the probe that
    // found the pair
    Dedup.semDedup(vecs, "id", "vec", cents, tau = 0.95, probes = 2)
      .selectExpr("id", "CAST(cluster AS LONG)").as[(Long, Long)]
      .collect().sorted shouldBe
      Array((1L, 0L), (3L, 1L), (5L, 0L), (6L, 0L))
  }

  test("containmentPairs flags an eval doc QUOTED inside a long corpus " +
      "doc — the case Jaccard-thresholded near-dup detection misses") {
    val quote = "the seven seas rose over the ancient harbor walls"
    val long = "chapter one begins elsewhere entirely with different words " +
      "and then continues " + quote + " before wandering into yet more " +
      "unrelated prose about distant mountains and quiet rivers flowing"
    val corpus = Seq((1L, long), (2L, "completely unrelated text here"))
      .toDF("doc_id", "text")
    val eval = Seq((100L, quote)).toDF("doc_id", "text")
    // verbatim quote: every eval shingle appears in the long doc
    val out = Dedup.containmentPairs(corpus, "doc_id", "text",
        eval, "doc_id", "text", k = 5, tau = 0.9)
      .select("corpus_id", "eval_id", "containment")
      .as[(Long, Long, Double)].collect()
    out.map(r => (r._1, r._2)) shouldBe Array((1L, 100L))
    out.head._3 shouldBe 1.0
    // ...while the symmetric Jaccard of the same pair is LOW (the long
    // doc dilutes the union), so a 0.8-Jaccard contamination screen
    // sees nothing
    val jac = Dedup.nearDupPairs(
        corpus.unionByName(eval), "doc_id", "text", threshold = 0.8)
      .collect()
    jac shouldBe empty
  }

  test("leakFreeSplit co-locates near-dup pairs the plain content-hash " +
      "split separates, and degrades to withSplit on singletons") {
    val base = "the quick brown fox jumps over the lazy dog while the " +
      "sly red vixen watches from the tall dry grass near the old barn " +
      "and the wind keeps turning the rusty weather vane slowly"
    // find a mutation that the plain split SEPARATES from base at a
    // 50/50 boundary (content hashes are independent, so one exists
    // among a handful of candidates; the pick is deterministic)
    def bucket(t: String): Int = {
      import org.apache.spark.sql.functions.{col, lit}
      Seq(t).toDF("text")
        .select(TextAnalysis.splitBucket(col("text")).as("b"))
        .as[Int].head()
    }
    val baseSide = bucket(base) < 50
    val variant = (0 until 50).map(i => base + s" trailing variant $i")
      .find(v => (bucket(v) < 50) != baseSide)
      .getOrElse(fail("no separating mutation found"))
    val singletons = Seq(
      (10L, "completely unrelated text about database engines and " +
        "columnar storage formats for analytical workloads at scale"),
      (11L, "another standalone document mentioning sailing boats and " +
        "coastal navigation under changing autumn weather conditions"))
    val corpus = (Seq((1L, base), (2L, variant)) ++ singletons)
      .toDF("doc_id", "text")
    // the pair really is a near-dup the cascade confirms
    Dedup.nearDupPairs(corpus, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect()
      .toSeq shouldBe Seq((1L, 2L))
    val plain = TextAnalysis.withSplit(corpus, "text", valPct = 50,
        testPct = 0)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    plain(1L) should not be plain(2L) // the leak leakFreeSplit fixes
    val leak = Dedup.leakFreeSplit(corpus, "doc_id", "text",
        valPct = 50, testPct = 0)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    leak(1L) shouldBe leak(2L)        // component splits as one unit
    leak(1L) shouldBe plain(1L)       // representative (min id) anchors
    singletons.foreach { case (id, _) => leak(id) shouldBe plain(id) }
  }

  test("leakFreeSplit rejects inputs that already carry its internal " +
      "temp column names (withColumn would silently replace them)") {
    val clash = Seq((1L, "some text", 3)).toDF("doc_id", "text",
      "__own_bucket")
    val e = intercept[IllegalArgumentException] {
      Dedup.leakFreeSplit(clash, "doc_id", "text")
    }
    e.getMessage should include("__own_bucket")
  }

  test("leakFreeSplit fails loudly on a null id instead of dropping " +
      "the row") {
    val corpus = Seq[(java.lang.Long, String)](
      (1L, "a first document about rivers"),
      (null, "a second document about mountains"))
      .toDF("doc_id", "text")
    val ex = intercept[Exception](
      Dedup.leakFreeSplit(corpus, "doc_id", "text").collect())
    (ex.getMessage + Option(ex.getCause).map(_.getMessage).mkString) should
      include("null id")
  }

  test("leakFreeSplit fails loudly on a duplicated id instead of " +
      "multiplying its rows") {
    val corpus = Seq(
      (1L, "a first document about rivers"),
      (2L, "a second document about mountains"),
      (2L, "a third document about deserts"))
      .toDF("doc_id", "text")
    val ex = intercept[Exception](
      Dedup.leakFreeSplit(corpus, "doc_id", "text").collect())
    (ex.getMessage + Option(ex.getCause).map(_.getMessage).mkString) should
      include("duplicate rows for `doc_id` 2")
  }

  test("embeddingCrossContamination pairs cross corpora only and " +
      "confirms on exact cosine") {
    val corpus = Seq(
      (1L, Array(1.0f, 0.2f, 0.0f, 0.0f)),
      (2L, Array(2.0f, 0.4f, 0.0f, 0.0f)),  // same direction as 1
      (3L, Array(0.0f, 0.0f, 1.0f, -1.0f))) // orthogonal to them
      .toDF("id", "vec")
    val eval = Seq(
      (100L, Array(3.0f, 0.6f, 0.0f, 0.0f))) // scaled copy of 1's dir
      .toDF("id", "vec")
    val out = Dedup.embeddingCrossContamination(corpus, "id", "vec",
        eval, "id", "vec", dim = 4, threshold = 0.9,
        numTables = 2, planesPerTable = 2, seed = 7L)
      .select("corpus_id", "eval_id").as[(Long, Long)]
      .collect().sorted.toSeq
    // 1 and 2 are mutual near-dups but NEVER pair (cross-corpus only);
    // 3 shares no direction with the eval vector
    out shouldBe Seq((1L, 100L), (2L, 100L))
  }

  test("lshDedupIndex + screenAgainstLshIndex: the bipartite screen " +
      "from the STORED index alone equals nearDupPairs restricted to " +
      "cross pairs; within-side pairs never emit") {
    // ids 1/2/3 mutually near-dup; 11 near-dups 1 (cross-parity);
    // 4/5 unrelated — old = even ids, new = odd ids
    val corpus = docs.unionAll(Seq(
      (11L, "the quick brown fox jumps over my lazy dog")).toDF("id", "text"))
    val old = corpus.where(pmod(col("id"), lit(2)) === 0)
    val fresh = corpus.where(pmod(col("id"), lit(2)) === 1)
    // the index carries NO text column — serving reads fingerprints only
    val idx = Dedup.lshDedupIndex(old, "id", "text")
    idx.columns.toSet shouldBe Set("id", "nsh", "sig", "sh")
    val got = Dedup.screenAgainstLshIndex(fresh, "id", "text", idx)
      .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    val expected = Dedup.nearDupPairs(corpus, "id", "text")
      .as[(Long, Long, Double)].collect()
      .filter { case (a, b, _) => (a % 2) != (b % 2) }
      .map { case (a, b, j) =>
        if (a % 2 == 1) (a, b, j) else (b, a, j) }
      .sortBy(r => (r._1, r._2)).toSeq
    got shouldBe expected
    got should not be empty
    // same-parity near-dups (1~3, both odd) were excluded by shape
    got.map(r => (r._1 % 2, r._2 % 2)).toSet shouldBe Set((1L, 0L))
  }

  test("winnowIndexCounted merge law: merged per-snapshot tables equal " +
      "the from-scratch counted index fp for fp — including an fp " +
      "UNDER the cap in each half but OVER it merged (count " +
      "monotonicity re-applies the cap exactly); serving the merged " +
      "index equals winnowIndex") {
    // boilerplate sentence shared by all docs (its fps go over a tiny
    // cap only when the halves merge) + distinct tails
    val boiler = "identical boilerplate preamble text"
    val docs = (1L to 8L).map(i =>
      (i, s"$boiler unique tail number $i with words $i$i"))
      .toDF("id", "text")
    val a = docs.where(col("id") <= 4)
    val b = docs.where(col("id") > 4)
    val cap = 6 // boiler fps: 4 per half (kept), 8 merged (dropped)
    val merged = Dedup.winnowIndexMerge(Seq(
      Dedup.winnowIndexCounted(a, "id", "text", maxBucketSize = cap),
      Dedup.winnowIndexCounted(b, "id", "text", maxBucketSize = cap)),
      maxBucketSize = cap)
    val scratch = Dedup.winnowIndexCounted(docs, "id", "text",
      maxBucketSize = cap)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.as[(Long, Long, Seq[Long])].collect().sortBy(_._1).toSeq
    rows(merged) shouldBe rows(scratch)
    // the straddling case really occurred: some fp has n in (cap, 8]
    // with an EMPTY posting list on both sides
    rows(scratch).exists(r => r._2 > cap && r._3.isEmpty) shouldBe true
    // serve parity with the id-row index
    def serveRows(d: org.apache.spark.sql.DataFrame) =
      d.as[(Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    serveRows(Dedup.winnowIndexServe(merged)) shouldBe
      serveRows(Dedup.winnowIndex(docs, "id", "text", maxBucketSize = cap))
    an[IllegalArgumentException] should be thrownBy
      Dedup.winnowIndexMerge(Seq.empty)
  }

  test("screenAgainstLshIndex caps the ARRIVING side's band buckets " +
      "too: a boilerplate-heavy snapshot stops probing through its " +
      "oversized buckets instead of re-creating the bucket blowup") {
    // one indexed doc + 6 identical new docs: every new band bucket
    // holds 6 rows, so maxBucketSize=3 must suppress all probes even
    // though the INDEX side's buckets (size 1) are tiny
    val boiler = "the same boilerplate sentence repeated in every doc"
    val old = Seq((2L, boiler)).toDF("id", "text")
    val fresh = (1L to 11L by 2).map(i => (i, boiler)).toDF("id", "text")
    val idx = Dedup.lshDedupIndex(old, "id", "text")
    Dedup.screenAgainstLshIndex(fresh, "id", "text", idx,
      maxBucketSize = 3).count() shouldBe 0L
    // with the cap above the bucket size the screen fires as usual
    Dedup.screenAgainstLshIndex(fresh, "id", "text", idx,
      maxBucketSize = 100).count() shouldBe 6L
  }

  test("incrementalClusters: new edges splice old clusters (merge, " +
      "attach, untouched, singleton) and equal from-scratch clustering " +
      "of the union pair set") {
    // old clusters: {1,2,3} (label 1), {10,11} (label 10); singletons
    // 20, 30. New ids 41, 42, 43. New edges: 41-3 and 41-10 MERGE the
    // two old clusters through the new doc; 42-20 attaches a
    // singleton; 43 stays alone; {30} untouched.
    val oldLabels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L),
      (11L, 10L), (20L, 20L), (30L, 30L)).toDF("id", "cluster_id")
    val newIds = Seq(41L, 42L, 43L).toDF("id")
    val newPairs = Seq((41L, 3L), (41L, 10L), (42L, 20L))
      .toDF("id_a", "id_b")
    val got = Dedup.incrementalClusters(oldLabels, newIds, newPairs)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    got shouldBe Seq(
      (1L, 1L, 6L), (2L, 1L, 6L), (3L, 1L, 6L),
      (10L, 1L, 6L), (11L, 1L, 6L),
      (20L, 20L, 2L), (30L, 30L, 1L),
      (41L, 1L, 6L), (42L, 20L, 2L), (43L, 43L, 1L))
    // equivalence with from-scratch clustering of the union pair set
    // (old components expanded back to pairwise star edges)
    val unionPairs = oldLabels
      .where(col("id") =!= col("cluster_id"))
      .select(col("id").as("id_a"), col("cluster_id").as("id_b"))
      .unionAll(newPairs)
    val scratch = Dedup.nearDupClusters(unionPairs)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    got.filter(r => r._3 > 1) shouldBe scratch
  }

  test("retractClusters: bridge removal SPLITS, min-member removal " +
      "relabels, pair-components collapse to singletons, untouched " +
      "components pass through, removed singletons drop") {
    // {1,2,3} path 1-2-3: removing bridge 2 splits into singletons
    // {1},{3}. {10,11,12} star at 10: removing 10 (min AND bridge)
    // leaves singletons {11},{12}. {20,21,22} triangle: removing 20
    // (min, NOT a bridge) relabels to 21. {30,31} untouched.
    // Singleton 40 survives; singleton 50 is removed.
    val oldLabels = Seq(
      (1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
      (10L, 10L, 3L), (11L, 10L, 3L), (12L, 10L, 3L),
      (20L, 20L, 3L), (21L, 20L, 3L), (22L, 20L, 3L),
      (30L, 30L, 2L), (31L, 30L, 2L),
      (40L, 40L, 1L), (50L, 50L, 1L))
      .toDF("id", "cluster_id", "cluster_size")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (10L, 12L),
      (20L, 21L), (21L, 22L), (20L, 22L), (30L, 31L))
      .toDF("id_a", "id_b")
    val removed = Seq(2L, 10L, 20L, 50L).toDF("id")
    val got = Dedup.retractClusters(oldLabels, pairs, removed)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    got shouldBe Seq(
      (1L, 1L, 1L), (3L, 3L, 1L),
      (11L, 11L, 1L), (12L, 12L, 1L),
      (21L, 21L, 2L), (22L, 21L, 2L),
      (30L, 30L, 2L), (31L, 30L, 2L),
      (40L, 40L, 1L))
  }

  test("retractClusters == from-scratch clustering of the surviving " +
      "pair set on a random graph — and riding through " +
      "pairStoreCompact changes nothing (compaction is fold-" +
      "transparent)") {
    // deterministic pseudo-random pair set over ids 0..59
    val raw = (0 until 90).map { i =>
      val a = (i * 37 + 11) % 60; val b = (i * 53 + 29) % 60
      (math.min(a, b).toLong, math.max(a, b).toLong)
    }.filter(p => p._1 != p._2).distinct
    val pairs = raw.toDF("id_a", "id_b")
    val clustered = Dedup.nearDupClusters(pairs)
    val allIds = (0L until 60L).toDF("id")
    val oldLabels = clustered.unionByName(
      allIds.join(clustered.select(col("id")), Seq("id"), "left_anti")
        .select(col("id"), col("id").as("cluster_id"),
          lit(1L).as("cluster_size")))
    val removed = (0L until 60L by 7L).toDF("id") // 0,7,14,...,56
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    val got = rows(Dedup.retractClusters(oldLabels, pairs, removed))
    // independent from-scratch recompute over surviving pairs + ids
    val rmSet = (0L until 60L by 7L).toSet
    val survPairs = raw.filter(p => !rmSet(p._1) && !rmSet(p._2))
      .toDF("id_a", "id_b")
    val survClustered = Dedup.nearDupClusters(survPairs)
    val scratch = rows(survClustered.unionByName(
      (0L until 60L).filterNot(rmSet).toDF("id")
        .join(survClustered.select(col("id")), Seq("id"), "left_anti")
        .select(col("id"), col("id").as("cluster_id"),
          lit(1L).as("cluster_size"))))
    got shouldBe scratch
    // compacted pair store (canonicalized, deduped, re-laid-out, with
    // flipped duplicates added first to prove they fold away)
    val noisy = pairs.unionAll(
      pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
    rows(Dedup.retractClusters(oldLabels,
      Dedup.pairStoreCompact(noisy), removed)) shouldBe got
    // self-pairs in a store are a loud error, not a silent edge
    intercept[Exception] {
      Dedup.pairStoreCompact(Seq((5L, 5L)).toDF("id_a", "id_b")).collect()
    }.getMessage should include("self-pair")
  }

  test("lshIndexRetract: retracted index == from-scratch index of the " +
      "survivors row for row; screens served from it can never pair " +
      "with a removed doc; unknown ids are a no-op") {
    val corpus = Seq(
      (2L, "the quick brown fox jumps over the lazy dog"),
      (4L, "the quick brown fox jumped over the lazy dog"),
      (6L, "completely different content about spark engines"),
      (8L, "totally unrelated text mentioning query optimizers"))
      .toDF("id", "text")
    val idx = Dedup.lshDedupIndex(corpus, "id", "text")
    val retracted = Dedup.lshIndexRetract(idx, Seq(4L, 999L).toDF("id"))
    val scratch = Dedup.lshDedupIndex(
      corpus.where(col("id") =!= 4L), "id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), col("nsh"), col("sig"), col("sh"))
        .as[(Long, Int, Seq[Long], Seq[Long])].collect()
        .sortBy(_._1).toSeq
    rows(retracted) shouldBe rows(scratch)
    // a near-dup probe of the removed doc's text no longer hits it
    val probe = Seq((101L, "the quick brown fox jumped over the lazy dog"))
      .toDF("id", "text")
    val hits = Dedup.screenAgainstLshIndex(probe, "id", "text", retracted)
      .select(col("old_id")).as[Long].collect().toSet
    hits should not contain 4L
    hits should contain(2L) // the near-dup survivor still screens
  }

  test("winnowIndexRetract: decremented index == from-scratch on " +
      "survivors; non-subset retractions raise; downward cap " +
      "crossings raise by default and keepCappedOnUncap keeps the " +
      "exact count with empty postings (the documented recall trade)") {
    val docs = Seq(
      (1L, "alpha bravo charlie delta echo foxtrot golf hotel india"),
      (2L, "alpha bravo charlie delta echo foxtrot golf hotel india"),
      (3L, "november oscar papa quebec romeo sierra tango uniform"),
      (4L, "whiskey xray yankee zulu one two three four five six seven"))
      .toDF("id", "text")
    val full = Dedup.winnowIndexCounted(docs, "id", "text")
    val retracted = Dedup.winnowIndexRetract(full,
      docs.where(col("id") === 3L), "id", "text")
    val scratch = Dedup.winnowIndexCounted(
      docs.where(col("id") =!= 3L), "id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Seq[Long])].collect().sortBy(_._1).toSeq
    rows(retracted) shouldBe rows(scratch)
    // retracting a doc that was never indexed -> loud contract breach
    intercept[Exception] {
      Dedup.winnowIndexRetract(full,
        Seq((9L, "entirely novel gibberish zyxwvut qponmlk jihgfed"))
          .toDF("id", "text"), "id", "text").collect()
    }.getMessage should include("never indexed")
    // three identical docs over a cap of 2: postings emptied at build;
    // removing one drops n to the cap -> default policy raises
    val trip = Seq((1L, "identical boilerplate text here"),
      (2L, "identical boilerplate text here"),
      (3L, "identical boilerplate text here")).toDF("id", "text")
    val capped = Dedup.winnowIndexCounted(trip, "id", "text",
      maxBucketSize = 2)
    intercept[Exception] {
      Dedup.winnowIndexRetract(capped, trip.where(col("id") === 3L),
        "id", "text", maxBucketSize = 2).collect()
    }.getMessage should include("keepCappedOnUncap")
    // opt-in: exact decremented count, postings stay empty — which is
    // EXACTLY the stated divergence from the from-scratch survivors
    // index (whose n=2 fps keep their postings)
    val kept = Dedup.winnowIndexRetract(capped,
      trip.where(col("id") === 3L), "id", "text", maxBucketSize = 2,
      keepCappedOnUncap = true)
    val keptRows = rows(kept)
    keptRows.foreach { r => r._2 shouldBe 2L; r._3 shouldBe empty }
    val scratchTrip = rows(Dedup.winnowIndexCounted(
      trip.where(col("id") =!= 3L), "id", "text", maxBucketSize = 2))
    keptRows.map(r => (r._1, r._2)) shouldBe
      scratchTrip.map(r => (r._1, r._2)) // counts exact
    scratchTrip.foreach(_._3 should not be empty) // the trade, visible
    // winnowIndexCompact is pure layout: same rows
    rows(Dedup.winnowIndexCompact(retracted)) shouldBe rows(retracted)
  }

  test("winnowIndexCounted / winnowIndexRetract require an integral id " +
      "column up front — string ids would silently become null " +
      "postings otherwise") {
    val bad = Seq(("a", "some text here")).toDF("id", "text")
    intercept[IllegalArgumentException] {
      Dedup.winnowIndexCounted(bad, "id", "text")
    }.getMessage should include("integral")
    intercept[IllegalArgumentException] {
      Dedup.winnowIndexRetract(
        Dedup.winnowIndexCounted(docs, "id", "text"), bad, "id", "text")
    }.getMessage should include("integral")
  }

  test("lshIndexCompact and labelStoreCompact are pure layout: the " +
      "compacted index/labels equal the folded originals row for row, " +
      "the stamp survives, screens serve identically, and a follow-up " +
      "incremental fold off the compacted labels equals one off the " +
      "originals") {
    val boiler = "identical boilerplate preamble text"
    val doc = (i: Long) =>
      (i, s"$boiler unique tail number $i with words $i$i")
    val old = Seq(doc(1L), doc(2L), doc(3L)).toDF("id", "text")
    val fresh = Seq(doc(4L), doc(5L)).toDF("id", "text")
    // index folded across two nights, then compacted
    val folded = Dedup.lshDedupIndex(old, "id", "text")
      .unionByName(Dedup.lshDedupIndex(fresh, "id", "text"))
    val compacted = Dedup.lshIndexCompact(folded)
    def irows(d: org.apache.spark.sql.DataFrame) =
      d.select(col("id"), col("nsh"), col("sig"), col("sh"))
        .as[(Long, Int, Seq[Long], Seq[Long])].collect().sortBy(_._1).toSeq
    irows(compacted) shouldBe irows(folded)
    ArtifactStamp.stampOf(compacted, "sig") shouldBe
      ArtifactStamp.stampOf(folded, "sig")
    // serve equality: the same screen off both layouts
    val probe = Seq(doc(6L)).toDF("id", "text")
    def srows(idx: org.apache.spark.sql.DataFrame) =
      Dedup.screenAgainstLshIndex(probe, "id", "text", idx)
        .as[(Long, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    srows(compacted) shouldBe srows(folded)
    // unstamped frames are refused (strip the metadata explicitly —
    // ordinary projections/renames all PRESERVE it, which is the
    // stamp's persistence story working as designed)
    intercept[IllegalArgumentException] {
      Dedup.lshIndexCompact(folded.withColumn("sig",
        col("sig").as("sig", org.apache.spark.sql.types.Metadata.empty)))
    }.getMessage should include("no build-parameter stamp")
    // label-store compaction: pure layout AND fold-transparent
    val pairs = Dedup.nearDupPairs(old.unionByName(fresh), "id", "text")
    val labels = Dedup.incrementalClusters(
      Seq.empty[(Long, Long, Long)].toDF("id", "cluster_id",
        "cluster_size"), // night 0: no old labels
      old.unionByName(fresh).select("id"), pairs)
    val compactLabels = Dedup.labelStoreCompact(labels)
    def lrows(d: org.apache.spark.sql.DataFrame) =
      d.as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    lrows(compactLabels) shouldBe lrows(labels)
    // a later incremental fold reads the compacted store identically
    val nextIds = Seq(doc(7L)).toDF("id", "text")
    val nextPairs = Dedup.nearDupPairs(
      old.unionByName(fresh).unionByName(nextIds), "id", "text")
    lrows(Dedup.incrementalClusters(compactLabels, nextIds.select("id"),
      nextPairs)) shouldBe
      lrows(Dedup.incrementalClusters(labels, nextIds.select("id"),
        nextPairs))
    intercept[IllegalArgumentException] {
      Dedup.labelStoreCompact(labels.drop("cluster_id"))
    }.getMessage should include("not a label table")
  }
}

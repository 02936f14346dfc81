package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextHashes

/** Deduplication operators for document corpora, all bucketed — no
  * operator here ever compares all pairs. 100 TB shapes:
  *
  *  - exact dedup: one hash-shuffle on the content hash (map-side partial
  *    aggregation applies; the text itself never shuffles when callers
  *    group by `content_hash`);
  *  - MinHash-LSH: signatures are per-row narrow work; candidate
  *    generation joins on `(band, band_hash)` buckets, so the shuffle key
  *    cardinality grows with the corpus and bucket sizes stay small;
  *    oversized buckets (degenerate content) are dropped with an explicit
  *    cap rather than silently exploding a join;
  *  - SimHash: per-row 64-bit fingerprint (single-pass codegen'd
  *    expression), near-dup = small Hamming distance within LSH-style
  *    chunk buckets (Charikar chunking: duplicates within distance d
  *    share at least one of d+1 chunks).
  *
  * The reference engine has no dedup surface (SURVEY §2.3); this module
  * is part of the LLM-data-pipeline extension mandated by the brief.
  */
object Dedup {

  /** Exact duplicate groups: one row per distinct content, carrying the
    * keeper (min id), the duplicate count, and the content hash.
    * The hash is sha2-256, NOT md5: a groupBy-only dedup has no cheap
    * place for a text-equality guard without shuffling the text itself,
    * and md5-colliding document pairs are practically constructible
    * (chosen-prefix attacks) — a collision here would silently DELETE a
    * non-duplicate document. 256-bit collision odds are ~2^-128; where
    * a join makes the guard free, [[crossCorpusOverlap]] still compares
    * text after its hash match. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(sha2(col(textCol), 256).as("content_hash"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Exact dedup: keep the min-id row per distinct content. Equivalent to
    * `dropDuplicates(textCol)` but with a DETERMINISTIC keeper (Spark's
    * dropDuplicates keeps an arbitrary row). One shuffle on the hash. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keepers = exactGroups(df, idCol, textCol)
      .select(col("keeper_id").as(idCol))
    df.join(keepers, idCol) // broadcast-able when the deduped side is small
  }

  /** Benchmark-contamination check: pairs of (corpus doc, eval doc)
    * with IDENTICAL content. The eval/benchmark side is small by nature
    * -> broadcast it; the corpus is scanned once, no shuffle. Join key
    * is the md5 of the text (hash compare before text compare), then an
    * exact text equality guard against md5 collisions. */
  def crossCorpusOverlap(corpus: DataFrame, corpusId: String,
      eval: DataFrame, evalId: String, textCol: String): DataFrame = {
    val c = corpus.select(col(corpusId).as("corpus_id"),
      md5(col(textCol)).as("h"), col(textCol).as("corpus_text"))
    val e = eval.select(col(evalId).as("eval_id"),
      md5(col(textCol)).as("h"), col(textCol).as("eval_text"))
    c.join(broadcast(e), Seq("h"))
      .where(col("corpus_text") === col("eval_text"))
      .select(col("corpus_id"), col("eval_id"))
  }

  // ----------------------------------------------------------- MinHash

  /** MinHash signature as an array<long> of length `numHashes`, via the
    * single-pass codegen'd [[graft.functions.VectorHashes.minhash_sig]]
    * kernel (normalization runs ONCE per row, outside any lambda).
    *
    * A higher-order-function phrasing (transform+array_min per slot) is
    * interpreted and re-evaluates captured expressions per element —
    * O(slots x shingles x |text|); the kernel is O(slots x |text|). */
  def minhashSignature(text: Column, k: Int = 5, numHashes: Int = 64,
      seed: Long = 42L): Column =
    graft.functions.VectorHashes.minhash_sig(
      regexp_replace(lower(text), "\\s+", " "), k, numHashes, seed)

  /** Estimated Jaccard similarity from two signatures: fraction of
    * agreeing slots (single-pass codegen'd kernel — the
    * zip_with+aggregate phrasing is interpreted per slot). */
  def estimatedJaccard(sigA: Column, sigB: Column): Column =
    graft.functions.VectorHashes.sig_agreement(sigA, sigB)

  /** Exact n-gram (character-shingle) Jaccard similarity of two texts —
    * used to verify LSH candidates, never across all pairs. Single-pass
    * codegen'd kernel over hashed shingle sets (collision-exact); the
    * normalization runs once per side. */
  def ngramJaccard(textA: Column, textB: Column, k: Int = 5): Column =
    graft.functions.VectorHashes.ngram_jaccard(
      regexp_replace(lower(textA), "\\s+", " "),
      regexp_replace(lower(textB), "\\s+", " "), k)

  /** The (id, sig, nsh) signature frame every cascade stage consumes,
    * shuffled ONCE by id: the banding derivation, the estimate stage's
    * join builds, and any other consumer hang off this same exchange
    * (ReusedExchange), so the text scan + signature kernel run once per
    * execution instead of once per consumer. At corpus scale this
    * trades a ~512 B/doc shuffle for repeated full text scans +
    * O(slots x |text|) kernel passes — the right trade everywhere. */
  private def sigFrame(df: DataFrame, idCol: String, textCol: String,
      k: Int, numHashes: Int, seed: Long): DataFrame = {
    val normText = regexp_replace(lower(col(textCol)), "\\s+", " ")
    df.select(col(idCol).as("id"),
        minhashSignature(col(textCol), k, numHashes, seed).as("sig"),
        graft.functions.VectorHashes.ngram_count(normText, k).as("nsh"))
      .repartition(col("id"))
  }

  /** LSH-banded candidate pair ids (id_a < id_b, deduped across bands)
    * from a [[sigFrame]].
    *
    * Scale shape: the banding frame is SLIM — (id, band, band_hash) plus
    * one int shingle count, ~28 bytes/row; signatures never enter the
    * bucket shuffle. Pathological buckets are capped BEFORE the
    * self-join squares them via a slim groupBy (map-side partial agg) +
    * semi-join — not a window, which would sort the full banded table.
    * The cap is a knob, not a silent truncation.
    *
    * `exactJaccardBound` > 0 prunes pairs INSIDE the self-join whose
    * distinct-shingle counts make `J >= bound` impossible
    * (`J <= min/max`, see [[nearDupPairs]]) — lossless for any
    * downstream exact-confirm at that bound, and cheap exactly here:
    * band collisions are orders of magnitude more numerous than true
    * pairs (measured sf0.1: 189k candidates for 256 true pairs), so
    * pruning before the pair-distinct and the signature joins is the
    * difference between shuffling collisions and shuffling survivors. */
  private def candidatePairIds(sigs: DataFrame,
      bands: Int, rowsPerBand: Int,
      maxBucketSize: Int, exactJaccardBound: Double = 0.0): DataFrame = {
    val banded = sigs
      .select(col("id"), col("nsh"),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"),
            xxhash64(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand))
              .as("band_hash"))): _*)).as("bb"))
      .select(col("id"), col("nsh"), col("bb.band").as("band"),
        col("bb.band_hash").as("band_hash"))
      // ONE explicit shuffle on the bucket key: the bucket-size
      // aggregate, the semi-join probe, and BOTH self-join sides hang
      // off this same exchange (canonically identical subplans →
      // ReusedExchange), so the signature scan feeding the banding runs
      // once instead of once per consumer — measured 5 scans → 1 at
      // sf0.1 — and (band, band_hash) is exactly the co-location every
      // downstream step wants at corpus scale anyway.
      .repartition(col("band"), col("band_hash"))

    val smallBuckets = banded.groupBy(col("band"), col("band_hash"))
      .agg(count(lit(1)).as("bucket_n"))
      .where(col("bucket_n") <= maxBucketSize)
      .select(col("band"), col("band_hash"))
    val sized = banded.join(smallBuckets, Seq("band", "band_hash"), "left_semi")

    val l = sized.select(col("band"), col("band_hash"),
      col("id").as("id_a"), col("nsh").as("nsh_a"))
    val r = sized.select(col("band"), col("band_hash"),
      col("id").as("id_b"), col("nsh").as("nsh_b"))
    val paired = l.join(r, Seq("band", "band_hash"))
      .where(col("id_a") < col("id_b"))
    val bounded =
      if (exactJaccardBound > 0.0)
        // the slack must dominate the PRODUCT's rounding error, which
        // is relative to its magnitude — a fixed absolute epsilon stops
        // covering it past ~2^24 shingles — so shave the bound itself
        // by 1e-12 relative (only ever looser, never tighter)
        paired.where(least(col("nsh_a"), col("nsh_b")).cast(DoubleType) >=
          greatest(col("nsh_a"), col("nsh_b"))
            * lit(exactJaccardBound * (1 - 1e-12)) - lit(1e-9))
      else paired
    bounded
      .select(col("id_a"), col("id_b"))
      .distinct() // pair may collide in several bands
  }

  /** Near-duplicate candidate pairs via MinHash-LSH banding.
    *
    * `numHashes = bands * rowsPerBand`; a pair collides when any band of
    * their signatures matches exactly. With the default 16 bands x 4
    * rows, the collision curve crosses ~50% at Jaccard ~0.5.
    *
    * Output: (id_a, id_b, est_jaccard) with id_a < id_b, filtered to
    * `est_jaccard >= threshold`. Signatures rejoin per CANDIDATE (a
    * narrow O(slots x |text|) rescan beats shuffling `bands` copies of
    * every signature at 100 TB). */
  def minhashCandidatePairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, bands: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.5, seed: Long = 42L,
      maxBucketSize: Int = 1000): DataFrame = {
    val numHashes = bands * rowsPerBand
    val sigs = sigFrame(df, idCol, textCol, k, numHashes, seed)
    candidatePairIds(sigs, bands, rowsPerBand, maxBucketSize)
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        estimatedJaccard(col("sig_a"), col("sig_b")).as("est_jaccard"))
      .where(col("est_jaccard") >= threshold)
  }

  /** Near-duplicate pairs via the full LSH CASCADE: banded candidates
    * -> cheap signature-agreement estimate -> exact k-shingle Jaccard
    * >= threshold on the survivors only. The middle stage matters at
    * scale: band collisions produce far more candidate pairs than true
    * near-dups, and the O(slots) estimate prunes them before the text
    * join + O(|text|) exact confirm (measured at sf0.1: skipping the
    * estimate stage is ~5x slower end-to-end).
    *
    * The estimate stage filters at a SLACKENED bound — `threshold`
    * minus 2.5 standard deviations of the 64-slot agreement estimator
    * (sigma = sqrt(t(1-t)/slots)) — so true pairs whose estimate noise
    * dips just below the threshold are not pruned before the exact
    * confirm applies the real one; the output stays the exact ground
    * truth rather than being estimator-variance-dependent.
    *
    * The slack admits ~2x more candidates toward the confirm join, so a
    * LOSSLESS shingle-count ratio prefilter runs INSIDE the banding
    * self-join (see [[candidatePairIds]]): `J(a,b) >= t` forces
    * `min(|A|,|B|) >= t * max(|A|,|B|)` (because `J <= min/max`), and
    * the counts come from the SAME distinct-hash sets the exact confirm
    * measures ([[graft.functions.VectorHashes.ngram_count]] shares
    * `windowHashes` with the confirm kernels), so the bound can never
    * drop a true pair — it is the exact analogue of an all-pairs
    * oracle's `len(b.s) <= 2*len(a.s)` guard at t = 0.5, applied before
    * the pair-distinct, the signature joins, and the confirm join.
    *
    * The confirm stage never touches raw text: each doc's sorted
    * distinct shingle-hash array is materialized ONCE
    * ([[graft.functions.VectorHashes.ngram_hashes]]) and survivors are
    * confirmed by an O(n+m) merge-walk over the two arrays
    * ([[graft.functions.VectorHashes.hash_jaccard]]) — bit-identical to
    * [[ngramJaccard]] on the texts, but a doc appearing in m candidate
    * pairs pays ONE normalization+shingle pass instead of m (that
    * per-pair rescan was the cascade's dominant constant: confirm-stage
    * cost at sf0.1 dropped ~2x when it was removed). The arrays ride a
    * join keyed on id against the (small) survivor list, so the
    * ~8 B/shingle frames never enter the banding shuffle.
    *
    * Output: (id_a, id_b, jaccard) — exact values only; the estimate
    * and count bound are pruning devices, not results. */
  def nearDupPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, bands: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.5, seed: Long = 42L,
      maxBucketSize: Int = 1000): DataFrame = {
    val numHashes = bands * rowsPerBand
    val sigma = math.sqrt(threshold * (1 - threshold) / numHashes)
    val estThreshold = math.max(0.0, threshold - 2.5 * sigma)
    val sigs = sigFrame(df, idCol, textCol, k, numHashes, seed)
    val shingles = df.select(col(idCol).as("id"),
      graft.functions.VectorHashes.ngram_hashes(
        regexp_replace(lower(col(textCol)), "\\s+", " "), k).as("sh"))
    candidatePairIds(sigs, bands, rowsPerBand,
        maxBucketSize, exactJaccardBound = threshold)
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a"),
        col("nsh").as("nsh_a")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b"),
        col("nsh").as("nsh_b")), "id_b")
      // the count bound is RESTATED here (idempotent — the self-join
      // already applied it, with the same relative-slack epsilon) so
      // this consumer references nsh too: column pruning would
      // otherwise strip nsh from this side's exchange, making it
      // canonically different from the banding consumer's and
      // forfeiting the shared sigFrame scan (one kernel pass, not two)
      .where(least(col("nsh_a"), col("nsh_b")).cast(DoubleType) >=
        greatest(col("nsh_a"), col("nsh_b"))
          * lit(threshold * (1 - 1e-12)) - lit(1e-9) &&
        estimatedJaccard(col("sig_a"), col("sig_b")) >= estThreshold)
      .select(col("id_a"), col("id_b"))
      .join(shingles.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(shingles.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        graft.functions.VectorHashes.hash_jaccard(col("sh_a"), col("sh_b"))
          .as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** STORED MinHash-LSH dedup index of a corpus snapshot — the
    * incremental-ingestion artifact ([[graft.ops.Sketches.hllRegisters]]'
    * persistence precedent, for dedup): one row per doc,
    * `(id, nsh, sig, sh)` — distinct-shingle count, MinHash signature,
    * and the shingle-hash set. Serving needs nothing else (band
    * buckets derive from `sig`; the exact confirm reads `sh`), so
    * tonight's snapshot screens against yesterday's corpus via
    * [[screenAgainstLshIndex]] WITHOUT rescanning or re-tokenizing
    * yesterday's text. `k`/`bands`/`rowsPerBand`/`seed` MUST match
    * the serve call (the winnowIndex same-params discipline). Storage
    * is fingerprint-sized (~the distinct-shingle count in longs per
    * doc) — the standard dedup-index trade. */
  def lshDedupIndex(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, bands: Int = 16, rowsPerBand: Int = 4,
      seed: Long = 42L): DataFrame =
    ArtifactStamp.stamp(
      sigFrame(df, idCol, textCol, k, bands * rowsPerBand, seed)
        .join(df.select(col(idCol).as("id"),
          graft.functions.VectorHashes.ngram_hashes(
            regexp_replace(lower(col(textCol)), "\\s+", " "), k).as("sh")),
          "id"),
      "sig", "lsh", "k" -> k.toLong, "bands" -> bands.toLong,
      "rows_per_band" -> rowsPerBand.toLong, "seed" -> seed)

  /** Bipartite near-dup screen of NEW docs against a STORED
    * [[lshDedupIndex]]: `(new_id, old_id, jaccard)` for every new doc
    * near-duplicating an indexed one at `jaccard >= threshold` — drop
    * the hit new_ids (or route them to review) and the snapshot is
    * deduped against the whole history at probe cost.
    *
    * Exactly [[nearDupPairs]]' cascade with the self-join made
    * BIPARTITE: new-side bands probe the indexed bands (an
    * O(|new| · collisions) join, never old × old), the bucket-size
    * cap applies to BOTH sides — the index side (corpus boilerplate
    * buckets are the blowup risk) and the arriving side (a
    * boilerplate-heavy snapshot can pile thousands of new docs into
    * one band bucket and re-create the blowup from the probe side;
    * nearDupPairs' self-join cap bounded both at once, so this one
    * does too; a capped bucket is template text, not dedup signal) —
    * then the same count bound, signature screen, and exact
    * shingle-hash confirm — the old side's confirm set comes from the
    * index, its text untouched. An id present on both sides pairs
    * with itself only if it is a genuine near-dup re-ingest; exact
    * dedup upstream owns byte-identical replays. */
  def screenAgainstLshIndex(cands: DataFrame, candId: String,
      candText: String, index: DataFrame, k: Int = 5, bands: Int = 16,
      rowsPerBand: Int = 4, threshold: Double = 0.5, seed: Long = 42L,
      maxBucketSize: Int = 1000): DataFrame = {
    // plan-time provenance: probing with parameters that differ from
    // the build's returns confidently-empty screens (bands never
    // collide) — raise instead
    ArtifactStamp.check(index, "sig", "lsh", "screenAgainstLshIndex",
      "k" -> k.toLong, "bands" -> bands.toLong,
      "rows_per_band" -> rowsPerBand.toLong, "seed" -> seed)
    val numHashes = bands * rowsPerBand
    val sigma = math.sqrt(threshold * (1 - threshold) / numHashes)
    val estThreshold = math.max(0.0, threshold - 2.5 * sigma)
    def banded(sigs: DataFrame): DataFrame = sigs
      .select(col("id"), col("nsh"),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"),
            xxhash64(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand))
              .as("band_hash"))): _*)).as("bb"))
      .select(col("id"), col("nsh"), col("bb.band").as("band"),
        col("bb.band_hash").as("band_hash"))
    val newSigs = sigFrame(cands, candId, candText, k, numHashes, seed)
    def sized(bandedSide: DataFrame): DataFrame = {
      val parted = bandedSide.repartition(col("band"), col("band_hash"))
      val small = parted.groupBy(col("band"), col("band_hash"))
        .agg(count(lit(1)).as("bucket_n"))
        .where(col("bucket_n") <= maxBucketSize)
        .select(col("band"), col("band_hash"))
      parted.join(small, Seq("band", "band_hash"), "left_semi")
    }
    val oldSized = sized(banded(index.select(col("id"), col("nsh"),
      col("sig"))))
    val pairs = sized(banded(newSigs))
      .select(col("band"), col("band_hash"),
        col("id").as("new_id"), col("nsh").as("nsh_n"))
      .join(oldSized.select(col("band"), col("band_hash"),
        col("id").as("old_id"), col("nsh").as("nsh_o")),
        Seq("band", "band_hash"))
      .where(least(col("nsh_n"), col("nsh_o")).cast(DoubleType) >=
        greatest(col("nsh_n"), col("nsh_o"))
          * lit(threshold * (1 - 1e-12)) - lit(1e-9))
      .select(col("new_id"), col("old_id"))
      .distinct() // a pair may collide in several bands
    val newSh = cands.select(col(candId).as("new_id"),
      graft.functions.VectorHashes.ngram_hashes(
        regexp_replace(lower(col(candText)), "\\s+", " "), k).as("sh_n"))
    pairs
      .join(newSigs.select(col("id").as("new_id"), col("sig").as("sig_n")),
        "new_id")
      .join(index.select(col("id").as("old_id"), col("sig").as("sig_o")),
        "old_id")
      .where(estimatedJaccard(col("sig_n"), col("sig_o")) >= estThreshold)
      .select(col("new_id"), col("old_id"))
      .join(newSh, "new_id")
      .join(index.select(col("id").as("old_id"), col("sh").as("sh_o")),
        "old_id")
      .select(col("new_id"), col("old_id"),
        graft.functions.VectorHashes.hash_jaccard(col("sh_n"), col("sh_o"))
          .as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** RETIRE documents from a stored [[lshDedupIndex]] — the ANN/LSH
    * index half of the deletion story. The index is one self-contained
    * row per doc (signature + shingle set are pure per-doc functions),
    * so retirement is ONE anti-join and the result EQUALS the
    * from-scratch index of the surviving corpus exactly — no rebuild,
    * no text rescan, cost O(|index|) scan + broadcast-able tombstone
    * join (tombstone sets are small). Screens against the retracted
    * index can no longer pair with the removed docs, which is the
    * whole point of a takedown. Ids absent from the index are ignored
    * (retracting twice, or a doc that was never indexed, is a no-op —
    * idempotent like the delete it models). */
  def lshIndexRetract(index: DataFrame, removedIds: DataFrame): DataFrame = {
    // presence-only check (any lsh build may retract); the anti-join
    // filter preserves the stamp for downstream screens
    ArtifactStamp.check(index, "sig", "lsh", "lshIndexRetract")
    val rm = removedIds
      .select(col(removedIds.columns.head).as("id")).distinct()
    index.join(rm, Seq("id"), "left_anti")
  }

  /** COMPACT a stored [[lshDedupIndex]] after N nightly appends/
    * retractions: each fold unions another snapshot's files (the
    * StreamOpsSpec lifecycle loop is exactly `index.unionByName(
    * lshDedupIndex(batch))`), so a doc's row — and, worse, each
    * screen's full index scan — fragments across every fold's output.
    * Range-rewrite by `id` ([[graft.ops.Layout.compactByKey]]): the
    * screen explodes band buckets at serve time, so no key layout can
    * co-locate BUCKETS, but the rewrite collapses the small-file pile
    * to full row groups, which is what the scan-side cost actually
    * is. Pure layout: compact(fold(...)) == fold(...) exactly, stamp
    * preserved (DedupSpec proves both; q_dedup_incr serves from it). */
  def lshIndexCompact(index: DataFrame): DataFrame = {
    ArtifactStamp.check(index, "sig", "lsh", "lshIndexCompact")
    Layout.compactByKey(index, Seq("id"))
  }

  /** COMPACT a stored cluster-label table ([[nearDupClusters]] /
    * [[incrementalClusters]] output shape `(id, cluster_id,
    * cluster_size)`): range-rewrite by `(cluster_id, id)` so each
    * COMPONENT's rows co-locate — the access pattern of everything
    * that reads labels ([[retractClusters]]' affected-component
    * semi-joins, per-cluster best-doc picks, split audits). Pure
    * layout (DedupSpec proves label equality through a follow-up
    * incremental fold). */
  def labelStoreCompact(labels: DataFrame): DataFrame = {
    val need = Seq("id", "cluster_id")
    val missing = need.filterNot(labels.columns.contains)
    require(missing.isEmpty,
      s"labelStoreCompact: not a label table — missing " +
        s"${missing.mkString(", ")} (columns: " +
        s"${labels.columns.mkString(", ")})")
    Layout.compactByKey(labels, Seq("cluster_id", "id"))
  }

  // -------------------------------------------- winnowing (MOSS) overlap

  /** Winnowed fingerprint rows `(id, fp)` of the normalized text — the
    * exploded MOSS signature ([[graft.functions.TextHashes.winnow]]),
    * i.e. an inverted-index-ready layout: one narrow codegen'd scan,
    * no shuffle; group/join on `fp` downstream. */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4): DataFrame =
    df.select(col(idCol).as("id"),
      explode(graft.functions.TextHashes.winnow(
        regexp_replace(lower(col(textCol)), "\\s+", " "), k, w)).as("fp"))

  /** Substring-overlap pairs `(id_a, id_b, n_shared)`: documents sharing
    * at least `minShared` winnowed fingerprints. The winnowing GUARANTEE
    * makes this a verbatim-overlap detector with a hard floor: any
    * shared run of `k + w - 1` normalized codepoints produces a shared
    * fingerprint, so a long quote lifted between two otherwise-different
    * documents is caught — the failure mode whole-doc Jaccard (MinHash)
    * is blind to, which is why contamination screens want BOTH.
    *
    * Scale shape = the LSH cascade's: one exchange on `fp`, a bucket-
    * size cap before the self-join (a fingerprint shared by more than
    * `maxBucketSize` docs is template/boilerplate text, not overlap
    * signal — same reasoning as the banding cap), then a count
    * aggregate over slim id pairs. Raw text never enters the join. */
  def winnowOverlapPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4, minShared: Int = 2,
      maxBucketSize: Int = 1000): DataFrame =
    cappedSharedCounts(winnowFingerprints(df, idCol, textCol, k, w),
        maxBucketSize, minShared, "id_a", "id_b") { sized =>
      sized.select(col("fp"), col("id").as("id_a"))
        .join(sized.select(col("fp"), col("id").as("id_b")), Seq("fp"))
        .where(col("id_a") < col("id_b"))
    }

  /** Boilerplate bucket cap, the ONE definition: repartition on `fp`
    * (the single exchange every consumer hangs off), count bucket
    * occupancy, keep rows whose bucket holds <= `maxBucketSize` docs.
    * Intra-corpus pairs, the cross-corpus screen, and the static
    * online index ([[winnowIndex]]) all cap through here, so cap
    * semantics cannot diverge between offline and online screening. */
  private def capFpBuckets(fps: DataFrame, maxBucketSize: Int): DataFrame = {
    val part = fps.repartition(col("fp"))
    val small = part.groupBy(col("fp")).agg(count(lit(1)).as("bucket_n"))
      .where(col("bucket_n") <= maxBucketSize)
      .select(col("fp"))
    part.join(small, Seq("fp"), "left_semi")
  }

  /** The shared tail of both winnow screens: ONE exchange on `fp` (the
    * cap and every join side hang off it), the boilerplate bucket cap,
    * then the caller's pair join and the shared-fingerprint count.
    * Per-doc fingerprints are distinct (kernel contract), so the pair
    * count IS the signature-intersection size. One definition so intra-
    * and cross-corpus screening can never diverge on cap semantics. */
  private def cappedSharedCounts(fps: DataFrame, maxBucketSize: Int,
      minShared: Int, leftCol: String, rightCol: String)(
      pairs: DataFrame => DataFrame): DataFrame = {
    pairs(capFpBuckets(fps, maxBucketSize))
      .groupBy(col(leftCol), col(rightCol))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Cross-frame [[winnowOverlapPairs]]: substring overlaps BETWEEN two
    * corpora — the benchmark-contamination screen (does any TRAINING doc
    * share a >= k+w-1-codepoint verbatim run with an EVAL doc?), where
    * the self-join variant answers intra-corpus duplication. Output
    * `(id_left, id_right, n_shared)`.
    *
    * Scale shape: both sides' fingerprints union into ONE exchange on
    * `fp` (tagged by side), the boilerplate cap applies to the COMBINED
    * bucket (template text is noise whichever corpus it comes from),
    * then train fps hash-join eval fps per bucket. Eval sets are small
    * in practice, so that join's right side broadcasts at scale. */
  def winnowCrossOverlap(left: DataFrame, leftId: String, leftText: String,
      right: DataFrame, rightId: String, rightText: String,
      k: Int = 8, w: Int = 4, minShared: Int = 1,
      maxBucketSize: Int = 1000): DataFrame = {
    val lf = winnowFingerprints(left, leftId, leftText, k, w)
      .select(col("fp"), col("id"), lit(0).as("side"))
    val rf = winnowFingerprints(right, rightId, rightText, k, w)
      .select(col("fp"), col("id"), lit(1).as("side"))
    cappedSharedCounts(lf.unionByName(rf), maxBucketSize, minShared,
        "id_left", "id_right") { sized =>
      sized.where(col("side") === 0)
        .select(col("fp"), col("id").as("id_left"))
        .join(sized.where(col("side") === 1)
          .select(col("fp"), col("id").as("id_right")), Seq("fp"))
    }
  }

  /** Static train-corpus fingerprint index for [[screenAgainstIndex]]:
    * `(fp, train_id)` winnow fingerprints with the boilerplate cap
    * decided on the TRAIN side ALONE — unlike [[winnowCrossOverlap]]'s
    * combined-bucket cap, an arriving stream can't see combined bucket
    * sizes, so the cap must be a pure function of the index (build-time
    * asymmetry by design). Build once, write as a table BUCKETED BY
    * `fp` ([[Bucketing]]): then each screening micro-batch/job shuffles
    * only the candidate side into the index's layout. */
  def winnowIndex(train: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4, maxBucketSize: Int = 1000): DataFrame =
    capFpBuckets(winnowFingerprints(train, idCol, textCol, k, w),
      maxBucketSize)
      .select(col("fp"), col("id").as("train_id"))

  /** [[winnowIndex]] in MERGEABLE per-fp form — the contamination
    * member of the incremental-artifact family: one row per
    * fingerprint, `(fp, n, ids)` with `n` the bucket occupancy and
    * `ids` the sorted posting list, EMPTIED (not just capped) when
    * `n > maxBucketSize` — boilerplate fps keep their count but ship
    * no postings, so no row is ever posting-bloated. The count makes
    * the cap MERGEABLE: occupancy is monotone under union, so an fp
    * over the cap in any snapshot is over it in every merged superset
    * — [[winnowIndexMerge]] can therefore re-apply the cap on summed
    * counts and equal the from-scratch counted index EXACTLY (an
    * id-row index alone cannot: it forgot the over-cap counts).
    * Serve via [[winnowIndexServe]] + [[screenAgainstIndex]].
    * Snapshots must be doc-disjoint (the ivfPqIndexAppend contract). */
  def winnowIndexCounted(train: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4, maxBucketSize: Int = 1000): DataFrame = {
    requireIntegralId(train, idCol, "winnowIndexCounted")
    val fps = winnowFingerprints(train, idCol, textCol, k, w)
    val counts = fps.groupBy(col("fp")).agg(count(lit(1)).as("n"))
    // postings collect only for under-cap fps (semi-join first), so an
    // over-cap bucket never materializes its list — the capFpBuckets
    // scale discipline
    val ids = fps.join(counts.where(col("n") <= maxBucketSize)
        .select(col("fp")), Seq("fp"), "left_semi")
      .groupBy(col("fp"))
      // ids stored as longs — the artifact schema is fixed so merged
      // tables from different builds cannot type-drift
      .agg(sort_array(collect_list(
        col("id").cast(org.apache.spark.sql.types.LongType))).as("ids"))
    ArtifactStamp.stamp(
      counts.join(ids, Seq("fp"), "left")
        .select(col("fp"), col("n"),
          coalesce(col("ids"),
            array().cast(org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.LongType))).as("ids")),
      "ids", "winnow", "k" -> k.toLong, "w" -> w.toLong,
      "max_bucket_size" -> maxBucketSize.toLong)
  }

  /** Plan-time integral-id check for the ops whose STORED artifact
    * fixes the posting type to BIGINT: a non-integral id column (e.g.
    * string ids) would otherwise cast to null postings with no error —
    * fail loudly up front instead (the topKPerKey convention).
    * Delegates to the one shared guard so the check cannot drift. */
  private def requireIntegralId(df: DataFrame, idCol: String,
      op: String): Unit =
    Sampling.requireIntegralCol(df, idCol, s"$op: id")

  /** Merge stored [[winnowIndexCounted]] tables: counts SUM per fp,
    * postings concatenate (re-sorted) where the MERGED count passes
    * the cap and empty otherwise — exactly the from-scratch counted
    * index of the concatenated snapshots (count monotonicity, see
    * [[winnowIndexCounted]]); under-cap merged fps have every posting
    * present because each part was under the cap too. */
  def winnowIndexMerge(parts: Seq[DataFrame],
      maxBucketSize: Int = 1000): DataFrame = {
    require(parts.nonEmpty, "winnowIndexMerge: need at least one table")
    // plan-time provenance: cross-(k, w) parts merge into garbage fps
    // and a cap drift breaks count monotonicity — stamps must be
    // identical across parts AND carry this call's cap
    val common = ArtifactStamp.requireSameStamp(parts, "ids", "winnow",
      "winnowIndexMerge")
    ArtifactStamp.check(parts.head, "ids", "winnow", "winnowIndexMerge",
      "max_bucket_size" -> maxBucketSize.toLong)
    ArtifactStamp.restamp(
      parts.map(_.select(col("fp"), col("n"), col("ids")))
        .reduce(_ unionAll _)
        .groupBy(col("fp"))
        .agg(sum(col("n")).as("n"),
          sort_array(flatten(collect_list(col("ids")))).as("__ids"))
        .select(col("fp"), col("n"),
          when(col("n") <= maxBucketSize, col("__ids"))
            .otherwise(filter(col("__ids"), _ => lit(false))).as("ids")),
      "ids", common)
  }

  /** Explode a [[winnowIndexCounted]] table into [[winnowIndex]]'s
    * `(fp, train_id)` serve rows — over-cap fps carry no postings and
    * contribute nothing, identical to the from-scratch capped index;
    * feed the result to [[screenAgainstIndex]]. */
  def winnowIndexServe(counted: DataFrame): DataFrame = {
    ArtifactStamp.check(counted, "ids", "winnow", "winnowIndexServe")
    counted.select(col("fp"), explode(col("ids")).as("train_id"))
  }

  /** COMPACT a stored [[winnowIndexCounted]] table after N nightly
    * [[winnowIndexMerge]] folds: each merge unions another snapshot's
    * files, so a season of nightlies scatters any fp's row across
    * every fold's output files, while the serve join
    * ([[screenAgainstIndex]] via [[winnowIndexServe]]) wants fp rows
    * CO-LOCATED. Range-partition by `fp` and sort within partitions;
    * write the result back as THE index. Pure layout — the row set is
    * untouched, so compact(merge(...)) == merge(...) exactly and
    * screens served from it are identical (DedupSpec proves both). */
  def winnowIndexCompact(counted: DataFrame): DataFrame = {
    // pure layout: repartition/sort preserve the stamp — only presence
    // is checked, so a compact slots anywhere a counted index does
    ArtifactStamp.check(counted, "ids", "winnow", "winnowIndexCompact")
    counted.repartitionByRange(col("fp"))
      .sortWithinPartitions(col("fp"))
  }

  /** COMPACT an accumulated pair store (the confirmed near-dup pairs
    * [[incrementalClusters]] / [[retractClusters]] consume): nightly
    * appends accumulate duplicates (the same pair re-confirmed by a
    * later screen, possibly flipped) and fragment across files.
    * Canonicalize each pair to `(min, max)`, dedup, range-partition
    * by `id_a`. The pair SET's closure is invariant under orientation
    * and multiplicity, so retraction/fold results off the compacted
    * store equal the uncompacted ones exactly (DedupSpec proves it
    * through [[retractClusters]]). */
  def pairStoreCompact(pairs: DataFrame): DataFrame =
    pairs.select(
        least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
      .where(assert_true(col("id_a") =!= col("id_b"),
        concat(lit("pairStoreCompact: self-pair ("),
          col("id_a").cast(org.apache.spark.sql.types.StringType),
          lit(") — a doc cannot near-duplicate itself in the store")))
        .isNull)
      .distinct()
      .repartitionByRange(col("id_a"), col("id_b"))
      .sortWithinPartitions(col("id_a"), col("id_b"))

  /** RETRACT documents from a stored [[winnowIndexCounted]] table —
    * the contamination-index member of the deletion story (takedowns
    * and opt-outs must leave the screen, not just stop arriving):
    * recompute the REMOVED docs' fingerprints from their text (the
    * artifact never stored over-cap postings, so text is the only
    * complete record of a doc's fps), decrement counts, and
    * array-subtract postings. For every fp that stays on the same
    * side of the cap this EQUALS the from-scratch counted index of
    * the surviving corpus exactly (counts are sums, postings are
    * id-disjoint unions — q_winnow_retract proves it).
    *
    * The one irreversible case is an fp crossing the cap DOWNWARD
    * (`n > maxBucketSize` before, `<=` after): its postings were
    * emptied at build time and cannot be recovered without text the
    * index no longer has. Policy is explicit, never silent:
    * `keepCappedOnUncap = false` (default) RAISES naming the remedy —
    * re-merge from the per-snapshot counted parts
    * ([[winnowIndexMerge]] re-applies the cap on summed counts, so
    * parts under the cap recover the postings), or re-extract just
    * those fps' docs; `keepCappedOnUncap = true` keeps the fp
    * posting-empty with its EXACT decremented count — a documented
    * recall trade in the same conservative direction as the cap
    * itself (the screen misses only what the cap already treated as
    * boilerplate). Inconsistent retractions raise: an fp the index
    * never saw, a count going negative, or a posting id absent from
    * an under-cap list all mean `removed` was not a subset of the
    * indexed corpus. */
  def winnowIndexRetract(counted: DataFrame, removed: DataFrame,
      idCol: String, textCol: String, k: Int = 8, w: Int = 4,
      maxBucketSize: Int = 1000,
      keepCappedOnUncap: Boolean = false): DataFrame = {
    requireIntegralId(removed, idCol, "winnowIndexRetract")
    // plan-time provenance: retracting with k/w that differ from the
    // build recomputes the WRONG fingerprints for the removed docs
    ArtifactStamp.check(counted, "ids", "winnow", "winnowIndexRetract",
      "k" -> k.toLong, "w" -> w.toLong,
      "max_bucket_size" -> maxBucketSize.toLong)
    val rm = winnowFingerprints(removed, idCol, textCol, k, w)
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("__n_rm"),
        sort_array(collect_list(
          col("id").cast(org.apache.spark.sql.types.LongType)))
          .as("__ids_rm"))
    // The contract checks ride INSIDE the projected columns (a raising
    // `when` branch), not as separate assert filters: Catalyst is free
    // to reorder independent Filter conjuncts, and the final
    // drop-empty-fp filter would otherwise discard the very rows
    // (null base count) the "never indexed" check must die on.
    val emptyIds = array().cast(org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType))
    counted.join(rm, Seq("fp"), "full_outer")
      .select(col("fp"), col("n"), col("ids"),
        coalesce(col("__n_rm"), lit(0L)).as("n_rm"),
        coalesce(col("__ids_rm"), emptyIds).as("ids_rm"))
      .select(
        col("fp"),
        // an fp only the removal side knows: those docs were never in
        // the index (or built with different k/w) — a contract breach
        when(col("n").isNull,
          raise_error(concat(lit("winnowIndexRetract: fp "), col("fp"),
            lit(" exists only in the removal set — removed docs were " +
              "never indexed, or k/w differ from the build"))))
          .when(col("n") < col("n_rm"),
            raise_error(concat(lit("winnowIndexRetract: fp "), col("fp"),
              lit(" count would go negative ("), col("n"), lit(" - "),
              col("n_rm"),
              lit(") — removed docs are not a subset of the indexed " +
                "corpus"))))
          // the uncap raise rides on the COUNT column (not the posting
          // column): counts always evaluate (the drop-empty filter
          // reads them), so even an ids-pruned consumer cannot skip it
          .when(!lit(keepCappedOnUncap) && col("n") > maxBucketSize &&
              col("n") - col("n_rm") <= maxBucketSize,
            raise_error(concat(lit("winnowIndexRetract: fp "), col("fp"),
              lit(s" would drop under the cap ($maxBucketSize) but its " +
                "postings were emptied at build time — re-merge from " +
                "per-snapshot counted parts (winnowIndexMerge), " +
                "re-extract those fps' docs, or pass " +
                "keepCappedOnUncap = true to keep it posting-empty " +
                "with the exact count"))))
          .otherwise(col("n") - col("n_rm")).cast(
            org.apache.spark.sql.types.LongType).as("n"),
        // under-cap fps carry postings: every removed id must be there
        when(col("n") <= maxBucketSize &&
            size(array_intersect(col("ids"), col("ids_rm")))
              =!= size(col("ids_rm")),
          raise_error(concat(lit("winnowIndexRetract: fp "), col("fp"),
            lit(" posting list is missing removed ids — removed docs " +
              "are not a subset of the indexed corpus"))))
          .when(col("n") <= maxBucketSize,
            array_except(col("ids"), col("ids_rm")))
          .otherwise(emptyIds).as("ids"))
      // a fully-retracted fp (count 0) leaves the index entirely —
      // the from-scratch index of the survivors has no such row
      .where(col("n") > 0L)
      // the full-outer join + projections dropped the stamp — restore
      // it so the retracted index merges/serves like any other build
      .transform(ArtifactStamp.stamp(_, "ids", "winnow",
        "k" -> k.toLong, "w" -> w.toLong,
        "max_bucket_size" -> maxBucketSize.toLong))
  }

  /** The ONLINE contamination screen: candidate documents checked
    * against a prebuilt [[winnowIndex]] — `(cand_id, train_id,
    * n_shared)` for every candidate sharing >= `minShared` fingerprints
    * (i.e. a verbatim run of k+w-1 normalized codepoints, the winnow
    * guarantee) with a train doc. Runs UNCHANGED on a `readStream`
    * candidate frame: the kernel fingerprint + explode are stateless
    * per-row, the index join is stream-static (re-planned per
    * micro-batch, no watermark, no join state), and only the final
    * per-pair count is a streaming aggregate (update/complete mode) —
    * proven incrementally in StreamOpsSpec. `k`/`w` MUST match the
    * index's build parameters. */
  def screenAgainstIndex(cands: DataFrame, candId: String, candText: String,
      index: DataFrame, k: Int = 8, w: Int = 4,
      minShared: Int = 1): DataFrame = {
    val fps = winnowFingerprints(cands, candId, candText, k, w)
      .select(col("fp"), col("id").as("cand_id"))
    fps.join(index, Seq("fp"))
      .groupBy(col("cand_id"), col("train_id"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  // ----------------------------------------------------------- SimHash

  /** Word tokens: lowercased, split on non-alphanumerics — the
    * 1-gram case of the codegen'd WordNgrams kernel (a single n=1
    * window IS the token), replacing the interpreted
    * `filter(split(...))` HOF phrasing; parity is covered by the
    * kernel-vs-model property at n=1. Every token consumer (SimHash,
    * vocabulary, TF-IDF, language ID) inherits the codegen'd path. */
  def wordTokens(text: Column): Column =
    TextHashes.word_ngrams(text, 1)

  /** 64-bit SimHash fingerprint of a document (single-pass codegen'd
    * expression over the token array). */
  def simhash(text: Column): Column =
    TextHashes.simhash64(wordTokens(text))

  /** SimHash near-dup pairs within Hamming distance `maxDistance`, using
    * Charikar chunk-bucketing: split the 64-bit fingerprint into
    * `maxDistance + 1` chunks; any pair within the distance shares at
    * least one exact chunk (pigeonhole), so candidates join on
    * (chunk_index, chunk_value) — never all pairs. */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      maxDistance: Int = 3): DataFrame =
    hammingNearDupPairs(
      df.select(col(idCol).as("id"), simhash(col(textCol)).as("fp")),
      maxDistance)

  /** The Charikar chunk-bucketing core of [[simhashNearDupPairs]],
    * exposed over ANY (id, fp) 64-bit fingerprint frame — the same
    * machinery serves text SimHash and the multimodal perceptual
    * hashes ([[Multimodal.mediaNearDupPairs]]): split the fingerprint
    * into `maxDistance + 1` chunks; any pair within the distance
    * shares at least one exact chunk (pigeonhole — candidate
    * generation is COMPLETE, never all-pairs), then exact hamming
    * verifies. */
  def hammingNearDupPairs(fp: DataFrame, maxDistance: Int = 3): DataFrame = {
    val chunks = maxDistance + 1
    val bitsPer = 64 / chunks
    val chunked = fp.select(col("id"), col("fp"),
        explode(array((0 until chunks).map { c =>
          val start = c * bitsPer
          val width = if (c == chunks - 1) 64 - start else bitsPer
          val mask = if (width >= 64) -1L else (1L << width) - 1L
          struct(lit(c).as("chunk"),
            shiftright(col("fp"), start).bitwiseAND(lit(mask)).as("cval"))
        }: _*)).as("cc"))
      .select(col("id"), col("fp"),
        col("cc.chunk").as("chunk"), col("cc.cval").as("cval"))
    val l = chunked.select(col("chunk"), col("cval"),
      col("id").as("id_a"), col("fp").as("fp_a"))
    val r = chunked.select(col("chunk"), col("cval"),
      col("id").as("id_b"), col("fp").as("fp_b"))
    l.join(r, Seq("chunk", "cval"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        TextHashes.hamming64(col("fp_a"), col("fp_b")).as("hamming"))
      // hamming is deterministic in the pair, so filtering BEFORE the
      // distinct is equivalent — and shrinks the distinct's shuffle to
      // true near-dups instead of every chunk-collision candidate
      .where(col("hamming") <= maxDistance)
      .dropDuplicates("id_a", "id_b")
  }

  /** Connected components over a near-dup pair list: every doc that
    * appears in at least one pair gets its component's MIN id as
    * `cluster_id` (the canonical keeper), plus the component size.
    * Pair lists are NOT transitive (A~B and B~C does not imply A~C was
    * emitted), so cluster-level dedup — keep one doc per component —
    * needs the closure, not the pairs.
    *
    * Algorithm: min-label propagation over the undirected edge list
    * (`label(v) <- min(label(v), min label of neighbors)`) COMBINED
    * with pointer jumping (`label(v) <- label(label(v))`) each round —
    * propagation alone needs component-DIAMETER rounds (a 60-revision
    * chain would need ~60), pointer jumping compresses label chains
    * geometrically, so convergence is O(log diameter) and the default
    * round cap is unreachable for any physical graph. Each round is
    * two shuffle-joins + one map-side-partial aggregate over slim (id,
    * label) pairs. Per round the frame is pinned ([[Pins]], which also
    * owns the `checkpointDir` durability knob — DedupSpec pins that
    * outputs are identical either way): without it the plan lineage
    * doubles per iteration and planning time, not data, becomes the
    * bottleneck. The driver holds only a one-row convergence sum per
    * round; `maxIters` bounds the label-changing rounds
    * ([[Fixpoint]]).
    *
    * Input must carry `id_a`, `id_b` columns (as produced by
    * [[nearDupPairs]] / [[simhashNearDupPairs]] /
    * [[embeddingNearDupPairs]]); ids must be non-null. */
  def nearDupClusters(pairs: DataFrame, maxIters: Int = 50,
      checkpointDir: Option[String] = None): DataFrame = {
    val pins = Pins(pairs.sparkSession, checkpointDir)
    // materialize the (possibly expensive) pair plan ONCE; the
    // symmetrizing union would otherwise execute it per branch
    val p = pins(pairs.select(col("id_a"), col("id_b")))
    val edges = pins(p.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(p.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct()) // edges are re-joined every round: pin them
    // p is fully folded into the edges pin
    pins.release(p)
    val labels0 = pins(edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")))
    // Convergence by LABEL-SUM fixpoint (optimization r20): labels
    // only ever decrease per id over a fixed id set, so
    // sum(label) strictly decreases until the fixpoint — equal sums ⟺
    // no label moved, the exact condition the old per-round
    // join-and-count checked, minus its broadcast-join job (the loop
    // is driver-job-latency-bound at bench scale). DECIMAL(38,0) keeps
    // the sum exact out to ~1e19 rows of max-long ids.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("label").cast(DecimalType(38, 0)))).head()
        .getDecimal(0)
    val ((labels, _), _) = Fixpoint.iterate("nearDupClusters",
        (labels0, labelSum(labels0)), maxIters)(s => Seq(s._1)) {
      case (labels, prevSum) =>
        val prop = edges.join(labels, edges("dst") === labels("id"))
          .select(edges("src").as("id"), col("label"))
        val folded = pins(labels.union(prop)
          .groupBy(col("id")).agg(min(col("label")).as("label")))
        // pinned: the jump self-joins this frame twice; without pinning,
        // the union+aggregate would execute per side
        // pointer jump: follow each label to ITS label (min only drops)
        val parents = folded.select(col("id").as("pid"), col("label").as("plabel"))
        val next = pins(folded.join(parents, folded("label") === parents("pid"), "left")
          .select(folded("id"), least(folded("label"),
            coalesce(col("plabel"), folded("label"))).as("label")))
        pins.release(folded)
        val s = labelSum(next)
        // null sums (empty pair set -> empty labels) converge immediately
        if (java.util.Objects.equals(s, prevSum)) { pins.release(next); None }
        else Some((next, s))
    }
    val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "label")
      .select(col("id"), col("label").as("cluster_id"), col("cluster_size"))
  }

  /** INCREMENTAL cluster maintenance — the closing stage of the
    * incremental dedup story ([[lshDedupIndex]] finds tonight's
    * pairs; this folds them into yesterday's labels): each OLD
    * cluster collapses to its `id → cluster_id` star (its closure is
    * already known — re-deriving it would rescan history), the new
    * edges splice components together, and min-label propagation
    * relabels; components the new edges never touch converge
    * immediately. Returns `(id, cluster_id, cluster_size)` over
    * old ∪ new ids — EQUAL to re-clustering the union pair set from
    * scratch (DedupSpec pins the equivalence; the oracle recomputes
    * independently), PROVIDED oldLabels' cluster ids are the MIN ids
    * of their components ([[nearDupClusters]]' labels — the invariant
    * that keeps incremental and from-scratch labels identical).
    * Unpaired ids are their own size-1 clusters.
    *
    * Scale shape: the star edges are one slim projection of the label
    * table; propagation cost is [[nearDupClusters]]' on a graph whose
    * old components are DEPTH-1 stars — O(affected region), not
    * O(history). */
  def incrementalClusters(oldLabels: DataFrame, newIds: DataFrame,
      newPairs: DataFrame, maxIters: Int = 50,
      checkpointDir: Option[String] = None): DataFrame = {
    val oldEdges = oldLabels
      .select(col("id").as("id_a"), col("cluster_id").as("id_b"))
      .where(col("id_a") =!= col("id_b"))
    val clustered = nearDupClusters(
      oldEdges.unionAll(newPairs.select(col("id_a"), col("id_b"))),
      maxIters, checkpointDir)
    val allIds = oldLabels.select(col("id"))
      .unionAll(newIds.select(col(newIds.columns.head).as("id")))
      .distinct()
    val singletons = allIds
      .join(clustered.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("cluster_id"),
        lit(1L).as("cluster_size"))
    clustered.unionByName(singletons)
  }

  /** RETRACT documents from a stored cluster-label table — the splice
    * [[incrementalClusters]] cannot undo: min-label propagation only
    * ever MERGES, so removing a BRIDGE doc must SPLIT its component,
    * and the stored labels alone cannot say where (the closure forgot
    * which pairs carried it). The extra input is the stored PAIR SET
    * (`pairStore`: the confirmed near-dup pairs behind `oldLabels` —
    * the per-night pair frames the incremental pipeline already
    * produces and persists). Repair is local: only components that
    * LOST a member re-run closure, over their SURVIVING pairs only;
    * every untouched component passes through by slim anti-join —
    * O(affected region), never O(history).
    *
    * Returns `(id, cluster_id, cluster_size)` over the surviving ids,
    * EQUAL to from-scratch clustering of the surviving pair set
    * (q_dedup_retract's oracle recomputes exactly that, independently)
    * — all four retraction effects fall out of the local re-closure:
    * bridge removal splits, min-member removal relabels (the new min
    * takes over), components shrinking to one doc become singletons,
    * removed singletons just drop.
    *
    * CONTRACT: `oldLabels` must be the [[nearDupClusters]]-invariant
    * labels of `pairStore` (cluster ids are component MIN ids; every
    * paired id present; singletons carried as self-labeled rows —
    * [[incrementalClusters]]' output shape). Removed ids unknown to
    * `oldLabels` are ignored (idempotent, the [[lshIndexRetract]]
    * convention). */
  def retractClusters(oldLabels: DataFrame, pairStore: DataFrame,
      removedIds: DataFrame, maxIters: Int = 50,
      checkpointDir: Option[String] = None): DataFrame = {
    // rm / affected / members are the AFFECTED-REGION frames (small by
    // the repair's own contract) and each is consumed 2-4 times below;
    // cached in-query so the region derivation runs once instead of
    // per consumer. oldLabels itself is deliberately NOT cached here:
    // at scale it is a stored table, and three pruned scans beat
    // caching the whole label history.
    val rm = removedIds
      .select(col(removedIds.columns.head).as("id")).distinct().cache()
    val affected = oldLabels.join(rm, Seq("id"), "left_semi")
      .select(col("cluster_id")).distinct().cache()
    val members = oldLabels.join(affected, Seq("cluster_id"), "left_semi")
      .cache()
    val survivors = members.join(rm, Seq("id"), "left_anti")
      .select(col("id"))
    // pairs live inside components, so membership of id_a alone
    // selects exactly the affected components' pairs
    val survivingPairs = pairStore.select(col("id_a"), col("id_b"))
      .join(members.select(col("id").as("id_a")), Seq("id_a"), "left_semi")
      .join(rm.select(col("id").as("id_a")), Seq("id_a"), "left_anti")
      .join(rm.select(col("id").as("id_b")), Seq("id_b"), "left_anti")
    val reclosed = nearDupClusters(survivingPairs, maxIters, checkpointDir)
    val singletons = survivors
      .join(reclosed.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("cluster_id"),
        lit(1L).as("cluster_size"))
    val untouched = oldLabels.join(affected, Seq("cluster_id"), "left_anti")
      .select(col("id"), col("cluster_id"), col("cluster_size"))
    untouched.unionByName(reclosed).unionByName(singletons)
  }

  /** Cluster-level dedup: keep ONE document per connected near-dup
    * component (the min-id keeper) plus every untouched singleton.
    * This is the principled version of pair-based dropping: with pairs
    * A~B and B~C (but no A~C pair emitted), pair-based "drop id_b"
    * loses C even though C is no near-dup of the kept A; the closure
    * keeps exactly one representative per component. Cost on top of
    * [[nearDupClusters]]: one broadcast-able anti-join of the corpus
    * against the (tiny) non-keeper member list. */
  def clusterDedup(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, bands: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.5, seed: Long = 42L,
      maxBucketSize: Int = 1000): DataFrame = {
    // forward every cascade knob so pair-level and cluster-level dedup
    // can never disagree on which docs count as near-dups
    val losers = nearDupClusters(nearDupPairs(df, idCol, textCol,
        k, bands, rowsPerBand, threshold, seed, maxBucketSize))
      .where(col("id") =!= col("cluster_id"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** [[clusterDedup]] with a QUALITY-AWARE keeper: per connected
    * near-dup component, keep the member maximizing `scoreCol` (ties
    * break to the LOWER id) instead of the arbitrary min-id member —
    * what production dedups actually do (keep the longest / highest-
    * quality representative; the min-id keeper can throw away the one
    * complete copy and keep a truncated dup). `scoreCol` is any column
    * expression over `df` (length, [[TextAnalysis.qualityScore]], a
    * model score...).
    *
    * Cost on top of [[clusterDedup]]: the member list joins its scores
    * (slim — components only, not the corpus) and one per-cluster
    * argmax via a lexicographic struct max — map-side partials, no
    * Window. The argmax is `max(struct(score, -id))`: on a score tie
    * the larger `-id` wins, i.e. the smaller id — deterministic like
    * every keeper in this file. */
  def clusterDedupBest(df: DataFrame, idCol: String, textCol: String,
      scoreCol: Column,
      k: Int = 5, bands: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.5, seed: Long = 42L,
      maxBucketSize: Int = 1000): DataFrame = {
    val members = nearDupClusters(nearDupPairs(df, idCol, textCol,
        k, bands, rowsPerBand, threshold, seed, maxBucketSize))
      .select(col("id"), col("cluster_id"))
    val scored = df.select(col(idCol).as("id"), scoreCol.as("__score"))
      .join(members, "id")
    val keepers = scored.groupBy(col("cluster_id"))
      .agg(max(struct(col("__score").as("s"), (-col("id")).as("nid")))
        .as("best"))
      .select((-col("best.nid")).as("id"))
    val losers = members.join(keepers, Seq("id"), "left_anti")
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** LEAKAGE-FREE train/val/test split — the fix the contamination
    * screens ([[crossCorpusOverlap]], [[winnowCrossOverlap]],
    * [[containmentPairs]]) exist to demand: a plain content-hash split
    * ([[TextAnalysis.withSplit]]) co-locates EXACT duplicates (same
    * text, same hash) but near-duplicates hash independently, so a
    * mutated copy of a train doc can land in test and leak — exactly
    * the split-crossing pairs q_contamination measures. Here every
    * near-dup COMPONENT (the [[nearDupClusters]] closure over the
    * cascade's confirmed pairs, threshold and all knobs forwarded)
    * splits as one unit: each member takes the content-hash bucket of
    * its cluster representative (the min-id member), singletons keep
    * their own bucket — so the assignment degrades to `withSplit`
    * exactly on the dup-free part of the corpus, and no two docs the
    * cascade connects (directly or transitively) can ever straddle a
    * split boundary. Leakage across splits is zero BY CONSTRUCTION at
    * the cascade's recall (1.0 vs all-pairs ground truth on this
    * corpus — q_dedup_minhash's verification).
    *
    * Scale shape on top of the proven cascade+closure: the per-doc
    * bucket is narrow row work; the member->representative-bucket frame
    * is one slim join bounded by the CLUSTERED docs (a small fraction
    * of any real corpus — left un-hinted so AQE broadcasts it when
    * small, shuffles when a pathological corpus makes it big); the
    * corpus itself never shuffles.
    *
    * Ids must be non-null and unique: a null or repeated `idCol` fails
    * the action with an error naming it. */
  def leakFreeSplit(df: DataFrame, idCol: String, textCol: String,
      valPct: Int = 5, testPct: Int = 5,
      k: Int = 5, bands: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.5, seed: Long = 42L,
      maxBucketSize: Int = 1000): DataFrame = {
    require(valPct >= 0 && testPct >= 0 && valPct + testPct <= 100,
      s"valPct + testPct must fit in [0, 100], got $valPct + $testPct")
    require(!df.columns.contains("split"),
      "input already has a `split` column — rename it")
    // withColumn silently REPLACES a same-named column — a user frame
    // already carrying the internal temp names would be corrupted
    // (the clash hazard Similarity.withLshBuckets rejects the same way)
    Seq("__own_bucket", "__rep_bucket").foreach { c =>
      require(!df.columns.contains(c),
        s"input already has an `$c` column (internal temp name) — rename it")
    }
    val members = nearDupClusters(nearDupPairs(df, idCol, textCol,
        k, bands, rowsPerBand, threshold, seed, maxBucketSize))
      .select(col("id").as(idCol), col("cluster_id"))
    // The per-doc content-hash bucket is computed ONCE into a cached
    // slim (id, bucket) frame (r21): it is consumed by BOTH the
    // representative-bucket leg and the per-doc assignment below, and
    // the un-cached shape re-ran the splitBucket kernel — a full read
    // of every doc's text — once per leg (2 corpus text scans in the
    // final plan; guide §6). Attaching the bucket back by an idCol
    // equi-join instead of withColumn is row-preserving because doc
    // ids are unique (the same assumption the representative join
    // already leans on), and the joined corpus scan no longer reads
    // the text column at all. The cache is bench/harness-managed.
    // Those joins would silently drop a null id and multiply a
    // duplicated one, so each id is counted first (one hash aggregate
    // of the slim frame by id, whose partitioning a sort-merge join on
    // id reuses, paid once since the frame is cached), and the action
    // fails loudly unless every id is non-null and unique.
    val bkt = df.select(col(idCol),
        TextAnalysis.splitBucket(col(textCol)).as("__own_bucket"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__n"), min(col("__own_bucket")).as("__own_bucket"))
      .where(assert_true(col(idCol).isNotNull,
        lit(s"leakFreeSplit: null id in `$idCol`")).isNull &&
        assert_true(col("__n") === 1,
          concat(lit(s"leakFreeSplit: duplicate rows for `$idCol` "),
            col(idCol).cast(StringType))).isNull)
      .drop("__n")
      .cache()
    // representative's bucket, one row per member of any cluster
    val repBucket = members.join(
        bkt.select(col(idCol).as("cluster_id"),
          col("__own_bucket").as("__rep_bucket")),
        "cluster_id")
      .select(col(idCol), col("__rep_bucket"))
    val b = coalesce(col("__rep_bucket"), col("__own_bucket"))
    df.join(bkt, Seq(idCol))
      .join(repBucket, Seq(idCol), "left")
      .withColumn("split",
        when(b < valPct, "val")
          .when(b < valPct + testPct, "test")
          .otherwise("train"))
      .drop("__own_bucket", "__rep_bucket")
  }

  /** The end-to-end curation pipeline a training-data user actually
    * runs, composed from the verified pieces: exact dedup (min-id
    * keeper) -> near-dup drop (the HIGHER id of every confirmed pair
    * loses — deterministic) -> quality-score gate -> language gate.
    * Returns the kept docs as (id, lang_pred, quality).
    *
    * Scale shape = the sum of its parts: one content-hash shuffle, the
    * capped LSH cascade, then narrow per-row scoring on survivors. */
  def curateCorpus(df: DataFrame, idCol: String, textCol: String,
      minQuality: Double = 0.5, jaccardThreshold: Double = 0.5): DataFrame = {
    val deduped = exactDedup(df, idCol, textCol)
    val losers = nearDupPairs(deduped, idCol, textCol,
        threshold = jaccardThreshold)
      .select(col("id_b").as(idCol)).distinct()
    qualityGate(deduped.join(losers, Seq(idCol), "left_anti"),
      idCol, textCol, minQuality)
  }

  /** The quality/language gate tail shared by both curation pipelines —
    * one definition so the two can never diverge on gate semantics. */
  private def qualityGate(df: DataFrame, idCol: String, textCol: String,
      minQuality: Double): DataFrame =
    df.select(col(idCol),
        TextAnalysis.langId(col(textCol)).as("lang_pred"),
        TextAnalysis.qualityScore(col(textCol)).as("quality"))
      .where(col("quality") >= minQuality && col("lang_pred") =!= "und")

  /** Cluster-based variant of [[curateCorpus]]: same exact-dedup and
    * quality/language gates, but the near-dup stage drops by CONNECTED
    * COMPONENT (one representative per closure, via [[clusterDedup]])
    * instead of pair-based "higher id of each pair loses". The
    * difference matters on chains: with pairs A~B, B~C and no A~C pair,
    * pair-based dropping keeps A and C (both near-dups of the dropped
    * B); the closure keeps exactly one of {A,B,C}. Scale shape adds
    * only the O(log diameter) label-propagation rounds over slim
    * (id,label) frames on top of curateCorpus's cascade. */
  def curateCorpusClusters(df: DataFrame, idCol: String, textCol: String,
      minQuality: Double = 0.5, jaccardThreshold: Double = 0.5): DataFrame = {
    val deduped = exactDedup(df, idCol, textCol)
    qualityGate(clusterDedup(deduped, idCol, textCol, threshold = jaccardThreshold),
      idCol, textCol, minQuality)
  }

  /** Asymmetric CONTAINMENT contamination: for each (corpus doc, eval
    * doc) pair, the fraction of the EVAL doc's distinct k-gram shingles
    * present in the corpus doc — `C(eval|corpus) = |S_c ∩ S_e| / |S_e|`.
    * The case this exists for: a short benchmark item QUOTED inside a
    * long document has near-total containment but LOW Jaccard
    * (|∩|/|∪| is diluted by the long doc's shingles), so the
    * Jaccard-thresholded near-dup detectors ([[nearDupPairs]], whose
    * LSH banding collision curve is keyed to Jaccard) are structurally
    * blind to it; the winnowing screen catches contiguous quotes >=
    * k+w-1 chars but under-counts scattered/partial overlap — this
    * measures it exactly, with a tunable floor.
    *
    * Scale shape (eval side small — benchmark suites are): eval
    * shingle-hash sets BROADCAST exploded as (eval_id, n_eval, gram);
    * the corpus side explodes to slim (corpus_id, gram) longs and
    * probes map-side — only matching grams enter the one
    * (corpus, eval) count exchange (map-side partials). Both sides'
    * gram arrays are DISTINCT, so join hits are unique per
    * (corpus, eval, gram) and the count IS the intersection size.
    * Hashes are [[graft.functions.TextHashes.cp_ngram_hashes]] (the
    * winnow CODEPOINT gram hash without window selection — exact under
    * a character-substr replay even off ASCII, unlike the byte-window
    * pair-confirm kernels) — deterministic, so the oracle replays the
    * sets as text shingles verbatim. */
  def containmentPairs(corpus: DataFrame, corpusIdCol: String,
      corpusTextCol: String, eval: DataFrame, evalIdCol: String,
      evalTextCol: String, k: Int = 5, tau: Double = 0.5): DataFrame = {
    require(tau > 0 && tau <= 1, s"tau must be in (0, 1], got $tau")
    def norm(c: Column): Column = regexp_replace(lower(c), "\\s+", " ")
    val evalSh = eval.select(col(evalIdCol).as("eval_id"),
        graft.functions.TextHashes.cp_ngram_hashes(norm(col(evalTextCol)), k)
          .as("sh"))
      .select(col("eval_id"), size(col("sh")).cast(LongType).as("n_eval"),
        explode(col("sh")).as("g"))
    val corpusSh = corpus.select(col(corpusIdCol).as("corpus_id"),
        explode(graft.functions.TextHashes.cp_ngram_hashes(
          norm(col(corpusTextCol)), k)).as("g"))
    corpusSh.join(broadcast(evalSh), Seq("g"))
      .groupBy(col("corpus_id"), col("eval_id"), col("n_eval"))
      .agg(count(lit(1)).as("n_hit"))
      .select(col("corpus_id"), col("eval_id"), col("n_hit"), col("n_eval"),
        (col("n_hit").cast(DoubleType) / col("n_eval").cast(DoubleType))
          .as("containment"))
      .where(col("containment") >= tau)
  }

  // ------------------------------------------- embedding-cosine near-dup

  /** Embedding near-duplicate pairs: cosine >= threshold, candidates from
    * LSH buckets (shared with [[Similarity]]) — no all-pairs. */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, threshold: Double = 0.95, numTables: Int = 4,
      planesPerTable: Int = 12, seed: Long = 42L): DataFrame = {
    val b = Similarity.withLshBuckets(df.select(col(idCol), col(vecCol)),
      vecCol, dim, numTables, planesPerTable, seed)
    val l = b.select(col("lsh_table"), col("lsh_bucket"),
      col(idCol).as("id_a"), col(vecCol).as("vec_a"))
    val r = b.select(col("lsh_table"), col("lsh_bucket"),
      col(idCol).as("id_b"), col(vecCol).as("vec_b"))
    l.join(r, Seq("lsh_table", "lsh_bucket"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        Similarity.cosine(col("vec_a"), col("vec_b")).as("cosine"))
      // cosine is deterministic in the pair — filter before the distinct
      // so only passing pairs enter its shuffle (same output, less data)
      .where(col("cosine") >= threshold)
      .dropDuplicates("id_a", "id_b")
  }

  /** SEMANTIC cross-corpus contamination — the missing mode of the
    * contamination matrix: [[crossCorpusOverlap]] catches exact dups,
    * [[winnowCrossOverlap]] verbatim substrings, [[containmentPairs]]
    * quoted shingle mass — all LEXICAL. A paraphrased or re-rendered
    * benchmark item shares none of those surfaces yet still leaks; this
    * screen catches it in EMBEDDING space: both corpora bucket under
    * the SAME seeded hyperplanes (so true near-pairs collide), the
    * candidate join crosses corpora only, and candidates confirm on
    * exact cosine >= `threshold`. Same deterministic-planes recipe as
    * [[embeddingNearDupPairs]], so the DuckDB oracle replays the
    * candidate generator and the confirmation bit-exactly.
    *
    * Scale shape: the eval/benchmark side is tiny next to the corpus
    * (the contamination regime), so its bucketed frame broadcasts
    * (un-hinted — AQE decides); the corpus streams through the bucket
    * probe map-side and only colliding candidates carry vectors into
    * the cosine. No all-pairs, no corpus self-join. */
  def embeddingCrossContamination(corpus: DataFrame, corpusId: String,
      corpusVec: String, eval: DataFrame, evalId: String, evalVec: String,
      dim: Int, threshold: Double = 0.95, numTables: Int = 4,
      planesPerTable: Int = 12, seed: Long = 42L): DataFrame = {
    val bc = Similarity.withLshBuckets(
      corpus.select(col(corpusId), col(corpusVec)),
      corpusVec, dim, numTables, planesPerTable, seed)
    val be = Similarity.withLshBuckets(
      eval.select(col(evalId), col(evalVec)),
      evalVec, dim, numTables, planesPerTable, seed)
    bc.select(col("lsh_table"), col("lsh_bucket"),
        col(corpusId).as("corpus_id"), col(corpusVec).as("vec_c"))
      .join(be.select(col("lsh_table"), col("lsh_bucket"),
          col(evalId).as("eval_id"), col(evalVec).as("vec_e")),
        Seq("lsh_table", "lsh_bucket"))
      .select(col("corpus_id"), col("eval_id"),
        Similarity.cosine(col("vec_c"), col("vec_e")).as("cosine"))
      .where(col("cosine") >= threshold)
      .dropDuplicates("corpus_id", "eval_id")
  }

  // ------------------------------------------------------------ SemDeDup

  /** SemDeDup drop set (Abbas et al. 2023, arXiv:2303.09540): semantic
    * dedup via embedding clusters — the near-dup mode for pairs with NO
    * lexical overlap (paraphrases, translations, re-renders) that
    * MinHash/SimHash/winnowing are structurally blind to. Vectors are
    * bucketed by nearest centroid (train with
    * [[Similarity.trainCentroids]] — seeded id-hash sample, fixed-point
    * Lloyd sums, so the whole pipeline is deterministic and the DuckDB
    * oracle replays it); WITHIN each cluster, every vector with a
    * lower-id neighbor at cosine >= `tau` is dropped (deterministic
    * min-id keeper, consistent with [[exactDedup]]; the paper keeps a
    * random or centroid-farthest representative — same dedup power,
    * but not replayable).
    *
    * Scale shape: the quadratic candidate join is bounded PER CLUSTER —
    * one exchange of (cluster, id, vec) on cluster id, then
    * ~k*(n/k)^2 = n^2/k cosine pairs instead of n^2; the paper's
    * k ~ sqrt(n/1000) keeps lists in the thousands at web scale. Unlike
    * the text dedups the vectors must enter the pair join (a cosine
    * needs both sides), but only the slim drop-id set shuffles onward. */
  def semDedupDropIds(df: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], tau: Double,
      probes: Int = 1): DataFrame =
    semDedupDropFromAssigned(
      semAssignProbed(df, idCol, vecCol, centroids, probes),
      idCol, vecCol, tau)

  /** `(idCol, vecCol, cluster)` — one centroid_assign kernel pass. */
  private def semAssign(df: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]]): DataFrame =
    df.select(col(idCol), col(vecCol),
      graft.functions.Centroids.centroid_assign(col(vecCol), centroids)
        .as("cluster"))

  /** Pair-scan assignment with neighbor-cluster probing: each vector
    * enters the `probes` clusters of its nearest centroids (best first
    * — index 0 is the [[semAssign]] primary), so a near-pair straddling
    * a cluster boundary still meets in the runner-up's cluster. Pair
    * work grows by at most `probes`× (each vector appears in `probes`
    * lists), NOT `probes²`× per pair — still n²·probes²/k total, never
    * all-pairs. `probes = 1` degenerates to [[semAssign]] exactly. */
  private def semAssignProbed(df: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], probes: Int): DataFrame =
    if (probes <= 1) semAssign(df, idCol, vecCol, centroids)
    else df.select(col(idCol), col(vecCol),
      explode(graft.functions.Centroids.centroid_probes(
        col(vecCol), centroids, probes)).as("cluster"))

  private def semDedupDropFromAssigned(assigned: DataFrame, idCol: String,
      vecCol: String, tau: Double): DataFrame = {
    val l = assigned.select(col("cluster"), col(idCol).as("id_a"),
      col(vecCol).as("vec_a"))
    val r = assigned.select(col("cluster"), col(idCol).as("id_b"),
      col(vecCol).as("vec_b"))
    l.join(r, Seq("cluster"))
      .where(col("id_a") < col("id_b"))
      .where(Similarity.cosine(col("vec_a"), col("vec_b")) >= tau)
      .select(col("id_b").as(idCol))
      .distinct()
  }

  /** Kept rows under [[semDedupDropIds]], WITH their `cluster` column —
    * the corpus minus every vector that has a lower-id neighbor at
    * cosine >= `tau` in a shared probed cluster. The output cluster is
    * always the PRIMARY (nearest-centroid) assignment; `probes > 1`
    * only widens the pair scan, closing the boundary-blindness gap
    * (a near-pair whose members' nearest centroids differ still meets
    * in a runner-up cluster — see DedupSpec's hand-built boundary
    * pair, missed at probes=1 and caught at probes=2). The anti join is
    * left un-hinted on purpose: at demo taus the drop set is tiny and
    * AQE broadcasts it, but at the paper's production tau (~0.95 on
    * web corpora) SemDeDup drops ~half the corpus — a forced
    * broadcast() of billions of ids would OOM the driver, while the
    * shuffled anti join degrades gracefully. */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], tau: Double,
      probes: Int = 1): DataFrame = {
    // ONE kernel derivation feeds both the output assignment and the
    // pair scan: at probes<=1 the drop path reuses `assigned` verbatim
    // (the old code re-derived it as a second full-corpus kernel
    // subtree), and at probes>1 the primary cluster is element 1 of the
    // SAME centroid_probes list the pair scan explodes — probes[0] is
    // centroid_assign by construction, so no second kernel pass.
    if (probes <= 1) {
      val assigned = semAssign(df, idCol, vecCol, centroids)
      assigned.join(
        semDedupDropFromAssigned(assigned, idCol, vecCol, tau),
        Seq(idCol), "left_anti")
    } else {
      val probed = df.select(col(idCol), col(vecCol),
        graft.functions.Centroids.centroid_probes(
          col(vecCol), centroids, probes).as("__probes"))
      val assigned = probed.select(col(idCol), col(vecCol),
        element_at(col("__probes"), 1).as("cluster"))
      val exploded = probed.select(col(idCol), col(vecCol),
        explode(col("__probes")).as("cluster"))
      assigned.join(
        semDedupDropFromAssigned(exploded, idCol, vecCol, tau),
        Seq(idCol), "left_anti")
    }
  }
}

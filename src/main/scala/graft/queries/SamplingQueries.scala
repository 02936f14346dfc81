package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry.t
import graft.functions.LongHashes
import graft.ops.{Sampling, Similarity}
import OracleSql.{signedSql, splitmixCtesSql, kmeansPrefixSql}

/** Deterministic hash sampling from [[graft.ops.Sampling]] and
  * [[graft.functions.LongHashes]]. */
object SamplingQueries {

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_quota_mix", (s, dir) => {
      // EXACT-TOTAL proportional mix (Sampling.quotaSampleByGroup):
      // hit a hard 100-doc budget with per-LANG shares within one row
      // of exact proportionality — largest-remainder quotas (integer
      // arithmetic, replayed verbatim) + the quota smallest id-hashes
      // per lang. Rate-based mixing drifts off an exact total; a
      // global bottom-k ignores strata; this does both. The lang
      // strata are UNEVEN (en 218 / zh 75 / es 73 / de 70 / fr 64 at
      // sf0.01), so the remainder units and the ascending-name tie
      // (en vs es, both r=300) are genuinely exercised: quotas
      // en 44 / zh 15 / es 14 / de 14 / fr 13.
      Sampling.quotaSampleByGroup(t(s, dir, "documents"), "lang",
          "doc_id", totalK = 100)
        .orderBy("lang", "rank")
    },
    // Quota replay: integer largest-remainder apportionment + the
    // per-source unsigned hash-rank chain, rn <= quota.
    () =>
      raw"""WITH cnt AS (SELECT lang AS g, CAST(count(*) AS BIGINT) AS n
                         FROM documents GROUP BY lang),
               tot AS (SELECT sum(n) AS nt FROM cnt),
               bs AS (SELECT g, n, (100 * n) // nt AS b, (100 * n) % nt AS r
                      FROM cnt, tot),
               sb AS (SELECT 100 - sum(b) AS extra FROM bs),
               rkq AS (SELECT g, b,
                              row_number() OVER (ORDER BY r DESC, g) AS rr
                       FROM bs),
               q AS (SELECT g, b + CASE WHEN rr <= extra THEN 1 ELSE 0 END AS quota
                     FROM rkq, sb),
               d0 AS (SELECT lang, doc_id, CAST(doc_id AS HUGEINT) AS z
                      FROM documents),
               ${splitmixCtesSql("d0", "lang, doc_id")},
               rk AS (SELECT lang, doc_id,
                             row_number() OVER (PARTITION BY lang ORDER BY z) AS rn
                      FROM h5)
          SELECT rk.lang, CAST(q.quota AS BIGINT) AS quota, rk.doc_id,
                 CAST(rk.rn - 1 AS BIGINT) AS rank
          FROM rk JOIN q ON q.g = rk.lang
          WHERE rk.rn <= q.quota
          ORDER BY lang, rank"""),
    QuerySpec("q_sample", (s, dir) => {
      // Deterministic exact-SIZE sample: the 100 documents with the
      // smallest SplitMix64(doc_id) in UNSIGNED order. Content-hash
      // splits (q_split/q_mix) fix a RATE; eval-set carving needs a
      // fixed SIZE — and hash-bottom-k makes the pick a pure function
      // of the id SET: stable across runs, engines, partitionings, and
      // appends (one new doc displaces at most one sample member,
      // where re-rolling a random sample replaces it wholesale).
      // Plan: TakeOrderedAndProject (pinned) — each partition keeps
      // its own bottom-100 map-side and the driver merges k*partitions
      // rows; no global sort, no shuffle of the corpus. Signed sort
      // key = hash XOR Long.MinValue: signed order of the flipped
      // sign bit IS unsigned hash order.
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"),
          LongHashes.splitmix64(col("doc_id")).as("skey"))
        .orderBy(col("skey").bitwiseXOR(lit(Long.MinValue)))
        .limit(100)
    },
    () =>
      raw"""WITH d0 AS (SELECT doc_id, source, n_chars,
                               CAST(doc_id AS HUGEINT) AS z
                        FROM documents),
               ${splitmixCtesSql("d0", "doc_id, source, n_chars")}
          SELECT doc_id, source, n_chars,
                 CAST(${signedSql("z")} AS BIGINT) AS skey
          FROM h5 ORDER BY z LIMIT 100"""),
    QuerySpec("q_sample_stratified", (s, dir) => {
      // Stratified exact-size sample: 20 docs per language as the k
      // smallest SplitMix64(doc_id) within each lang (all docs when a
      // stratum holds fewer). A global bottom-k (q_sample) follows the
      // corpus mix and drowns minority strata; this is the balanced-
      // eval-set builder. Bounded-heap aggregate: every partition
      // keeps <= k (hash, id) pairs per lang map-side — no window sort
      // over whole partitions, no join-back (the id rides in the
      // buffer); ONE aggregate exchange (pinned).
      Sampling.sampleKPerGroup(t(s, dir, "documents"), "lang", "doc_id", 20)
        .orderBy(col("lang"), col("skey").bitwiseXOR(lit(Long.MinValue)))
    },
    () =>
      raw"""WITH d0 AS (SELECT lang, doc_id, CAST(doc_id AS HUGEINT) AS z
                        FROM documents),
               ${splitmixCtesSql("d0", "lang, doc_id")},
               rk AS (SELECT lang, doc_id, z,
                             row_number() OVER (PARTITION BY lang ORDER BY z) AS rn
                      FROM h5)
          SELECT lang, doc_id, CAST(${signedSql("z")} AS BIGINT) AS skey
          FROM rk WHERE rn <= 20 ORDER BY lang, z"""),
    QuerySpec("q_cluster_sample", (s, dir) => {
      // Cluster-balanced subsample: 8 vectors per SEMANTIC cluster —
      // the diversity-preserving downsample (a global bottom-k follows
      // the cluster mix and can empty small semantic regions; this
      // keeps every region represented — the SemDeDup-family
      // counterpart of q_sample_stratified's per-language balance).
      // Same trained centroids as q_ann_ivf/q_semdedup; per-cluster
      // picks via the bounded bottom-k-by-hash aggregate: <= k
      // (hash, id) pairs per cluster map-side, ONE exchange, no window
      // sort, no join-back (pinned).
      val emb = t(s, dir, "embeddings")
      val cents = Similarity.trainCentroids(emb, "vec_id", "embedding",
        k = 16, iters = 5, sampleFraction = 0.1)
      val assigned = emb.select(
        graft.functions.Centroids.centroid_assign(col("embedding"), cents)
          .cast(LongType).as("cluster"),
        col("vec_id"))
      Sampling.sampleKPerGroup(assigned, "cluster", "vec_id", 8)
        .orderBy(col("cluster"), col("skey").bitwiseXOR(lit(Long.MinValue)))
    },
    // k-means replay (cluster assignment) + q_sample_stratified's
    // SplitMix64 bottom-k replay, per cluster instead of per language.
    () =>
      raw"""WITH ${kmeansPrefixSql(k = 16, iters = 5, dim = 64,
                sampleFraction = 0.1, seed = 42L)},
               d0 AS (SELECT cluster, vec_id, CAST(vec_id AS HUGEINT) AS z
                      FROM casg),
               ${splitmixCtesSql("d0", "cluster, vec_id")},
               rk AS (SELECT cluster, vec_id, z,
                             row_number() OVER (PARTITION BY cluster ORDER BY z) AS rn
                      FROM h5)
          SELECT cluster, vec_id, CAST(${signedSql("z")} AS BIGINT) AS skey
          FROM rk WHERE rn <= 8 ORDER BY cluster, z"""),
    QuerySpec("q_quantile_sample", (s, dir) => {
      // Order statistics at scale: EXACT percentiles need every value
      // in one sorted pass (a full shuffle at 100 TB); the scale path
      // is percentiles over a deterministic id-hash sample — here a
      // 1-in-4 SplitMix64 slice, est and exact side by side in one
      // row so the sampling error is part of the artifact. The sample
      // predicate is a pure function of the id (pmod of a bijective
      // hash): stable under retries/partitioning, replayed exactly by
      // the oracle (2^64 ≡ 0 mod 4, so unsigned-mod == pmod-signed).
      // The sampled branch broadcasts: 1-row frames join driver-free.
      val docs = t(s, dir, "documents")
      val exact = docs.agg(count(lit(1)).as("n_exact"),
        expr("percentile(n_chars, 0.5D)").as("p50_exact"),
        expr("percentile(n_chars, 0.9D)").as("p90_exact"))
      val sampled = docs
        .where(pmod(LongHashes.splitmix64(col("doc_id")), lit(4)) === 0)
        .agg(count(lit(1)).as("n_sample"),
          expr("percentile(n_chars, 0.5D)").as("p50_est"),
          expr("percentile(n_chars, 0.9D)").as("p90_est"))
      exact.crossJoin(broadcast(sampled)).orderBy("n_exact")
    },
    () =>
      raw"""WITH d0 AS (SELECT doc_id, n_chars, CAST(doc_id AS HUGEINT) AS z
                        FROM documents),
               ${splitmixCtesSql("d0", "doc_id, n_chars")},
               ex AS (SELECT count(*) AS n_exact,
                             quantile_cont(n_chars, 0.5) AS p50_exact,
                             quantile_cont(n_chars, 0.9) AS p90_exact
                      FROM documents),
               sm AS (SELECT count(*) AS n_sample,
                             quantile_cont(n_chars, 0.5) AS p50_est,
                             quantile_cont(n_chars, 0.9) AS p90_est
                      FROM h5 WHERE z % 4 = 0)
          SELECT n_exact, p50_exact, p90_exact, n_sample, p50_est, p90_est
          FROM ex CROSS JOIN sm ORDER BY n_exact"""),
    QuerySpec("q_sample_incr", (s, dir) => {
      // INCREMENTAL WEIGHTED SAMPLE (Sampling.prioritySamples/
      // prioritySampleMerge/priorityEstimates) — the SAMPLING member
      // of the incremental-artifact family: the quantile summaries
      // already persist the uniform bottom-k sample; this persists the
      // WEIGHTED one, per-source top-8 by the Duffield–Lund–Thorup
      // priority w/u (the q_sample_weighted key — one IEEE division,
      // bit-replayable). Artifacts build per corpus half (even/odd doc
      // ids standing in for two nightly snapshots) and fold WITHOUT
      // rescanning either corpus; top-m by a total order is closed
      // under union, so the merged artifact equals the single-pass
      // full build PAIR FOR PAIR (n_pair_mismatch — keys AND weight
      // payloads, the register-level form). Then the DLT subset-sum
      // estimates serve off the MERGED state: w_est = max(w, tau),
      // tau the 5th stored priority rescaled to WEIGHT units (stored
      // priorities divide by the RAW 63-bit hash, so the DLT uniform
      // variate is u/2^63 and the serve multiplies by 2^63 — an exact
      // power-of-two scale, round-19 ADVICE fix; unscaled, tau could
      // never bind and the estimator was biased low) — summing w_est
      // over any subset of the top-4 unbiasedly estimates that
      // subset's total weight in the full population. Itemwise
      // output, so the replay is order-free (no cross-engine double
      // summation).
      val docs = t(s, dir, "documents").select(col("source"),
        pmod(col("doc_id"), lit(2)).as("half"), col("doc_id"),
        col("n_chars").cast(LongType).as("w"))
      val m = 8
      val sa = Sampling.prioritySamples(docs.where(col("half") === 0),
        Seq("source"), "doc_id", "w", m)
      val sb = Sampling.prioritySamples(docs.where(col("half") === 1),
        Seq("source"), "doc_id", "w", m)
      val merged = Sampling.prioritySampleMerge(Seq(sa, sb),
        Seq("source"), m)
      val full = Sampling.prioritySamples(docs, Seq("source"),
        "doc_id", "w", m)
      merged.select(col("source"), col("wsample").as("wm"))
        .join(full.select(col("source"), col("wsample").as("wf")),
          Seq("source"))
        .select(col("source"),
          size(col("wm")).cast(LongType).as("n_sample"),
          when(col("wm") <=> col("wf"), lit(0L)).otherwise(lit(1L))
            .as("n_pair_mismatch"),
          posexplode(Sampling.priorityEstimates(col("wm"), 4))
            .as(Seq("pos", "e")))
        .select(col("source"), col("n_sample"), col("n_pair_mismatch"),
          (col("pos") + 1).cast(LongType).as("rank"),
          col("e.id").as("doc_id"), col("e.w").as("w"),
          col("e.w_est").as("w_est"))
        .orderBy("source", "rank")
    },
    // Weighted-sample-artifact replay: the DLT priority chain (w/u
    // with the 63-bit odd splitmix hash), per-half top-8 per source,
    // merged by union + re-rank, compared pair-for-pair against the
    // direct full build (both paths derived INDEPENDENTLY of the Spark
    // artifact), then the top-4 served with w_est = max(w, tau), tau
    // the 5th merged priority rescaled to weight units by the exact
    // 2^63 factor (the stored key divides by the RAW 63-bit hash;
    // round-19 ADVICE fix), coalesced to 0 when absent — the
    // complete-sample case.
    () =>
      raw"""WITH d0 AS (SELECT doc_id, source, doc_id % 2 AS half,
                               CAST(n_chars AS BIGINT) AS w,
                               CAST(doc_id AS HUGEINT) AS z
                        FROM documents WHERE n_chars IS NOT NULL),
               ${splitmixCtesSql("d0", "doc_id, source, half, w")},
               pr AS MATERIALIZED (SELECT source, half, doc_id, w,
                             CAST(w AS DOUBLE) /
                               CAST(CAST((CAST(z AS UBIGINT) >> 1) | 1
                                    AS BIGINT) AS DOUBLE) AS p
                      FROM h5),
               ph AS (SELECT source, doc_id, w, p,
                             row_number() OVER (PARTITION BY source, half
                                                ORDER BY p DESC, doc_id) AS rn
                      FROM pr),
               mg AS MATERIALIZED (SELECT source, doc_id, w, p,
                             row_number() OVER (PARTITION BY source
                                                ORDER BY p DESC, doc_id) AS rn
                      FROM ph WHERE rn <= 8),
               sm AS (SELECT source,
                             list(struct_pack(np := -p, id := doc_id, w := w)
                                  ORDER BY p DESC, doc_id) AS pm,
                             CAST(count(*) AS BIGINT) AS n_sample
                      FROM mg WHERE rn <= 8 GROUP BY source),
               fl AS (SELECT source,
                             list(struct_pack(np := -p, id := doc_id, w := w)
                                  ORDER BY p DESC, doc_id) AS pf
                      FROM (SELECT source, doc_id, w, p,
                                   row_number() OVER (PARTITION BY source
                                                      ORDER BY p DESC, doc_id) AS rn
                            FROM pr) WHERE rn <= 8 GROUP BY source),
               tu AS (SELECT source,
                             coalesce(max(CASE WHEN rn = 5 THEN p END), 0.0)
                               AS tau
                      FROM mg WHERE rn <= 8 GROUP BY source),
               sv AS (SELECT m.source, m.doc_id, m.w,
                             CAST(m.rn AS BIGINT) AS rank,
                             greatest(CAST(m.w AS DOUBLE),
                                      t.tau * 9223372036854775808.0) AS w_est
                      FROM mg m JOIN tu t USING (source) WHERE m.rn <= 4)
          SELECT s.source, s.n_sample,
                 CAST(CASE WHEN s.pm = f.pf THEN 0 ELSE 1 END AS BIGINT)
                   AS n_pair_mismatch,
                 v.rank, v.doc_id, v.w, v.w_est
          FROM sm s JOIN fl f USING (source) JOIN sv v USING (source)
          ORDER BY source, rank"""),
    QuerySpec("q_sample_retract", (s, dir) => {
      // WEIGHTED-SAMPLE RETRACTION (Sampling.priorityPairsRetract) —
      // the weighted twin of q_quantile_retract in the deletion
      // taxonomy's bottom-k row: dropping the removed ids from the
      // stored pair array leaves EXACTLY the survivors' top-m'
      // priorities (a removal can never promote a survivor past the
      // old m-th priority), i.e. a valid priority sample of the
      // surviving population at reduced resolution. prefix_match pins
      // that claim per source (the retracted pairs == the from-scratch
      // survivors' top-8 truncated to m' — keys AND payloads), and the
      // surviving entries are emitted in full. The tombstone set rides
      // as one bounded per-group array (takedown sets are small); past
      // broadcast size the anti-join form of priorityPairsRetract's
      // filter applies instead.
      val docs = t(s, dir, "documents").select(col("source"),
        pmod(col("doc_id"), lit(5)).as("m5"), col("doc_id"),
        col("n_chars").cast(LongType).as("w"))
      val m = 8
      val full = Sampling.prioritySamples(docs, Seq("source"),
        "doc_id", "w", m)
      val rm = docs.where(col("m5") === 0).groupBy(col("source"))
        .agg(collect_list(col("doc_id")).as("rmids"))
      val retracted = full.join(rm, Seq("source"), "left")
        .select(col("source"),
          Sampling.priorityPairsRetract(col("wsample"),
            coalesce(col("rmids"), array().cast(ArrayType(LongType))))
            .as("wsample"))
      val surv = Sampling.prioritySamples(docs.where(col("m5") =!= 0),
        Seq("source"), "doc_id", "w", m)
      retracted
        .join(surv.select(col("source"), col("wsample").as("ws")),
          Seq("source"))
        .select(col("source"),
          size(col("wsample")).cast(LongType).as("n_sample"),
          (col("wsample") <=> slice(col("ws"), lit(1),
            size(col("wsample")))).as("prefix_match"),
          posexplode(col("wsample")).as(Seq("pos", "p")))
        .select(col("source"), col("n_sample"), col("prefix_match"),
          (col("pos") + 1).cast(LongType).as("rank"),
          col("p.id").as("doc_id"), col("p.w").as("w"))
        .orderBy("source", "rank")
    },
    // Weighted-sample-retraction replay: rank ALL rows by priority,
    // keep rn <= 8, drop the removed rows from the kept set (the
    // retraction re-derived as plain filtering), prefix-compare
    // against the survivors' own top-8, and emit the surviving
    // entries re-ranked.
    () =>
      raw"""WITH d0 AS (SELECT doc_id, source, (doc_id % 5 = 0) AS rm,
                               CAST(n_chars AS BIGINT) AS w,
                               CAST(doc_id AS HUGEINT) AS z
                        FROM documents WHERE n_chars IS NOT NULL),
               ${splitmixCtesSql("d0", "doc_id, source, rm, w")},
               pr AS MATERIALIZED (SELECT source, rm, doc_id, w,
                             CAST(w AS DOUBLE) /
                               CAST(CAST((CAST(z AS UBIGINT) >> 1) | 1
                                    AS BIGINT) AS DOUBLE) AS p
                      FROM h5),
               fk AS MATERIALIZED (SELECT source, rm, doc_id, w, p,
                             row_number() OVER (PARTITION BY source
                                                ORDER BY p DESC, doc_id) AS rn
                      FROM pr),
               rt AS (SELECT source,
                             list(struct_pack(np := -p, id := doc_id, w := w)
                                  ORDER BY p DESC, doc_id) AS pm,
                             CAST(count(*) AS BIGINT) AS n_sample
                      FROM fk WHERE rn <= 8 AND NOT rm GROUP BY source),
               sv AS (SELECT source,
                             list(struct_pack(np := -p, id := doc_id, w := w)
                                  ORDER BY p DESC, doc_id) AS pf
                      FROM (SELECT source, doc_id, w, p,
                                   row_number() OVER (PARTITION BY source
                                                      ORDER BY p DESC, doc_id) AS rn
                            FROM pr WHERE NOT rm) WHERE rn <= 8
                      GROUP BY source),
               px AS (SELECT r.source, r.n_sample,
                             (r.pm = s.pf[1:CAST(r.n_sample AS INTEGER)])
                               AS prefix_match
                      FROM rt r JOIN sv s USING (source)),
               kr AS (SELECT source, doc_id, w,
                             CAST(row_number() OVER (PARTITION BY source
                                    ORDER BY p DESC, doc_id) AS BIGINT) AS rank
                      FROM fk WHERE rn <= 8 AND NOT rm)
          SELECT p.source, p.n_sample, p.prefix_match,
                 k.rank, k.doc_id, k.w
          FROM px p JOIN kr k USING (source)
          ORDER BY source, rank"""),
    QuerySpec("q_sample_weighted", (s, dir) => {
      // Weighted priority sample (Duffield–Lund–Thorup priority
      // sampling): top-100 documents by priority w/u, w = n_chars, u a
      // uniform 63-bit hash of the id — long docs are proportionally
      // likelier, yet the pick is a pure function of the id set like
      // q_sample. u = SplitMix64 >>(unsigned) 1 with the low bit
      // forced (so 0 < u < 2^63 and the signed/unsigned question never
      // arises); priority = one IEEE division of two exactly-rounded
      // int->double casts — correctly rounded everywhere, so the
      // oracle replays it BIT-exactly (the textbook u^(1/w) key needs
      // pow/ln, whose last-ulp varies by libm). Plan: same bounded
      // TakeOrderedAndProject as q_sample — per-partition top-k, no
      // corpus shuffle (pinned).
      val u = shiftrightunsigned(LongHashes.splitmix64(col("doc_id")), 1)
        .bitwiseOR(lit(1L))
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"),
          (col("n_chars").cast(DoubleType) / u.cast(DoubleType))
            .as("priority"))
        .orderBy(col("priority").desc, col("doc_id"))
        .limit(100)
    },
    // Priority sampling: u = SplitMix64(doc_id) >>(unsigned) 1 with the
    // low bit forced; priority = n_chars/u, ONE IEEE division of two
    // exact int->double casts — bit-identical across engines.
    () =>
      raw"""WITH d0 AS (SELECT doc_id, source, n_chars,
                               CAST(doc_id AS HUGEINT) AS z
                        FROM documents),
               ${splitmixCtesSql("d0", "doc_id, source, n_chars")},
               u AS (SELECT doc_id, source, n_chars,
                            CAST((CAST(z AS UBIGINT) >> 1) | 1 AS BIGINT) AS u
                     FROM h5)
          SELECT doc_id, source, n_chars,
                 CAST(n_chars AS DOUBLE) / CAST(u AS DOUBLE) AS priority
          FROM u ORDER BY priority DESC, doc_id LIMIT 100"""),
    QuerySpec("q_sample_weighted_stratified", (s, dir) => {
      // The fourth sampling-matrix cell ({uniform,weighted} x {global,
      // per-stratum}): top-10 docs PER SOURCE by the same DLT w/u
      // priority as q_sample_weighted — heavy docs proportionally
      // likelier WITHIN each source, every source keeps its full 10
      // (a weighted global top-k follows the weight mix and can drain
      // small sources). Bounded-heap per-group aggregate: no Window
      // sort, no join-back. Non-vacuous: 25 docs per source, 10 kept.
      Sampling.weightedSampleKPerGroup(t(s, dir, "documents"),
          "source", "doc_id", col("n_chars"), k = 10)
        .orderBy("source", "rank")
    },
    // The same priority replay, ranked per stratum (the bounded-heap
    // aggregate's (priority DESC, id ASC) order == this row_number).
    () =>
      raw"""WITH d0 AS (SELECT doc_id, source, n_chars,
                               CAST(doc_id AS HUGEINT) AS z
                        FROM documents),
               ${splitmixCtesSql("d0", "doc_id, source, n_chars")},
               u AS (SELECT doc_id, source, n_chars,
                            CAST((CAST(z AS UBIGINT) >> 1) | 1 AS BIGINT) AS u
                     FROM h5),
               pr AS (SELECT source, doc_id,
                             CAST(n_chars AS DOUBLE) / CAST(u AS DOUBLE) AS priority
                      FROM u),
               rk AS (SELECT source, doc_id, priority,
                             row_number() OVER (PARTITION BY source
                                                ORDER BY priority DESC, doc_id) AS rn
                      FROM pr)
          SELECT source, doc_id, priority, CAST(rn AS INTEGER) AS rank
          FROM rk WHERE rn <= 10 ORDER BY source, rank""")
  )
}

package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry.t
import graft.ops.{Dedup, Sampling, Similarity, TextAnalysis}
import OracleSql.{rollingHashSql, signedSql, splitmixCtesSql, shinglePairsSql, lshPlanesSql, sqlDot, kmeansPrefixSql}

/** Exact, near-duplicate, winnowing and contamination dedup from
  * [[graft.ops.Dedup]], with its incremental and retraction members. */
object DedupQueries {

  /** FNV-1a fold over the CODEPOINTS of a string-valued SQL expression,
    * truncated to 63 bits (`>> 1`) — the exact DuckDB replay of
    * [[graft.functions.TextHashes.winnowOf]]'s gram hash (same offset
    * basis, same prime, same mod-2^64 arithmetic; parity pinned by
    * q_winnow and the kernel spec). Inner lambda var is `i`; callers
    * must use a different var for any enclosing lambda. */
  private def winnowHashSql(sExpr: String): String =
    s"""CAST(CAST(list_reduce(
       |  [CAST('14695981039346656037' AS HUGEINT)] ||
       |    list_transform(range(1, length($sExpr)+1),
       |                   i -> CAST(unicode(substr($sExpr, CAST(i AS INTEGER), 1)) AS HUGEINT)),
       |  (acc, b) -> (CAST(xor(CAST(acc AS UBIGINT), CAST(b AS UBIGINT)) AS HUGEINT) * 1099511628211)
       |              % CAST('18446744073709551616' AS HUGEINT)) AS UBIGINT) >> 1 AS BIGINT)""".stripMargin

  /** The winnow-oracle CTE chain `g -> wn -> fp -> capped` over a CTE
    * `<src>(doc_id[, extra cols], t)`: gram hashes, window minima,
    * distinct per-doc fingerprints, boilerplate cap — ONE source of
    * truth for both q_winnow and q_winnow_contamination (same
    * rationale as [[rollingHashSql]]: hand-copied variants silently
    * diverge). `carry` names columns of `src` to thread through to the
    * `fp` CTE alongside doc_id. */
  private def winnowCtesSql(src: String, k: Int, w: Int,
      maxBucket: Option[Int], carry: Seq[String] = Nil): String = {
    // maxBucket = None omits the combined-bucket `capped` CTE — for
    // callers (the online screen) whose cap is NOT the combined one;
    // emitting dead cap SQL there would misstate the semantics under
    // test (the train-side-only cap asymmetry).
    val cc = carry.map(c => s"$c, ").mkString
    val base =
      raw"""g AS (SELECT doc_id, $cc
           |             CASE WHEN length(t) >= $k
           |                  THEN list_transform(range(1, length(t)-$k+2), j -> ${winnowHashSql(s"substr(t, CAST(j AS INTEGER), $k)")})
           |                  ELSE [${winnowHashSql("t")}] END AS gh
           |      FROM $src),
           |wn AS (SELECT doc_id, $cc
           |              CASE WHEN len(gh) >= $w
           |                   THEN list_transform(range(1, len(gh)-$w+2), x -> list_min(gh[CAST(x AS INTEGER):CAST(x+${w - 1} AS INTEGER)]))
           |                   ELSE [list_min(gh)] END AS wins
           |       FROM g),
           |fp AS (SELECT DISTINCT doc_id, $cc fp
           |       FROM (SELECT doc_id, $cc unnest(wins) AS fp FROM wn))""".stripMargin
    base + maxBucket.fold("")(m =>
      s",\ncapped AS (SELECT fp FROM fp GROUP BY fp HAVING count(*) <= $m)")
  }

  /** Connected-component closure over the near-dup pairs in `c` (needs
    * WITH RECURSIVE): yields `p` (confirmed pairs at Jaccard >= 0.5),
    * symmetric edges `e`, reachability `reach`, and `lab(id,
    * cluster_id)` -- min-id component labels. */
  private val closureSql: String = closureSqlSfx("")

  /** [[closureSql]] with SUFFIXED CTE names (`c$sfx` in, `lab$sfx`
    * out) so one query can run TWO independent closures — the
    * q_dedup_retract oracle recomputes the surviving corpus's
    * components next to the full corpus's. */
  private def closureSqlSfx(sfx: String): String =
    s"""p$sfx AS (SELECT id_a, id_b FROM c$sfx WHERE 2*i >= la + lb - i),
      |              e$sfx AS (SELECT id_a AS src, id_b AS dst FROM p$sfx
      |                    UNION SELECT id_b, id_a FROM p$sfx),
      |              reach$sfx(id, r) AS (
      |                SELECT src, dst FROM e$sfx
      |                UNION
      |                SELECT e$sfx.src, reach$sfx.r FROM e$sfx JOIN reach$sfx ON e$sfx.dst = reach$sfx.id),
      |              lab$sfx AS (SELECT id, least(id, min(r)) AS cluster_id
      |                      FROM reach$sfx GROUP BY id)""".stripMargin

  /** Exact-dedup prefix of the curation oracles: min-id keeper per
    * byte-identical text. */
  private def keep0Sql(src: String): String =
    s"""keep0 AS (SELECT doc_id, text FROM $src
       |                        WHERE doc_id IN (SELECT min(doc_id) FROM $src GROUP BY text))""".stripMargin

  /** The curation gate tail (language id + quality score + thresholds)
    * over a CTE `kept(doc_id, text)` -- the SQL replica of
    * [[graft.ops.Dedup]]'s `qualityGate`. Ends the query: final SELECT
    * included. */
  private val curateGateSql: String =
    raw"""f AS (SELECT doc_id, text, lower(text) AS lt,
         |                           list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
         |                    FROM kept),
         |              scored AS (SELECT doc_id,
         |                                CASE WHEN greatest(s_de,s_en,s_es,s_fr,s_zh) = 0 THEN 'und'
         |                                     WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
         |                                     WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
         |                                     WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
         |                                     WHEN s_fr >= s_zh THEN 'fr'
         |                                     ELSE 'zh' END AS lang_pred,
         |                                (least(CAST(length(text) AS DOUBLE) / 200.0, 1.0)
         |                                 + (1.0 - least((CASE WHEN length(text) > 0
         |                                                      THEN CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) / length(text)
         |                                                      ELSE 0.0 END) * 5.0, 1.0))
         |                                 + least((CASE WHEN len(toks) > 0
         |                                               THEN CAST(len(list_filter(toks, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','on','for','with','as','at','by'], x))) AS DOUBLE) / len(toks)
         |                                               ELSE 0.0 END) * 4.0, 1.0)) / 3.0 AS quality
         |                         FROM (SELECT doc_id, text, lt, toks,
         |                                      len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','nicht','ein','mit'], x))) AS s_de,
         |                                      len(list_filter(toks, x -> list_contains(['the','and','of','is','to','in','that','it'], x))) AS s_en,
         |                                      len(list_filter(toks, x -> list_contains(['el','la','los','las','es','y','de','que'], x))) AS s_es,
         |                                      len(list_filter(toks, x -> list_contains(['le','la','les','et','est','que','des','une'], x))) AS s_fr,
         |                                      ((length(lt) - length(replace(lt, '的', '')))
                                       + (length(lt) - length(replace(lt, '了', '')))
                                       + (length(lt) - length(replace(lt, '是', '')))
                                       + (length(lt) - length(replace(lt, '在', '')))
                                       + (length(lt) - length(replace(lt, '我', '')))
                                       + (length(lt) - length(replace(lt, '有', '')))
                                       + (length(lt) - length(replace(lt, '他', '')))
                                       + (length(lt) - length(replace(lt, '这', '')))) AS s_zh
         |                               FROM f))
         |         SELECT doc_id, lang_pred, quality FROM scored
         |         WHERE quality >= 0.5 AND lang_pred <> 'und'
         |         ORDER BY doc_id""".stripMargin

  /** SemDeDup oracle: the same k-means replay as [[ivfSql]], then the
    * within-cluster lower-id-neighbor drop rule — a vector survives iff
    * no same-cluster vector with a smaller id sits at cosine >= tau. */
  private def semDedupSql(k: Int, iters: Int, dim: Int,
      sampleFraction: Double, seed: Long, tau: Double,
      probes: Int): String = {
    val dot = sqlDot(dim) _
    val cents = s"cent$iters"
    // casgp = the PAIR-scan assignment: each vector in the clusters of
    // its `probes` nearest centroids (same DESC-dot/low-index tiebreak
    // as the Scala kernel); the kept output still reports casg's rn=1
    // primary cluster.
    s"""WITH ${kmeansPrefixSql(k, iters, dim, sampleFraction, seed)},
       |     casgp AS (SELECT vec_id, cluster FROM (
       |                 SELECT e.vec_id, c.j AS cluster,
       |                        row_number() OVER (PARTITION BY e.vec_id
       |                                           ORDER BY ${dot("e.v", "c.c")} DESC, c.j) AS rn
       |                 FROM e, $cents c) WHERE rn <= $probes),
       |     drops AS (SELECT DISTINCT b.vec_id
       |               FROM casgp a
       |               JOIN casgp b ON a.cluster = b.cluster
       |                           AND a.vec_id < b.vec_id
       |               JOIN e ea ON ea.vec_id = a.vec_id
       |               JOIN e eb ON eb.vec_id = b.vec_id
       |               WHERE ${dot("ea.v", "eb.v")}
       |                     / (sqrt(${dot("ea.v", "ea.v")})
       |                      * sqrt(${dot("eb.v", "eb.v")})) >= $tau)
       |SELECT c.vec_id, c.cluster
       |FROM casg c LEFT JOIN drops d ON d.vec_id = c.vec_id
       |WHERE d.vec_id IS NULL
       |ORDER BY c.vec_id""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_dedup_exact", (s, dir) => {
      Dedup.exactGroups(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("keeper_id")
    },
    () =>
      """SELECT sha256(text) AS content_hash, min(doc_id) AS keeper_id, count(*) AS n_copies
         FROM documents GROUP BY sha256(text) ORDER BY keeper_id"""),
    QuerySpec("q_dedup_rows", (s, dir) => {
      Dedup.exactDedup(t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    },
    () =>
      """SELECT doc_id, lang, source, n_chars FROM documents
         WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text)
         ORDER BY doc_id"""),
    QuerySpec("q_dedup_minhash", (s, dir) => {
      // Exact-confirmed pairs: (id_a, id_b, jaccard) is deterministic
      // ground truth (verified equal to all-pairs exact Jaccard >=
      // threshold at sf0.01/sf0.1), so the full pipeline gets a DuckDB
      // oracle; the minhash-seeded estimate exists only in the
      // minhashCandidatePairs API, not in this output.
      Dedup.nearDupPairs(t(s, dir, "documents"), "doc_id", "text",
          threshold = 0.5)
        .orderBy("id_a", "id_b")
    },
    () =>
      raw"""WITH ${shinglePairsSql("documents")}
         SELECT id_a, id_b, CAST(i AS DOUBLE) / (la + lb - i) AS jaccard
         FROM c WHERE 2*i >= la + lb - i ORDER BY id_a, id_b"""),
    QuerySpec("q_dedup_clusters", (s, dir) => {
      // Cluster-level dedup: connected components over the near-dup
      // pairs (pair lists are not transitive; keeping one doc per
      // CLUSTER needs the closure). Iterative min-label propagation;
      // the oracle replays it as a DuckDB recursive CTE.
      val pairs = Dedup.nearDupPairs(t(s, dir, "documents"), "doc_id",
        "text", threshold = 0.5)
      Dedup.nearDupClusters(pairs)
        .select(col("id").as("doc_id"), col("cluster_id"), col("cluster_size"))
        .orderBy("doc_id")
    },
    () =>
      raw"""WITH RECURSIVE ${shinglePairsSql("documents")},
              $closureSql,
              sz AS (SELECT cluster_id, count(*) AS cluster_size
                     FROM lab GROUP BY cluster_id)
         SELECT lab.id AS doc_id, lab.cluster_id, sz.cluster_size
         FROM lab JOIN sz USING (cluster_id) ORDER BY doc_id"""),
    QuerySpec("q_cluster_dedup", (s, dir) => {
      // One representative per near-dup component + all singletons.
      Dedup.clusterDedup(t(s, dir, "documents"), "doc_id", "text",
          threshold = 0.5)
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy("doc_id")
    },
    () =>
      raw"""WITH RECURSIVE ${shinglePairsSql("documents")},
              $closureSql
         SELECT doc_id, lang, source FROM documents
         WHERE doc_id NOT IN (SELECT id FROM lab WHERE cluster_id <> id)
         ORDER BY doc_id"""),
    QuerySpec("q_cluster_dedup_best", (s, dir) => {
      // Quality-aware keeper: per near-dup component keep the LONGEST
      // member (ties to lower id) instead of the arbitrary min-id —
      // the keeper production dedups use, since min-id can keep a
      // truncated dup and drop the complete copy. Same closure as
      // q_cluster_dedup, one extra slim argmax; the kept set genuinely
      // differs from the min-id keeper on this corpus (longest !=
      // first in several components at every SF).
      Dedup.clusterDedupBest(t(s, dir, "documents"), "doc_id", "text",
          scoreCol = col("n_chars").cast(DoubleType), threshold = 0.5)
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy("doc_id")
    },
    // Same closure; keeper = per-cluster argmax (n_chars DESC, id ASC)
    // — the row_number phrasing of the struct-max keeper.
    () =>
      raw"""WITH RECURSIVE ${shinglePairsSql("documents")},
              $closureSql,
              sc AS (SELECT l.cluster_id, l.id, d.n_chars
                     FROM lab l JOIN documents d ON d.doc_id = l.id),
              keep AS (SELECT id FROM (
                         SELECT cluster_id, id,
                                row_number() OVER (PARTITION BY cluster_id
                                                   ORDER BY n_chars DESC, id) AS rn
                         FROM sc) WHERE rn = 1)
         SELECT doc_id, lang, source FROM documents
         WHERE doc_id NOT IN (SELECT id FROM lab
                              WHERE id NOT IN (SELECT id FROM keep))
         ORDER BY doc_id"""),
    QuerySpec("q_dedup_simhash", (s, dir) => {
      Dedup.simhashNearDupPairs(t(s, dir, "documents"), "doc_id", "text",
          maxDistance = 3)
        .orderBy("id_a", "id_b")
    },
    () =>
      """WITH t AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks FROM documents),
              hs AS (SELECT doc_id,
                            list_transform(toks, tok ->
                              CAST(list_reduce(
                                [CAST('14695981039346656037' AS HUGEINT)] ||
                                  list_transform(range(1, length(tok)+1), i -> CAST(unicode(substr(tok, CAST(i AS INTEGER), 1)) AS HUGEINT)),
                                (acc, b) -> (xor(CAST(acc AS UBIGINT), CAST(b AS UBIGINT))::HUGEINT * 1099511628211) % CAST('18446744073709551616' AS HUGEINT)) AS UBIGINT)
                            ) AS hashes, len(toks) AS n
                     FROM t),
              fp AS (SELECT doc_id,
                            CAST(list_sum(list_transform(range(0, 64), b ->
                              CASE WHEN 2 * len(list_filter(hashes, h -> (h >> b) & 1 = 1)) > n
                                   THEN CAST(1 AS UBIGINT) << b ELSE CAST(0 AS UBIGINT) END)) AS HUGEINT) AS v
                     FROM hs)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                CAST(bit_count(xor(CAST(a.v AS UBIGINT), CAST(b.v AS UBIGINT))) AS INTEGER) AS hamming
         FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(CAST(a.v AS UBIGINT), CAST(b.v AS UBIGINT))) <= 3
         ORDER BY id_a, id_b"""),
    QuerySpec("q_winnow", (s, dir) => {
      // Winnowing (MOSS) substring-overlap pairs: catches a verbatim
      // run of >= k+w-1 = 34 normalized codepoints shared between two
      // docs — the contamination mode whole-doc Jaccard misses. The
      // oracle replays gram hashing, window minima, and the pair count
      // exactly (FNV codepoint fold in HUGEINT, >>1 to the signed
      // range).
      Dedup.winnowOverlapPairs(t(s, dir, "documents"), "doc_id", "text",
          k = 25, w = 10, minShared = 2)
        .orderBy("id_a", "id_b")
    },
    () =>
      raw"""WITH d AS (SELECT doc_id, regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g') AS t FROM documents),
              ${winnowCtesSql("d", k = 25, w = 10, maxBucket = Some(1000))}
         SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
         FROM fp a JOIN fp b USING (fp)
         WHERE a.doc_id < b.doc_id AND fp IN (SELECT fp FROM capped)
         GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY id_a, id_b"""),
    QuerySpec("q_winnow_contamination", (s, dir) => {
      // The contamination screen proper: TRAIN docs sharing a verbatim
      // >= 34-codepoint run with VAL/TEST docs (split by content-hash
      // bucket, exactly as q_split). Both branches non-empty at every
      // SF (6 / 8 crossing pairs at sf0.001 / sf0.01).
      val docs = TextAnalysis.withSplit(t(s, dir, "documents"), "text")
      Dedup.winnowCrossOverlap(
          docs.where(col("split") === "train"), "doc_id", "text",
          docs.where(col("split") =!= "train"), "doc_id", "text",
          k = 25, w = 10, minShared = 1)
        .orderBy("id_left", "id_right")
    },
    () =>
      raw"""WITH d AS (SELECT doc_id, regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g') AS t FROM documents),
              sp AS (SELECT doc_id, t, ${rollingHashSql("t")} AS v FROM d),
              sg AS (SELECT doc_id, t, CAST(((${signedSql("v")} % 100) + 100) % 100 AS INTEGER) AS bucket FROM sp),
              s AS (SELECT doc_id, t, CASE WHEN bucket < 5 THEN 'val'
                                           WHEN bucket < 10 THEN 'test'
                                           ELSE 'train' END AS split FROM sg),
              ${winnowCtesSql("s", k = 25, w = 10, maxBucket = Some(1000), carry = Seq("split"))}
         SELECT a.doc_id AS id_left, b.doc_id AS id_right, count(*) AS n_shared
         FROM fp a JOIN fp b USING (fp)
         WHERE a.split = 'train' AND b.split <> 'train'
           AND fp IN (SELECT fp FROM capped)
         GROUP BY 1, 2 HAVING count(*) >= 1 ORDER BY id_left, id_right"""),
    QuerySpec("q_stream_contamination", (s, dir) => {
      // The ONLINE contamination screen: the same winnowIndex +
      // screenAgainstIndex calls run unchanged on a readStream
      // candidate frame (StreamOpsSpec proves MemoryStream parity,
      // including a pair split across micro-batches); this batch run is
      // the oracle-checked side. Unlike q_winnow_contamination's
      // combined-bucket cap, the boilerplate cap here is a pure
      // function of the static index — a stream can't see combined
      // bucket sizes (asymmetric by design, replayed by the oracle).
      val docs = TextAnalysis.withSplit(t(s, dir, "documents"), "text")
      val idx = Dedup.winnowIndex(docs.where(col("split") === "train"),
        "doc_id", "text", k = 25, w = 10)
      Dedup.screenAgainstIndex(docs.where(col("split") =!= "train"),
          "doc_id", "text", idx, k = 25, w = 10)
        .orderBy("cand_id", "train_id")
    },
    // The online screen's replay: same winnow fp CTEs, but the
    // boilerplate cap counts TRAIN docs only (the static-index-side cap
    // a stream can see), then candidate fps join the capped index.
    () =>
      raw"""WITH d AS (SELECT doc_id, regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g') AS t FROM documents),
              sp AS (SELECT doc_id, t, ${rollingHashSql("t")} AS v FROM d),
              sg AS (SELECT doc_id, t, CAST(((${signedSql("v")} % 100) + 100) % 100 AS INTEGER) AS bucket FROM sp),
              s AS (SELECT doc_id, t, CASE WHEN bucket < 5 THEN 'val'
                                           WHEN bucket < 10 THEN 'test'
                                           ELSE 'train' END AS split FROM sg),
              ${winnowCtesSql("s", k = 25, w = 10, maxBucket = None, carry = Seq("split"))},
              tcap AS (SELECT fp FROM fp WHERE split = 'train'
                       GROUP BY fp HAVING count(*) <= 1000),
              idx AS (SELECT fp, doc_id AS train_id FROM fp
                      WHERE split = 'train' AND fp IN (SELECT fp FROM tcap)),
              cand AS (SELECT fp, doc_id AS cand_id FROM fp WHERE split <> 'train')
         SELECT c.cand_id, i.train_id, count(*) AS n_shared
         FROM cand c JOIN idx i USING (fp)
         GROUP BY 1, 2 HAVING count(*) >= 1 ORDER BY cand_id, train_id"""),
    QuerySpec("q_screen_incr", (s, dir) => {
      // INCREMENTAL CONTAMINATION INDEX (Dedup.winnowIndexCounted/
      // winnowIndexMerge/winnowIndexServe): the online screen's
      // winnow index as a MERGEABLE artifact — per-fp counts make the
      // boilerplate cap mergeable (occupancy is monotone under union,
      // so the cap re-applies on summed counts and equals the
      // from-scratch index EXACTLY; an id-row index forgot the
      // over-cap counts and could not). Two stored nightly builds
      // (doc_id ≡ 0 and ≡ 2 mod 4) merge; the odd-id snapshot screens
      // against the merged postings through the unchanged
      // screenAgainstIndex. n_fp_mismatch diffs the merged table
      // against the single-pass counted index over all evens — (n,
      // ids) must agree fp for fp.
      // k=25/w=10 (the q_stream_contamination choice): runs of 34+
      // normalized codepoints are genuine verbatim overlap on this
      // closed-vocabulary corpus, where the k=8 default's 11-codepoint
      // runs are near-universal (the documented winnow degeneracy —
      // measured 56k cross pairs at sf0.01 before this narrowing).
      val d = t(s, dir, "documents")
      val qa = Dedup.winnowIndexCounted(
        d.where(pmod(col("doc_id"), lit(4)) === 0), "doc_id", "text",
        k = 25, w = 10)
      val qb = Dedup.winnowIndexCounted(
        d.where(pmod(col("doc_id"), lit(4)) === 2), "doc_id", "text",
        k = 25, w = 10)
      val merged = Dedup.winnowIndexMerge(Seq(qa, qb))
      val full = Dedup.winnowIndexCounted(
        d.where(pmod(col("doc_id"), lit(2)) === 0), "doc_id", "text",
        k = 25, w = 10)
      val mismatch = merged
        .select(col("fp"), col("n").as("nm"), col("ids").as("im"))
        .join(full.select(col("fp"), col("n").as("nf"),
          col("ids").as("if_")), Seq("fp"), "full_outer")
        .agg(sum(when(col("nm") <=> col("nf") && col("im") <=> col("if_"),
          0L).otherwise(1L)).as("n_fp_mismatch"))
      Dedup.screenAgainstIndex(
          d.where(pmod(col("doc_id"), lit(2)) === 1), "doc_id", "text",
          Dedup.winnowIndexServe(merged), k = 25, w = 10, minShared = 1)
        .crossJoin(broadcast(mismatch))
        .orderBy("cand_id", "train_id")
    },
    // Incremental winnow-index replay: per-quarter counted tables sum
    // into the merged artifact (cap re-applied on merged counts),
    // diffed against the single-pass counted index over all evens,
    // then the standard screen joins the odd candidates against the
    // merged postings.
    () =>
      raw"""WITH d AS (SELECT doc_id, regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g') AS t FROM documents),
              ${winnowCtesSql("d", k = 25, w = 10, maxBucket = None)},
              hh AS MATERIALIZED (SELECT (doc_id % 4) AS q, fp,
                            CAST(count(*) AS BIGINT) AS n,
                            list_sort(list(doc_id)) AS ids
                     FROM fp WHERE doc_id % 2 = 0 GROUP BY 1, 2),
              mg AS MATERIALIZED (SELECT fp, CAST(sum(n) AS BIGINT) AS n,
                            CASE WHEN sum(n) <= 1000
                                 THEN list_sort(flatten(list(ids)))
                                 ELSE CAST([] AS BIGINT[]) END AS ids
                     FROM (SELECT fp, n,
                                  CASE WHEN n <= 1000 THEN ids
                                       ELSE CAST([] AS BIGINT[]) END AS ids
                           FROM hh)
                     GROUP BY fp),
              fr AS MATERIALIZED (SELECT fp, CAST(count(*) AS BIGINT) AS n,
                            CASE WHEN count(*) <= 1000
                                 THEN list_sort(list(doc_id))
                                 ELSE CAST([] AS BIGINT[]) END AS ids
                     FROM fp WHERE doc_id % 2 = 0 GROUP BY fp),
              mm AS (SELECT CAST(sum(CASE WHEN m.n IS NOT DISTINCT FROM f.n
                              AND m.ids IS NOT DISTINCT FROM f.ids
                              THEN 0 ELSE 1 END) AS BIGINT) AS n_fp_mismatch
                     FROM mg m FULL OUTER JOIN fr f ON f.fp = m.fp),
              idx AS (SELECT fp, unnest(ids) AS train_id FROM mg),
              cand AS (SELECT fp, doc_id AS cand_id FROM fp
                       WHERE doc_id % 2 = 1)
         SELECT c.cand_id, i.train_id, CAST(count(*) AS BIGINT) AS n_shared,
                (SELECT n_fp_mismatch FROM mm) AS n_fp_mismatch
         FROM cand c JOIN idx i USING (fp)
         GROUP BY 1, 2 HAVING count(*) >= 1 ORDER BY cand_id, train_id"""),
    QuerySpec("q_winnow_retract", (s, dir) => {
      // CONTAMINATION INDEX RETRACTION (Dedup.winnowIndexRetract) —
      // the deletion half of q_screen_incr: takedown docs (doc_id ≡ 0
      // mod 6) leave the stored counted index by recomputing THEIR
      // fingerprints from their text (the only complete record — the
      // artifact never stored over-cap postings), decrementing counts
      // and array-subtracting postings. n_fp_mismatch diffs the
      // retracted table against a from-scratch counted build on the
      // surviving docs — (n, ids) must agree fp for fp, the
      // q_screen_incr register-level form — and the screen of the odd
      // snapshot served from the RETRACTED index is gated by the
      // oracle's independent from-scratch replay over survivors (it
      // never sees the index or the retraction). No fp crosses the
      // cap downward at any tested SF (corpus << cap), so the default
      // raise-on-uncap policy runs clean here; the uncap raise and the
      // keepCappedOnUncap trade are pinned in DedupSpec synthetically.
      val d = t(s, dir, "documents")
      val evens = d.where(pmod(col("doc_id"), lit(2)) === 0)
      val full = Dedup.winnowIndexCounted(evens, "doc_id", "text",
        k = 25, w = 10)
      val retracted = Dedup.winnowIndexRetract(full,
        evens.where(pmod(col("doc_id"), lit(6)) === 0), "doc_id", "text",
        k = 25, w = 10)
      val scratch = Dedup.winnowIndexCounted(
        evens.where(pmod(col("doc_id"), lit(6)) =!= 0), "doc_id", "text",
        k = 25, w = 10)
      val mismatch = retracted
        .select(col("fp"), col("n").as("nr"), col("ids").as("ir"))
        .join(scratch.select(col("fp"), col("n").as("ns"),
          col("ids").as("is_")), Seq("fp"), "full_outer")
        .agg(sum(when(col("nr") <=> col("ns") && col("ir") <=> col("is_"),
          0L).otherwise(1L)).as("n_fp_mismatch"))
      Dedup.screenAgainstIndex(
          d.where(pmod(col("doc_id"), lit(2)) === 1), "doc_id", "text",
          Dedup.winnowIndexServe(retracted), k = 25, w = 10,
          minShared = 1)
        .crossJoin(broadcast(mismatch))
        .orderBy("cand_id", "train_id")
    },
    // Winnow-retraction replay: the retraction is re-derived as plain
    // arithmetic (full counts minus the removed docs' counts, postings
    // list-subtracted), diffed cell-for-cell against a from-scratch
    // build on the SURVIVING docs, and the screen is served from that
    // independent survivors build — never from the Spark artifact.
    () =>
      raw"""WITH d AS (SELECT doc_id, regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g') AS t FROM documents),
              ${winnowCtesSql("d", k = 25, w = 10, maxBucket = None)},
              fr0 AS MATERIALIZED (SELECT fp, CAST(count(*) AS BIGINT) AS n,
                            CASE WHEN count(*) <= 1000
                                 THEN list_sort(list(doc_id))
                                 ELSE CAST([] AS BIGINT[]) END AS ids
                     FROM fp WHERE doc_id % 2 = 0 GROUP BY fp),
              rmf AS MATERIALIZED (SELECT fp, CAST(count(*) AS BIGINT) AS n_rm,
                            list_sort(list(doc_id)) AS ids_rm
                     FROM fp WHERE doc_id % 6 = 0 GROUP BY fp),
              rt AS MATERIALIZED (SELECT f.fp,
                            f.n - COALESCE(r.n_rm, 0) AS n,
                            CASE WHEN f.n <= 1000
                                 THEN list_filter(f.ids, x ->
                                   NOT list_contains(COALESCE(r.ids_rm,
                                     CAST([] AS BIGINT[])), x))
                                 ELSE CAST([] AS BIGINT[]) END AS ids
                     FROM fr0 f LEFT JOIN rmf r USING (fp)
                     WHERE f.n - COALESCE(r.n_rm, 0) > 0),
              sc AS MATERIALIZED (SELECT fp, CAST(count(*) AS BIGINT) AS n,
                            CASE WHEN count(*) <= 1000
                                 THEN list_sort(list(doc_id))
                                 ELSE CAST([] AS BIGINT[]) END AS ids
                     FROM fp WHERE doc_id % 2 = 0 AND doc_id % 6 <> 0
                     GROUP BY fp),
              mm AS (SELECT CAST(sum(CASE WHEN r.n IS NOT DISTINCT FROM s.n
                              AND r.ids IS NOT DISTINCT FROM s.ids
                              THEN 0 ELSE 1 END) AS BIGINT) AS n_fp_mismatch
                     FROM rt r FULL OUTER JOIN sc s ON s.fp = r.fp),
              idx AS (SELECT fp, unnest(ids) AS train_id FROM sc),
              cand AS (SELECT fp, doc_id AS cand_id FROM fp
                       WHERE doc_id % 2 = 1)
         SELECT c.cand_id, i.train_id, CAST(count(*) AS BIGINT) AS n_shared,
                (SELECT n_fp_mismatch FROM mm) AS n_fp_mismatch
         FROM cand c JOIN idx i USING (fp)
         GROUP BY 1, 2 HAVING count(*) >= 1 ORDER BY cand_id, train_id"""),
    QuerySpec("q_contamination", (s, dir) => {
      // Train/test-overlap check at NEAR-dup strength (real benchmark
      // contamination is rarely byte-exact): every 20th doc is the
      // pseudo benchmark set; report corpus docs whose exact 5-gram
      // Jaccard vs an eval doc is >= 0.8. Exact-match contamination is
      // Dedup.crossCorpusOverlap (broadcast hash join; this corpus has
      // no byte-exact dups, so that query would verify only emptiness).
      val evalSide = (c: Column) => pmod(c, lit(20)) === 0
      Dedup.nearDupPairs(t(s, dir, "documents"), "doc_id", "text",
          threshold = 0.8)
        .where(evalSide(col("id_a")) =!= evalSide(col("id_b")))
        .select(
          when(evalSide(col("id_a")), col("id_b")).otherwise(col("id_a"))
            .as("corpus_id"),
          when(evalSide(col("id_a")), col("id_a")).otherwise(col("id_b"))
            .as("eval_id"),
          col("jaccard"))
        .orderBy("corpus_id", "eval_id")
    },
    () =>
      """WITH d AS (SELECT doc_id, regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g') AS t FROM documents),
              sh AS (SELECT doc_id,
                            list_distinct(list_transform(range(1, greatest(length(t)-4,1)+1),
                                                         i -> substr(t, CAST(i AS INTEGER), 5))) AS s
                     FROM d),
              c AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                           len(list_intersect(a.s, b.s)) AS i, len(a.s) AS la, len(b.s) AS lb
                    FROM sh a JOIN sh b
                      ON a.doc_id < b.doc_id
                     AND (a.doc_id % 20 = 0) <> (b.doc_id % 20 = 0)
                     AND len(b.s) <= 2*len(a.s) AND len(a.s) <= 2*len(b.s)),
              p AS (SELECT id_a, id_b, CAST(i AS DOUBLE) / (la + lb - i) AS jaccard
                    FROM c WHERE CAST(i AS DOUBLE) / (la + lb - i) >= 0.8)
         SELECT CASE WHEN id_a % 20 = 0 THEN id_b ELSE id_a END AS corpus_id,
                CASE WHEN id_a % 20 = 0 THEN id_a ELSE id_b END AS eval_id,
                jaccard
         FROM p ORDER BY corpus_id, eval_id"""),
    QuerySpec("q_containment", (s, dir) => {
      // Asymmetric containment contamination: fraction of each eval
      // doc's distinct 5-gram shingles found in each corpus doc — the
      // quoted-benchmark-in-long-doc detector that Jaccard-keyed LSH
      // banding is structurally blind to (a quote dilutes |∪| but not
      // |∩|/|S_eval|). Eval shingle-hash sets broadcast; the corpus
      // explodes to slim (id, gram-long) rows probed map-side, so only
      // matching grams reach the count exchange. Same eval split as
      // q_contamination (every 20th doc). k = 8, not q_contamination's
      // 5: this corpus has a CLOSED 31-token vocabulary (see
      // TESTDATA notes), so 5-char grams are near-universal and the
      // gram-match fanout degenerates toward all-pairs (measured 8.7s
      // warm at sf0.1); 8-char grams span ~1.5 words — word-pair
      // combinatorial, so the fanout drops ~40% (5.6s) while genuine
      // near-dup quotes still contain at ~1.0. On a REAL (open-
      // vocabulary) corpus eval grams are rare in the corpus at any k
      // and the probe is selective — this row measures the documented
      // worst case, the q_setsim degenerate-mode precedent.
      val docs = t(s, dir, "documents").where(length(col("text")) > 0)
      val evalSide = (c: Column) => pmod(c, lit(20)) === 0
      Dedup.containmentPairs(
          docs.where(!evalSide(col("doc_id"))), "doc_id", "text",
          docs.where(evalSide(col("doc_id"))), "doc_id", "text",
          k = 8, tau = 0.6)
        .orderBy("corpus_id", "eval_id")
    },
    // Containment replay via TEXT shingle sets (set ops over distinct
    // text 5-grams == the hash-set ops: the FNV grams are injective on
    // this scale, and any collision would surface as a hash mismatch
    // here): all eval x corpus pairs, |S_c ∩ S_e| / |S_e|.
    () =>
      """WITH d AS (SELECT doc_id, regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g') AS t
                    FROM documents WHERE length(text) > 0),
              sh AS (SELECT doc_id,
                            list_distinct(list_transform(range(1, greatest(length(t)-7,1)+1),
                                                         i -> substr(t, CAST(i AS INTEGER), 8))) AS s
                     FROM d),
              ev AS (SELECT doc_id AS eval_id, s AS es FROM sh WHERE doc_id % 20 = 0),
              co AS (SELECT doc_id AS corpus_id, s AS cs FROM sh WHERE doc_id % 20 <> 0),
              pr AS (SELECT corpus_id, eval_id,
                            CAST(len(list_intersect(cs, es)) AS BIGINT) AS n_hit,
                            CAST(len(es) AS BIGINT) AS n_eval
                     FROM co, ev)
         SELECT corpus_id, eval_id, n_hit, n_eval,
                CAST(n_hit AS DOUBLE) / CAST(n_eval AS DOUBLE) AS containment
         FROM pr
         WHERE CAST(n_hit AS DOUBLE) / CAST(n_eval AS DOUBLE) >= 0.6
         ORDER BY corpus_id, eval_id"""),
    QuerySpec("q_curate", (s, dir) => {
      Dedup.curateCorpus(t(s, dir, "documents"), "doc_id", "text",
          minQuality = 0.5, jaccardThreshold = 0.5)
        .orderBy("doc_id")
    },
    () =>
      raw"""WITH ${keep0Sql("documents")},
              ${shinglePairsSql("keep0")},
              losers AS (SELECT DISTINCT id_b FROM c WHERE 2*i >= la + lb - i),
              kept AS (SELECT doc_id, text FROM keep0
                       WHERE doc_id NOT IN (SELECT id_b FROM losers)),
              $curateGateSql"""),
    QuerySpec("q_curate_clusters", (s, dir) => {
      // Cluster-based curation: near-dup drop by connected component
      // (one keeper per closure) instead of pair-based id_b dropping.
      // Oracle replays the closure as a DuckDB recursive CTE.
      Dedup.curateCorpusClusters(t(s, dir, "documents"), "doc_id", "text",
          minQuality = 0.5, jaccardThreshold = 0.5)
        .orderBy("doc_id")
    },
    () =>
      raw"""WITH RECURSIVE ${keep0Sql("documents")},
              ${shinglePairsSql("keep0")},
              $closureSql,
              kept AS (SELECT doc_id, text FROM keep0
                       WHERE doc_id NOT IN (SELECT id FROM lab WHERE cluster_id <> id)),
              $curateGateSql"""),
    QuerySpec("q_eval_carve", (s, dir) => {
      // END-TO-END eval-set carving — the composition a training-data
      // team actually runs: leak-free split (near-dup components move
      // as one unit, so nothing in the pool near-dups the train side)
      // -> non-train pool -> BALANCED per-lang exact-size sample
      // (bottom-10 id-hashes per lang; a global sample would follow
      // the 44%-en corpus mix). Both stages individually proven; this
      // pins their composition end-to-end against one oracle.
      val split = Dedup.leakFreeSplit(t(s, dir, "documents"),
        "doc_id", "text")
      val pool = split.where(col("split") =!= "train")
        .select(col("doc_id"), col("lang"))
      Sampling.sampleKPerGroup(pool, "lang", "doc_id", k = 10)
        .select(col("lang"), col("doc_id"))
        .orderBy("lang", "doc_id")
    },
    // Eval-carve replay: the full leak-free-split chain -> non-train
    // pool (bucket < 10) -> per-lang unsigned hash-rank bottom-10.
    () =>
      raw"""WITH RECURSIVE ${shinglePairsSql("documents")},
              $closureSql,
              nrm AS (SELECT doc_id, regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g') AS norm FROM documents),
              hb AS (SELECT doc_id, ${rollingHashSql("norm")} AS v FROM nrm),
              sb AS (SELECT doc_id, ${signedSql("v")} AS sv FROM hb),
              nb AS (SELECT doc_id, CAST(((sv % 100) + 100) % 100 AS INTEGER) AS b FROM sb),
              rep AS (SELECT l.id AS doc_id, nb.b AS rb
                      FROM lab l JOIN nb ON nb.doc_id = l.cluster_id),
              asg AS (SELECT nb.doc_id, coalesce(rep.rb, nb.b) AS bucket
                      FROM nb LEFT JOIN rep ON rep.doc_id = nb.doc_id),
              pool AS (SELECT dd.doc_id, dd.lang
                       FROM documents dd JOIN asg ON asg.doc_id = dd.doc_id
                       WHERE asg.bucket < 10),
              d0 AS (SELECT lang, doc_id, CAST(doc_id AS HUGEINT) AS z
                     FROM pool),
              ${splitmixCtesSql("d0", "lang, doc_id")},
              rk AS (SELECT lang, doc_id,
                            row_number() OVER (PARTITION BY lang ORDER BY z) AS rn
                     FROM h5)
         SELECT lang, doc_id FROM rk WHERE rn <= 10
         ORDER BY lang, doc_id"""),
    QuerySpec("q_split_leakfree", (s, dir) => {
      // LEAKAGE-FREE split (Dedup.leakFreeSplit): every near-dup
      // component (the closure over the LSH cascade's confirmed pairs)
      // splits as ONE unit via its representative's content-hash
      // bucket, so the split-crossing near-dup pairs q_contamination
      // measures under the plain content-hash split are ZERO by
      // construction — the fix the contamination screens demand.
      // Per-doc assignments oracle-replayed: closure + representative
      // bucket + the q_split bucket arithmetic.
      Dedup.leakFreeSplit(t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("split"))
        .orderBy("doc_id")
    },
    // Leak-free split replay: near-dup closure (shingle pairs + the
    // recursive reach) -> per-doc content-hash bucket -> every cluster
    // member takes its min-id representative's bucket.
    () =>
      raw"""WITH RECURSIVE ${shinglePairsSql("documents")},
              $closureSql,
              nrm AS (SELECT doc_id, regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g') AS norm FROM documents),
              hb AS (SELECT doc_id, ${rollingHashSql("norm")} AS v FROM nrm),
              sb AS (SELECT doc_id, ${signedSql("v")} AS sv FROM hb),
              nb AS (SELECT doc_id, CAST(((sv % 100) + 100) % 100 AS INTEGER) AS b FROM sb),
              rep AS (SELECT l.id AS doc_id, nb.b AS rb
                      FROM lab l JOIN nb ON nb.doc_id = l.cluster_id),
              asg AS (SELECT nb.doc_id, coalesce(rep.rb, nb.b) AS bucket
                      FROM nb LEFT JOIN rep ON rep.doc_id = nb.doc_id)
         SELECT doc_id, CASE WHEN bucket < 5 THEN 'val'
                             WHEN bucket < 10 THEN 'test'
                             ELSE 'train' END AS split
         FROM asg ORDER BY doc_id"""),
    QuerySpec("q_embed_neardup", (s, dir) => {
      // Synthetic embeddings are near-uniform (max pairwise cosine ~0.5),
      // so the demo threshold is 0.3; production near-dup uses ~0.95.
      Dedup.embeddingNearDupPairs(t(s, dir, "embeddings"), "vec_id",
          "embedding", dim = 64, threshold = 0.3,
          numTables = 8, planesPerTable = 6)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
        .orderBy("id_a", "id_b")
    },
    // Same seeded planes as q_ann_lsh (8 tables x 6 planes over dim 64,
    // seed 42 — embeddingNearDupPairs shares Similarity's bucketing);
    // candidates = pairs sharing any (table, bucket), then the exact
    // cosine confirm and threshold, exactly as the Spark cascade. The
    // cosine orders id_a's vector first (dot, then norm_a * norm_b) to
    // mirror CosineSim's accumulation/denominator order bit-for-bit.
    () =>
      s"""WITH p AS (SELECT $lshPlanesSql AS pl),
              e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
              cb AS (SELECT vec_id, t,
                            CAST(list_sum(list_transform(range(0, 6), j ->
                              CASE WHEN list_sum(list_transform(range(1, 65),
                                     i -> v[i] * pl[CAST(t AS INTEGER) + 1][CAST(j AS INTEGER) + 1][CAST(i AS INTEGER)])) > 0.0
                                   THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS bucket
                     FROM e, generate_series(0, 7) s(t), p),
              cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
                       FROM cb a JOIN cb b ON a.t = b.t AND a.bucket = b.bucket
                                          AND a.vec_id < b.vec_id),
              scored AS (SELECT c.id_a, c.id_b,
                                list_sum(list_transform(range(1, 65), i -> ea.v[i] * eb.v[i]))
                                / (sqrt(list_sum(list_transform(range(1, 65), i -> ea.v[i] * ea.v[i])))
                                 * sqrt(list_sum(list_transform(range(1, 65), i -> eb.v[i] * eb.v[i])))) AS c
                         FROM cand c JOIN e ea ON ea.vec_id = c.id_a
                                     JOIN e eb ON eb.vec_id = c.id_b)
         SELECT id_a, id_b, round(c, 6) AS cosine
         FROM scored WHERE c >= 0.3 ORDER BY id_a, id_b"""),
    QuerySpec("q_semantic_contamination", (s, dir) => {
      // SEMANTIC cross-corpus contamination: the contamination matrix's
      // missing mode (exact = q_contamination, verbatim substring =
      // q_winnow_contamination, quoted mass = q_containment — all
      // lexical). Every-20th vector plays the benchmark; the train
      // side screens against it in embedding space under the shared
      // seeded hyperplanes. Demo threshold 0.3 (near-uniform synthetic
      // embeddings, max pairwise cosine ~0.5); production ~0.95.
      val emb = t(s, dir, "embeddings")
      Dedup.embeddingCrossContamination(
          emb.where(col("vec_id") % 20 =!= 0), "vec_id", "embedding",
          emb.where(col("vec_id") % 20 === 0), "vec_id", "embedding",
          dim = 64, threshold = 0.3, numTables = 8, planesPerTable = 6)
        .select(col("corpus_id"), col("eval_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy("corpus_id", "eval_id")
    },
    // Cross-corpus semantic screen: q_embed_neardup's plane replay with
    // the corpus split %20 and candidates joined ACROSS sides only.
    () =>
      s"""WITH p AS (SELECT $lshPlanesSql AS pl),
              e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
              cb AS (SELECT vec_id, t,
                            CAST(list_sum(list_transform(range(0, 6), j ->
                              CASE WHEN list_sum(list_transform(range(1, 65),
                                     i -> v[i] * pl[CAST(t AS INTEGER) + 1][CAST(j AS INTEGER) + 1][CAST(i AS INTEGER)])) > 0.0
                                   THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS bucket
                     FROM e, generate_series(0, 7) s(t), p),
              cand AS (SELECT DISTINCT a.vec_id AS corpus_id, b.vec_id AS eval_id
                       FROM cb a JOIN cb b ON a.t = b.t AND a.bucket = b.bucket
                       WHERE a.vec_id % 20 <> 0 AND b.vec_id % 20 = 0),
              scored AS (SELECT c.corpus_id, c.eval_id,
                                list_sum(list_transform(range(1, 65), i -> ea.v[i] * eb.v[i]))
                                / (sqrt(list_sum(list_transform(range(1, 65), i -> ea.v[i] * ea.v[i])))
                                 * sqrt(list_sum(list_transform(range(1, 65), i -> eb.v[i] * eb.v[i])))) AS c
                         FROM cand c JOIN e ea ON ea.vec_id = c.corpus_id
                                     JOIN e eb ON eb.vec_id = c.eval_id)
         SELECT corpus_id, eval_id, round(c, 6) AS cosine
         FROM scored WHERE c >= 0.3 ORDER BY corpus_id, eval_id"""),
    QuerySpec("q_dedup_incr", (s, dir) => {
      // INCREMENTAL dedup (Dedup.lshDedupIndex/screenAgainstLshIndex):
      // the q_hll_incremental story for near-dup — index yesterday's
      // snapshot ONCE (per-doc nsh + MinHash signature + shingle-hash
      // set), then screen tonight's docs against it without rescanning
      // yesterday's text: bipartite band-bucket probe, index-side
      // bucket cap, count bound, signature screen, exact shingle
      // confirm from the STORED sets. Even doc_ids stand in for the
      // history, odd for the arriving snapshot; the oracle recomputes
      // the bipartite pairs INDEPENDENTLY (exact string-shingle
      // Jaccard over all cross pairs — the q_dedup_minhash
      // independent-recompute form, never seeing the index machinery).
      // CAP-vs-ORACLE note: the screen's bucket-size cap (both sides,
      // maxBucketSize=1000) DROPS pairs the exact-Jaccard oracle still
      // counts; on this corpus no band bucket approaches the cap at
      // any tested SF (the k=5 shingle space is combinatorial — the
      // q_setsim degeneracy is unigram-only), so cap behavior is
      // bench-invisible here and oracle-gated only in DedupSpec's
      // synthetic boilerplate corpus. A boilerplate-heavy REAL
      // snapshot surfaces as an oracle diff by design: the cap is a
      // recall trade, and this query's contract is the uncapped
      // regime.
      // The screen serves from the COMPACTED index (round 19:
      // lshIndexCompact — the post-N-folds range rewrite). Compaction
      // is pure layout, so the oracle — which never sees the index —
      // gates that the compacted serve is value-identical to the
      // from-scratch screen.
      val d = t(s, dir, "documents")
      val idx = Dedup.lshIndexCompact(Dedup.lshDedupIndex(
        d.where(pmod(col("doc_id"), lit(2)) === 0), "doc_id", "text"))
      Dedup.screenAgainstLshIndex(
          d.where(pmod(col("doc_id"), lit(2)) === 1), "doc_id", "text", idx)
        .orderBy("new_id", "old_id")
    },
    // Incremental-dedup oracle: INDEPENDENT bipartite recompute — the
    // exact string-shingle Jaccard over every (odd, even) doc pair
    // with the same count bound, never touching the index machinery
    // (the strongest oracle form, per q_incr_agg).
    () =>
      raw"""WITH d AS (SELECT doc_id, regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g') AS t FROM documents),
              sh AS (SELECT doc_id,
                            list_distinct(list_transform(range(1, greatest(length(t)-4,1)+1),
                                                         i -> substr(t, CAST(i AS INTEGER), 5))) AS s
                     FROM d),
              c AS (SELECT a.doc_id AS new_id, b.doc_id AS old_id,
                           len(list_intersect(a.s, b.s)) AS i, len(a.s) AS la, len(b.s) AS lb
                    FROM sh a JOIN sh b
                      ON a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
                     AND len(b.s) <= 2*len(a.s) AND len(a.s) <= 2*len(b.s))
         SELECT new_id, old_id, CAST(i AS DOUBLE) / (la + lb - i) AS jaccard
         FROM c WHERE 2*i >= la + lb - i ORDER BY new_id, old_id"""),
    QuerySpec("q_lsh_retract", (s, dir) => {
      // LSH INDEX RETIREMENT (Dedup.lshIndexRetract) — the deletion
      // half of q_dedup_incr: takedown ids (doc_id ≡ 0 mod 6, a third
      // of the history) anti-join out of the stored per-doc index,
      // and tonight's screen against the retracted index EQUALS the
      // from-scratch screen against the surviving corpus — the oracle
      // IS that independent recompute (exact cross-pair Jaccard over
      // survivors only; it never sees the index or the retraction).
      // One broadcast-able anti-join; no rebuild, no text rescan.
      val d = t(s, dir, "documents")
      val idx = Dedup.lshDedupIndex(
        d.where(pmod(col("doc_id"), lit(2)) === 0), "doc_id", "text")
      val retracted = Dedup.lshIndexRetract(idx,
        d.where(pmod(col("doc_id"), lit(6)) === 0).select(col("doc_id")))
      Dedup.screenAgainstLshIndex(
          d.where(pmod(col("doc_id"), lit(2)) === 1), "doc_id", "text",
          retracted)
        .orderBy("new_id", "old_id")
    },
    // LSH-retract oracle: the q_dedup_incr independent recompute with
    // the takedown ids (doc_id % 6 = 0) excluded from the OLD side —
    // it never sees the index or the anti-join retirement.
    () =>
      raw"""WITH d AS (SELECT doc_id, regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g') AS t FROM documents),
              sh AS (SELECT doc_id,
                            list_distinct(list_transform(range(1, greatest(length(t)-4,1)+1),
                                                         i -> substr(t, CAST(i AS INTEGER), 5))) AS s
                     FROM d),
              c AS (SELECT a.doc_id AS new_id, b.doc_id AS old_id,
                           len(list_intersect(a.s, b.s)) AS i, len(a.s) AS la, len(b.s) AS lb
                    FROM sh a JOIN sh b
                      ON a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
                     AND b.doc_id % 6 <> 0
                     AND len(b.s) <= 2*len(a.s) AND len(a.s) <= 2*len(b.s))
         SELECT new_id, old_id, CAST(i AS DOUBLE) / (la + lb - i) AS jaccard
         FROM c WHERE 2*i >= la + lb - i ORDER BY new_id, old_id"""),
    QuerySpec("q_cluster_incr", (s, dir) => {
      // INCREMENTAL cluster maintenance (Dedup.incrementalClusters):
      // the full incremental-dedup composition end-to-end — yesterday
      // (even ids) is clustered once and STORED as labels; tonight
      // (odd ids) contributes cross pairs via the lshDedupIndex screen
      // plus its own within-snapshot pairs; the labels fold forward
      // without re-clustering history. The result must EQUAL
      // re-clustering the whole corpus from scratch, and the oracle
      // checks exactly that: an independent full-corpus closure
      // recompute (recursive CTE) that never sees the incremental
      // machinery.
      val d = t(s, dir, "documents")
      val evens = d.where(pmod(col("doc_id"), lit(2)) === 0)
      val odds = d.where(pmod(col("doc_id"), lit(2)) === 1)
      val oldPaired = Dedup.nearDupClusters(
        Dedup.nearDupPairs(evens, "doc_id", "text"))
      val oldLabels = evens.select(col("doc_id").as("id"))
        .join(oldPaired.select(col("id"), col("cluster_id")),
          Seq("id"), "left")
        .select(col("id"),
          coalesce(col("cluster_id"), col("id")).as("cluster_id"))
      val idx = Dedup.lshDedupIndex(evens, "doc_id", "text")
      val cross = Dedup.screenAgainstLshIndex(odds, "doc_id", "text", idx)
        .select(col("new_id").as("id_a"), col("old_id").as("id_b"))
      val within = Dedup.nearDupPairs(odds, "doc_id", "text")
        .select(col("id_a"), col("id_b"))
      Dedup.incrementalClusters(oldLabels,
          odds.select(col("doc_id").as("id")), cross.unionAll(within))
        .select(col("id").as("doc_id"), col("cluster_id"),
          col("cluster_size"))
        .orderBy("doc_id")
    },
    // Incremental-cluster oracle: INDEPENDENT full-corpus closure
    // recompute (same recursive CTE as q_dedup_clusters) + the
    // singleton rows the incremental op carries for unpaired ids —
    // never sees the index/label-folding machinery.
    () =>
      raw"""WITH RECURSIVE ${shinglePairsSql("documents")},
              $closureSql,
              sz AS (SELECT cluster_id, count(*) AS cluster_size
                     FROM lab GROUP BY cluster_id)
         SELECT lab.id AS doc_id, lab.cluster_id, sz.cluster_size
         FROM lab JOIN sz USING (cluster_id)
         UNION ALL
         SELECT doc_id, doc_id, CAST(1 AS BIGINT) FROM documents
         WHERE doc_id NOT IN (SELECT id FROM lab)
         ORDER BY doc_id"""),
    QuerySpec("q_dedup_retract", (s, dir) => {
      // CLUSTER RETRACTION (Dedup.retractClusters) — the splice
      // q_cluster_incr cannot undo: min-label propagation only MERGES,
      // so a takedown that removes a BRIDGE doc must SPLIT its
      // component, and the stored labels alone cannot say where. The
      // stored PAIR SET (the per-night confirmed pairs the incremental
      // pipeline already persists) seeds a LOCAL re-closure: only
      // components that lost a member re-run, over surviving pairs
      // only; untouched components pass through by anti-join. The
      // takedown set here is ADVERSARIAL by construction — every
      // component's MIN-id member (guaranteed cluster members, forcing
      // a relabel of every component, splits where the min was a
      // bridge, and singleton collapse where a pair-component drops to
      // one doc). The oracle recomputes INDEPENDENTLY: a second
      // from-scratch closure over the surviving corpus's exact-Jaccard
      // pairs — it never sees the labels, the pair store, or the
      // repair machinery. The pair store rides through
      // pairStoreCompact first, proving the compacted layout is
      // fold-transparent (compaction is the other half of the nightly
      // artifact story).
      val d = t(s, dir, "documents")
      // pinned once: the cascade feeds BOTH the stored-label build and
      // the repair's surviving-pair re-closure — two lazy consumers
      // would re-run the minhash cascade end to end
      val pairs = Dedup.nearDupPairs(d, "doc_id", "text").localCheckpoint()
      // clustered is consumed three times (label completion twice +
      // the takedown set) and oldLabels three more inside
      // retractClusters — cached in-query so the closure's tail
      // (sizes aggregate + join) runs once per frame, not per consumer
      val clustered = Dedup.nearDupClusters(pairs).cache()
      val allIds = d.select(col("doc_id").as("id"))
      val oldLabels = clustered.unionByName(
        allIds.join(clustered.select(col("id")), Seq("id"), "left_anti")
          .select(col("id"), col("id").as("cluster_id"),
            lit(1L).as("cluster_size"))).cache()
      val removed = clustered.select(col("cluster_id").as("id")).distinct()
      Dedup.retractClusters(oldLabels,
          Dedup.pairStoreCompact(pairs.select(col("id_a"), col("id_b"))),
          removed)
        .select(col("id").as("doc_id"), col("cluster_id"),
          col("cluster_size"))
        .orderBy("doc_id")
    },
    // Cluster-retraction oracle: TWO independent closures — the full
    // corpus's (only to derive the adversarial takedown set: every
    // component's min-id member) and a SECOND from-scratch closure
    // over the SURVIVING corpus's exact-Jaccard pairs, whose labels +
    // sizes + singletons are the expected output. It never sees the
    // stored labels, the pair store, or the repair machinery.
    () =>
      raw"""WITH RECURSIVE ${shinglePairsSql("documents")},
              $closureSql,
              rm AS (SELECT DISTINCT cluster_id AS doc_id FROM lab),
              c2 AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                            len(list_intersect(a.s, b.s)) AS i,
                            len(a.s) AS la, len(b.s) AS lb
                     FROM sh a JOIN sh b
                       ON a.doc_id < b.doc_id
                      AND len(b.s) <= 2*len(a.s) AND len(a.s) <= 2*len(b.s)
                     WHERE a.doc_id NOT IN (SELECT doc_id FROM rm)
                       AND b.doc_id NOT IN (SELECT doc_id FROM rm)),
              ${closureSqlSfx("2")},
              sz2 AS (SELECT cluster_id, count(*) AS cluster_size
                      FROM lab2 GROUP BY cluster_id)
         SELECT lab2.id AS doc_id, lab2.cluster_id, sz2.cluster_size
         FROM lab2 JOIN sz2 USING (cluster_id)
         UNION ALL
         SELECT doc_id, doc_id, CAST(1 AS BIGINT) FROM documents
         WHERE doc_id NOT IN (SELECT doc_id FROM rm)
           AND doc_id NOT IN (SELECT id FROM lab2)
         ORDER BY doc_id"""),
    QuerySpec("q_semdedup", (s, dir) => {
      // SemDeDup (Abbas et al. 2023): semantic dedup via embedding
      // clusters — the SAME sampled deterministic k-means as q_ann_ivf
      // (so the oracle's training replay is already proven), then a
      // within-cluster pair scan drops every vector with a lower-id
      // neighbor at cosine >= tau. The pair scan probes each vector's 2
      // nearest centroids (bounded 2x pair work, no all-pairs), so a
      // near-pair straddling a cluster boundary is still caught — the
      // single-probe paper recipe is structurally blind to those
      // (DedupSpec's hand-built boundary pair). Non-vacuous at sf0.01
      // (near-uniform synthetic embeddings; production embeddings use
      // tau ~0.95). Output = kept (vec_id, cluster) — the surviving
      // corpus plus its PRIMARY cluster structure.
      val emb = t(s, dir, "embeddings")
      val cents = Similarity.trainCentroids(emb, "vec_id", "embedding",
        k = 16, iters = 5, sampleFraction = 0.1)
      Dedup.semDedup(emb, "vec_id", "embedding", cents, tau = 0.35,
          probes = 2)
        .select(col("vec_id"), col("cluster").cast(LongType).as("cluster"))
        .orderBy("vec_id")
    },
    // Same k-means replay as q_ann_ivf, then the within-cluster
    // lower-id-neighbor drop rule (SemDeDup) and the kept-set project.
    () => semDedupSql(k = 16, iters = 5, dim = 64,
      sampleFraction = 0.1, seed = 42L, tau = 0.35, probes = 2))
  )
}

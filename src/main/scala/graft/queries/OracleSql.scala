package graft.queries

/** DuckDB replay fragments that more than one query family's oracle
  * builds on. */
object OracleSql {

  /** DuckDB replica of [[graft.functions.TextHashes]]' rolling hash over
    * an already-normalized VARCHAR column: accumulate `acc*1000003 + b`
    * mod 2^64 in HUGEINT. ONE source of truth, interpolated into every
    * oracle that replays the fingerprint (q_split, q_lang_fingerprint,
    * q_mix) — hand-copied variants can silently diverge. */
  private[queries] def rollingHashSql(normCol: String): String =
    s"""list_reduce(
       |  [CAST(0 AS HUGEINT)] || list_transform(range(1, length($normCol)+1),
       |                                         i -> CAST(unicode(substr($normCol, CAST(i AS INTEGER), 1)) AS HUGEINT)),
       |  (acc, b) -> (acc * 1000003 + b) % CAST('18446744073709551616' AS HUGEINT))""".stripMargin

  /** The BM25 score + rank CTEs over caller-provided `base(doc_id, dl,
    * tf_0..2)` and `st(n_docs, sum_dl, df_0..2)` — ONE textual score
    * expression shared by q_bm25 (stats from the serve corpus) and
    * q_bm25_incr (stats from the merged stored artifacts), mirroring
    * the Scala side's shared bm25Serve. */
  private[queries] val bm25ScoreCtesSql: String =
    raw"""sc AS (SELECT doc_id, dl,
         |                            ((CAST(n_docs AS DOUBLE) - CAST(df_0 AS DOUBLE) + 0.5) / (CAST(df_0 AS DOUBLE) + 0.5) + 1.0)
         |                              * ((CAST(tf_0 AS DOUBLE) * (1.2 + 1.0))
         |                                 / (CAST(tf_0 AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl AS DOUBLE) / (sum_dl / n_docs)))))
         |                          + ((CAST(n_docs AS DOUBLE) - CAST(df_1 AS DOUBLE) + 0.5) / (CAST(df_1 AS DOUBLE) + 0.5) + 1.0)
         |                              * ((CAST(tf_1 AS DOUBLE) * (1.2 + 1.0))
         |                                 / (CAST(tf_1 AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl AS DOUBLE) / (sum_dl / n_docs)))))
         |                          + ((CAST(n_docs AS DOUBLE) - CAST(df_2 AS DOUBLE) + 0.5) / (CAST(df_2 AS DOUBLE) + 0.5) + 1.0)
         |                              * ((CAST(tf_2 AS DOUBLE) * (1.2 + 1.0))
         |                                 / (CAST(tf_2 AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 * (CAST(dl AS DOUBLE) / (sum_dl / n_docs)))))
         |                            AS score
         |                     FROM base CROSS JOIN st),
         |              r AS (SELECT doc_id, dl, score,
         |                           CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS rk
         |                    FROM sc WHERE score > 0)""".stripMargin

  /** The q_bm25 scorer as shared CTEs `toks/base/st/sc/r` over
    * `documents` (query terms dup/merge/vector, k1=1.2, b=0.75) —
    * r(doc_id, dl, score, rk). ONE source of truth for q_bm25 and the
    * lexical leg of q_hybrid_retrieval. */
  private[queries] val bm25CtesSql: String =
    raw"""toks AS (SELECT doc_id,
         |                              list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS ts
         |                       FROM documents),
         |              base AS (SELECT doc_id, CAST(len(ts) AS INTEGER) AS dl,
         |                              len(list_filter(ts, x -> x = 'dup')) AS tf_0,
         |                              len(list_filter(ts, x -> x = 'merge')) AS tf_1,
         |                              len(list_filter(ts, x -> x = 'vector')) AS tf_2
         |                       FROM toks),
         |              st AS (SELECT count(*) AS n_docs,
         |                            CAST(sum(dl) AS DOUBLE) AS sum_dl,
         |                            sum(CASE WHEN tf_0 > 0 THEN 1 ELSE 0 END) AS df_0,
         |                            sum(CASE WHEN tf_1 > 0 THEN 1 ELSE 0 END) AS df_1,
         |                            sum(CASE WHEN tf_2 > 0 THEN 1 ELSE 0 END) AS df_2
         |                     FROM base),
         |              $bm25ScoreCtesSql""".stripMargin

  /** Reinterpret a mod-2^64 HUGEINT as signed 64-bit (Spark LongType). */
  private[queries] def signedSql(vCol: String): String =
    s"""CASE WHEN $vCol >= CAST('9223372036854775808' AS HUGEINT)
       |     THEN $vCol - CAST('18446744073709551616' AS HUGEINT) ELSE $vCol END""".stripMargin

  /** Shared langId replay: CTEs `t` (tokens + normalized + lowered
    * text) and `s` (per-language marker scores) over `documents`, plus
    * the argmax CASE — ONE source of truth for the classifier, shared
    * by the q_lang_fingerprint oracle and the q_langid_eval confusion
    * matrix (a hand-copied variant would silently diverge). */
  private[queries] val langScoreCtesSql: String =
    raw"""t AS (SELECT doc_id,
         |           list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks,
         |           regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g') AS norm,
         |           lower(text) AS lt
         |    FROM documents),
         |      s AS (SELECT doc_id, norm,
         |           len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','nicht','ein','mit'], x))) AS s_de,
         |           len(list_filter(toks, x -> list_contains(['the','and','of','is','to','in','that','it'], x))) AS s_en,
         |           len(list_filter(toks, x -> list_contains(['el','la','los','las','es','y','de','que'], x))) AS s_es,
         |           len(list_filter(toks, x -> list_contains(['le','la','les','et','est','que','des','une'], x))) AS s_fr,
         |           ((length(lt) - length(replace(lt, '的', '')))
         |                       + (length(lt) - length(replace(lt, '了', '')))
         |                       + (length(lt) - length(replace(lt, '是', '')))
         |                       + (length(lt) - length(replace(lt, '在', '')))
         |                       + (length(lt) - length(replace(lt, '我', '')))
         |                       + (length(lt) - length(replace(lt, '有', '')))
         |                       + (length(lt) - length(replace(lt, '他', '')))
         |                       + (length(lt) - length(replace(lt, '这', '')))) AS s_zh
         |    FROM t)""".stripMargin

  /** The classifier's argmax with its fixed tie order (de > en > es >
    * fr > zh, 'und' when all scores are zero) — pairs with
    * [[langScoreCtesSql]]'s `s` CTE. */
  private[queries] val langPredCaseSql: String =
    """CASE WHEN greatest(s_de,s_en,s_es,s_fr,s_zh) = 0 THEN 'und'
      |                     WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
      |                     WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
      |                     WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
      |                     WHEN s_fr >= s_zh THEN 'fr'
      |                     ELSE 'zh' END""".stripMargin

  /** DuckDB replay of [[graft.functions.LongHashes.splitmix64Of]] as a
    * CTE chain over a column `z` holding the unsigned key in HUGEINT:
    * each 64x64 multiply mod 2^64 splits the constant into 32-bit
    * halves (`z*lo + ((z*hi) % 2^32) * 2^32`, products <= 2^96) so
    * nothing overflows HUGEINT; xors/shifts round-trip through UBIGINT.
    * `from` is the CTE holding (`carry` cols..., z). */
  private[queries] def splitmixCtesSql(from: String, carry: String,
      pfx: String = ""): String = {
    val t64 = "CAST('18446744073709551616' AS HUGEINT)"
    def mulmod(lo: Long, hi: Long): String =
      s"(z * $lo + ((z * $hi) % 4294967296) * 4294967296) % $t64"
    def xorshift(n: Int): String =
      s"CAST(xor(CAST(z AS UBIGINT), CAST(z AS UBIGINT) >> $n) AS HUGEINT)"
    // pfx: rename the chain's CTEs (h0..h5 -> ${pfx}h0..${pfx}h5) so a
    // query can run a SECOND independent chain — e.g. the literal
    // probe-key replay next to the data chain (q_cms_incr's probe must
    // NOT derive from observed rows: a key absent at some SF would
    // empty the probe frame and fake a parity failure).
    raw"""${pfx}h0 AS (SELECT $carry, (z + 11400714819323198485) % $t64 AS z FROM $from),
         |${pfx}h1 AS (SELECT $carry, ${xorshift(30)} AS z FROM ${pfx}h0),
         |${pfx}h2 AS (SELECT $carry, ${mulmod(484763065L, 3210233709L)} AS z FROM ${pfx}h1),
         |${pfx}h3 AS (SELECT $carry, ${xorshift(27)} AS z FROM ${pfx}h2),
         |${pfx}h4 AS (SELECT $carry, ${mulmod(321982955L, 2496678331L)} AS z FROM ${pfx}h3),
         |${pfx}h5 AS (SELECT $carry, ${xorshift(31)} AS z FROM ${pfx}h4)""".stripMargin
  }

  /** DuckDB replay of [[graft.ops.Sketches.sketchQuantile]] over a
    * sorted BIGINT list column `vs` of length `n`: the SAME fixed-order
    * interpolation formula, op for op — `r = q*(n-1); lo = floor(r);
    * v[lo+1] + (v[lo+2 clamped to n] - v[lo+1]) * (r - floor(r))`
    * (1-based list indexing) — so the est doubles match bit-for-bit. */
  private[queries] def sketchQuantileSql(vs: String, n: String, q: String): String = {
    // CAST the quantile literal: DuckDB parses `0.9` as DECIMAL and
    // would run the whole interpolation in exact decimal arithmetic —
    // the Spark side is IEEE double, so the low bits would diverge
    val r = s"(CAST($q AS DOUBLE) * ($n - 1))"
    val lo = s"CAST(floor($r) AS INTEGER)"
    val vlo = s"CAST(list_extract($vs, $lo + 1) AS DOUBLE)"
    val vhi = s"CAST(list_extract($vs, least($lo + 2, CAST($n AS INTEGER))) AS DOUBLE)"
    s"($vlo + ($vhi - $vlo) * ($r - floor($r)))"
  }

  /** Shared CTE fragments of the near-dup oracle family (same rationale
    * as [[rollingHashSql]]: ONE source of truth; hand-copied variants
    * silently diverge and surface only as opaque hash mismatches).
    *
    * [[shinglePairsSql]] -- 5-gram shingle sets over `src(doc_id, text)`
    * plus the all-pairs ground-truth candidate join; yields CTEs
    * `d`, `sh`, `c(id_a, id_b, i, la, lb)`. The length prefilter
    * (`len <= 2*len`) is lossless for Jaccard >= 0.5. */
  private[queries] def shinglePairsSql(src: String): String =
    raw"""d AS (SELECT doc_id, regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g') AS t FROM $src),
         |              sh AS (SELECT doc_id,
         |                            list_distinct(list_transform(range(1, greatest(length(t)-4,1)+1),
         |                                                         i -> substr(t, CAST(i AS INTEGER), 5))) AS s
         |                     FROM d),
         |              c AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |                           len(list_intersect(a.s, b.s)) AS i, len(a.s) AS la, len(b.s) AS lb
         |                    FROM sh a JOIN sh b
         |                      ON a.doc_id < b.doc_id
         |                     AND len(b.s) <= 2*len(a.s) AND len(a.s) <= 2*len(b.s))""".stripMargin

  /** DuckDB 3-level list literal of the LSH hyperplanes q_ann_lsh uses
    * (dim 64, 8 tables x 6 planes, seed 42), printed with
    * Double.toString — the shortest round-trip representation — so
    * DuckDB parses the EXACT same doubles and every plane dot product
    * (same products, same ascending accumulation order) is
    * bit-identical to the PlaneSigns kernel's. */
  private[queries] lazy val lshPlanesSql: String =
    graft.ops.Similarity.hyperplanes(64, 8, 6, 42L)
      .map(_.map(_.mkString("[", ", ", "]")).mkString("[", ", ", "]"))
      .mkString("[", ", ", "]")

  /** SQL `dot` over 1-based `dim`-element list columns (sequential
    * fold — same order as the Spark kernel, so bit-identical). */
  private[queries] def sqlDot(dim: Int)(a: String, b: String): String =
    s"list_sum(list_transform(range(1, ${dim + 1}), ii -> $a[ii] * $b[ii]))"

  /** Shared k-means training prefix for the embedding oracles: CTEs
    * `e` (corpus as DOUBLE lists), `train` (seeded id-hash sample),
    * `cent0..cent$iters` (fixed-point Lloyd iterations), and `casg`
    * (full-corpus assignment to the final centroids) — the exact
    * replay of [[graft.ops.Similarity.trainCentroids]] +
    * `centroid_assign`. Callers append their serve stage ([[ivfSql]]
    * probes, the SemDeDup oracle's within-cluster pair scan). */
  private[queries] def kmeansPrefixSql(k: Int, iters: Int, dim: Int,
      sampleFraction: Double, seed: Long,
      materializeBase: Boolean = false,
      histWhere: String = "",
      corpusSelect: String = "",
      histSelect: String = ""): String = {
    import graft.ops.Similarity.{SampleMod, SampleMul}
    val keep = (sampleFraction * SampleMod).toLong
    // materializeBase: the composed q_ann_ivfpq oracle references e and
    // train from the 8 PQ subspace chains TOO (~10 refs each) — plain
    // CTEs would re-expand the parquet scan at every reference (the
    // q_kcore inlining lesson)
    val mat = if (materializeBase) "MATERIALIZED " else ""
    // histWhere: restrict TRAINING (sample + init) to a history subset
    // while `e`/`casg` stay full-corpus — the q_ann_incr replay, where
    // artifacts are trained on the stored half and the whole corpus is
    // encoded/assigned against them. Emits an `eh` CTE callers (the PQ
    // chains' init) can reference. Empty = the original single-corpus
    // text, byte-identical.
    val dot = sqlDot(dim) _
    def normalize(m: String) =
      s"""CASE WHEN sqrt(list_sum(list_transform($m, y -> y*y))) > 0
         |     THEN list_transform($m, x -> x / sqrt(list_sum(list_transform($m, y -> y*y))))
         |     ELSE $m END""".stripMargin
    val iterCtes = (1 to iters).map { i =>
      val prev = s"cent${i - 1}"
      s"""sc$i AS (SELECT t.vec_id, c.j, ${dot("t.v", "c.c")} AS d
         |          FROM train t, $prev c),
         |asg$i AS (SELECT vec_id, j AS cluster FROM (
         |            SELECT vec_id, j,
         |                   row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, j) AS rn
         |            FROM sc$i) WHERE rn = 1),
         |sum$i AS (SELECT a.cluster, p.pos,
         |                 SUM(CAST(floor(t.v[p.pos] * 1000000.0 + 0.5) AS BIGINT)) AS s,
         |                 COUNT(*) AS n
         |          FROM train t JOIN asg$i a USING (vec_id), generate_series(1, $dim) p(pos)
         |          GROUP BY a.cluster, p.pos),
         |mean$i AS (SELECT cluster AS j,
         |                  list((CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) / 1000000.0 ORDER BY pos) AS m
         |           FROM sum$i GROUP BY cluster),
         |raw$i AS (SELECT c.j, COALESCE(m.m, c.c) AS m
         |          FROM $prev c LEFT JOIN mean$i m ON m.j = c.j),
         |cent$i AS (SELECT j, ${normalize("m")} AS c FROM raw$i)""".stripMargin
    }.mkString(",\n")
    val cents = s"cent$iters"
    // corpusSelect / histSelect: override the encode corpus and the
    // training history INDEPENDENTLY — the q_ann_upsert replay, where
    // artifacts train on the ORIGINAL history but the encode corpus
    // carries re-embedded vectors the history never had (so eh cannot
    // derive from e). Defaults preserve the original text byte-for-byte.
    val corpus = if (corpusSelect.nonEmpty) corpusSelect
      else "SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v\n           FROM embeddings"
    val ehCte =
      if (histSelect.nonEmpty)
        s"     eh AS MATERIALIZED ($histSelect),\n"
      else if (histWhere.nonEmpty)
        s"     eh AS MATERIALIZED (SELECT vec_id, v FROM e WHERE $histWhere),\n"
      else ""
    val trainBase = if (ehCte.isEmpty) "e" else "eh"
    s"""e AS $mat($corpus),
       |$ehCte     train AS $mat(SELECT vec_id, v FROM $trainBase
       |               WHERE ((vec_id % $SampleMod) * $SampleMul + $seed) % $SampleMod < $keep),
       |     init AS (SELECT vec_id, v FROM $trainBase ORDER BY vec_id LIMIT $k),
       |     cent0 AS (SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS j,
       |                      ${normalize("v")} AS c
       |               FROM init),
       |$iterCtes,
       |     casg AS (SELECT vec_id, cluster FROM (
       |                SELECT e.vec_id, c.j AS cluster,
       |                       row_number() OVER (PARTITION BY e.vec_id
       |                                          ORDER BY ${dot("e.v", "c.c")} DESC, c.j) AS rn
       |                FROM e, $cents c) WHERE rn = 1)""".stripMargin
  }

  /** IVF serve stage over [[kmeansPrefixSql]]'s `e`/`casg` CTEs:
    * probe -> inverted-list candidates -> exact cosine rerank; yields
    * `ranked$suffix(qid, nid, s, rn)`. Shared by the q_ann_ivf oracle,
    * the q_ann_recall evaluations, and (via `corpusCte`/`suffix`) the
    * int8 serve replay — ONE source of truth for the serve pipeline;
    * `corpusCte` names the CTE holding the NEIGHBOR-side vectors
    * (`e` = full precision, `dq` = dequantized int8). */
  private[queries] def ivfServeCtesSql(iters: Int, nprobe: Int, dim: Int,
      corpusCte: String = "e", suffix: String = ""): String = {
    val dot = sqlDot(dim) _
    val cents = s"cent$iters"
    s"""qprobe$suffix AS (SELECT qid, cluster FROM (
       |             SELECT e.vec_id AS qid, c.j AS cluster,
       |                    row_number() OVER (PARTITION BY e.vec_id
       |                                       ORDER BY ${dot("e.v", "c.c")} DESC, c.j) AS rn
       |             FROM e, $cents c WHERE e.vec_id < 10) WHERE rn <= $nprobe),
       |cand$suffix AS (SELECT q.qid, ca.vec_id AS nid
       |         FROM casg ca JOIN qprobe$suffix q ON ca.cluster = q.cluster),
       |scored$suffix AS (SELECT cd.qid, cd.nid,
       |                  ${dot("ev.v", "qv.v")}
       |                  / (sqrt(${dot("ev.v", "ev.v")})
       |                   * sqrt(${dot("qv.v", "qv.v")})) AS s
       |           FROM cand$suffix cd JOIN $corpusCte ev ON ev.vec_id = cd.nid
       |                     JOIN e qv ON qv.vec_id = cd.qid),
       |ranked$suffix AS (SELECT qid, nid, s,
       |                  row_number() OVER (PARTITION BY qid ORDER BY s DESC, nid) AS rn
       |           FROM scored$suffix WHERE s IS NOT NULL)""".stripMargin
  }

  /** DuckDB replica of the FULL q_ann_ivf pipeline — k-means training
    * included. Replayable because every training step is deterministic:
    * the sample is the id-hash filter ([[graft.ops.Similarity
    * .hashSampleFilter]], restated here in integer SQL), per-dimension
    * means are exact fixed-point long sums (order-insensitive, unlike a
    * double avg), and assignment/probing tie-break (score DESC, index
    * ASC) matches the Centroids kernels' first-max scan. The `iters`
    * Lloyd rounds are UNROLLED as CTE pairs — no recursion needed for a
    * fixed iteration count. `list_sum` folds ascending like the
    * kernels' accumulation loops (same property q_ann_lsh relies on),
    * so dots, norms, and cosines are bit-identical. */
  private[queries] def ivfSql(k: Int, iters: Int, nprobe: Int, topk: Int,
      dim: Int, sampleFraction: Double, seed: Long): String =
    s"""WITH ${kmeansPrefixSql(k, iters, dim, sampleFraction, seed)},
       |${ivfServeCtesSql(iters, nprobe, dim)}
       |SELECT qid AS query_id, nid AS neighbor_id, CAST(rn AS INTEGER) AS rank,
       |       round(s, 6) AS score
       |FROM ranked WHERE rn <= $topk ORDER BY query_id, rank""".stripMargin

}

package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry.t
import graft.functions.CharDiversityKernel
import graft.ops.{TextAnalysis, Tokenizer}
import OracleSql.{rollingHashSql, bm25ScoreCtesSql, bm25CtesSql, signedSql, langScoreCtesSql, langPredCaseSql}

/** Text analysis, curation gates, mixing and tokenization from
  * [[graft.ops.TextAnalysis]] and [[graft.ops.Tokenizer]]. */
object TextQueries {

  /** q_normalize's deterministic dirt suffixes — ONE table feeding both
    * engines: the Spark query appends `lit(normDirt(i))`, the oracle
    * appends the same string rebuilt code-point-for-code-point via
    * chr() ([[duckChrs]]), so the oracle SQL stays pure ASCII and is
    * immune to encoding drift in transit. Classes by doc_id % 4:
    * 0 = mojibake batch A (&#x2019;/&#x201C;/C1-9D quotes, e-acute),
    * 1 = mojibake batch B (e-grave/u-umlaut, en/em dash, A-hat+NBSP),
    * 2 = invisible junk to strip (ZWSP/ZWJ/BOM/SHY/BEL/C1-9D),
    * 3 = exotic whitespace to collapse (tab/NBSP/em/ideographic/CRLF). */
  private val normDirt: Seq[String] = Seq(
    " cafÃ© itâ€™s â€œqâ€r ",
    " fÃ¨te Ã¼ber â€“xâ€”y zÂ w ",
    " a​b‍c﻿d­efg ",
    "\tx  y　 z\r\n")

  /** DuckDB expression rebuilding `str` as chr(cp) || chr(cp) || … —
    * ASCII-only SQL for literals whose bytes must match exactly. */
  private def duckChrs(str: String): String =
    str.codePoints().toArray.map(cp => s"chr($cp)").mkString(" || ")

  private val normDirtCaseSql: String = {
    val whens = normDirt.init.zipWithIndex.map { case (d, i) =>
      s"WHEN doc_id % 4 = $i THEN ${duckChrs(d)}" }
    (whens :+ s"ELSE ${duckChrs(normDirt.last)}").mkString(
      "CASE ", " ", " END")
  }

  /** DuckDB replay of [[TextAnalysis.normalizeText]] over expression
    * `c`: the identical repair fold (sources/targets read off the ONE
    * shared [[TextAnalysis.MojibakeRepairs]] table — a hand-copied
    * variant could silently diverge), the same \x{...} strip/collapse
    * classes (identical pattern text in Java regex and RE2) with the
    * 'g' flag, the same closing trim. */
  private def normalizeSqlExpr(c: String): String = {
    def repair(e: String): String =
      TextAnalysis.MojibakeRepairs.foldLeft(e) {
        case (acc, (bad, good)) =>
          s"replace($acc, ${duckChrs(bad)}, ${duckChrs(good)})"
      }
    val stripped = s"regexp_replace(${repair(c)}, " +
      s"'${TextAnalysis.NormStripClass}', '', 'g')"
    s"trim(regexp_replace(${repair(stripped)}, " +
      s"'${TextAnalysis.NormSpaceClass}', ' ', 'g'))"
  }

  /** Unrolled BPE round CTEs replaying [[Tokenizer.bpeMerges]] over
    * `documents`: `tok`/`w0` (word-frequency table with char symbol
    * arrays), then per round `pc$r` (pair counts via index unnest),
    * `top$r` (the total-order argmax: count DESC, l ASC, r ASC LIMIT
    * 1) and `w$r` (the LEFT JOIN ON TRUE merge application — NULL
    * pair means symbol exhaustion and passes syms through, exactly
    * the Spark loop's no-op round). The match/start/emit lambda chain
    * is the SAME index-parallel LTR formulation as
    * [[Tokenizer.applyMerge]]; DuckDB list[0] and out-of-range reads
    * yield NULL, mirroring Spark's 0-based `get`. */
  private def bpeCtesSql(rounds: Int): String = {
    val w0 =
      raw"""tok AS (SELECT unnest(list_filter(
           |                string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
           |                x -> x <> '')) AS w
           |              FROM documents),
           |              w0 AS MATERIALIZED (
           |                SELECT w, CAST(count(*) AS BIGINT) AS cnt,
           |                       list_transform(range(1, length(w) + 1),
           |                         i -> substr(w, CAST(i AS INTEGER), 1)) AS syms
           |                FROM tok GROUP BY w)""".stripMargin
    val rs = (1 to rounds).map { r =>
      raw"""pc$r AS (SELECT syms[i] AS l, syms[i + 1] AS r,
           |                       CAST(sum(cnt) AS BIGINT) AS pc
           |                FROM (SELECT cnt, syms,
           |                             unnest(range(1, len(syms))) AS i
           |                      FROM w${r - 1})
           |                GROUP BY 1, 2),
           |              top$r AS MATERIALIZED (
           |                SELECT l, r, pc FROM pc$r
           |                ORDER BY pc DESC, l ASC, r ASC LIMIT 1),
           |              w$r AS MATERIALIZED (
           |                SELECT w, cnt,
           |                       CASE WHEN l IS NULL THEN syms ELSE
           |                         list_transform(
           |                           list_filter(range(1, len(syms) + 1),
           |                             i -> NOT coalesce(st[i - 1], false)),
           |                           i -> CASE WHEN coalesce(st[i], false)
           |                                     THEN l || r ELSE syms[i] END)
           |                       END AS syms
           |                FROM (SELECT w, cnt, syms, l, r,
           |                             CASE WHEN len(m) < 1
           |                                  THEN CAST([] AS BOOLEAN[]) ELSE
           |                               list_transform(range(1, len(m) + 1),
           |                                 i -> m[i] AND ((i - coalesce(
           |                                   list_max(list_filter(range(1, i + 1),
           |                                     j -> NOT m[j])), 0)) % 2 = 1))
           |                             END AS st
           |                      FROM (SELECT ww.w AS w, ww.cnt AS cnt,
           |                                   ww.syms AS syms, t.l AS l, t.r AS r,
           |                                   CASE WHEN len(ww.syms) < 2
           |                                          OR t.l IS NULL
           |                                        THEN CAST([] AS BOOLEAN[]) ELSE
           |                                     list_transform(range(1, len(ww.syms)),
           |                                       i -> ww.syms[i] = t.l
           |                                            AND ww.syms[i + 1] = t.r)
           |                                   END AS m
           |                            FROM w${r - 1} ww
           |                            LEFT JOIN top$r t ON TRUE)))""".stripMargin
    }
    (w0 +: rs).mkString(",\n              ")
  }

  /** q_bm25_incr oracle: per-half (term, df) tables summed into the
    * merged artifact, diffed against the single-pass table
    * (n_df_mismatch), then the SAME score/rank CTEs serve the odd-id
    * snapshot against the merged stats — the stored-stats serve path
    * replayed end to end. */
  private val bm25IncrSql: String =
    raw"""WITH toks AS (SELECT doc_id,
                              list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS ts
                       FROM documents),
              tp AS MATERIALIZED (SELECT doc_id, unnest(list_distinct(ts)) AS term
                      FROM toks),
              mg AS MATERIALIZED (SELECT term, CAST(sum(c) AS BIGINT) AS df FROM (
                      SELECT term, count(*) AS c FROM tp
                      WHERE doc_id % 2 = 0 GROUP BY term
                      UNION ALL
                      SELECT term, count(*) AS c FROM tp
                      WHERE doc_id % 2 = 1 GROUP BY term)
                    GROUP BY term),
              fr AS (SELECT term, CAST(count(*) AS BIGINT) AS df
                     FROM tp GROUP BY term),
              mm AS (SELECT CAST(sum(CASE WHEN m.df IS NOT DISTINCT FROM f.df
                              THEN 0 ELSE 1 END) AS BIGINT) AS n_df_mismatch
                     FROM mg m FULL OUTER JOIN fr f ON f.term = m.term),
              st AS (SELECT count(*) AS n_docs,
                            CAST(sum(len(ts)) AS DOUBLE) AS sum_dl,
                            COALESCE((SELECT df FROM mg WHERE term = 'dup'), 0) AS df_0,
                            COALESCE((SELECT df FROM mg WHERE term = 'merge'), 0) AS df_1,
                            COALESCE((SELECT df FROM mg WHERE term = 'vector'), 0) AS df_2
                     FROM toks),
              base AS (SELECT doc_id, CAST(len(ts) AS INTEGER) AS dl,
                              len(list_filter(ts, x -> x = 'dup')) AS tf_0,
                              len(list_filter(ts, x -> x = 'merge')) AS tf_1,
                              len(list_filter(ts, x -> x = 'vector')) AS tf_2
                       FROM toks WHERE doc_id % 2 = 1),
              $bm25ScoreCtesSql
         SELECT rk, doc_id, dl, score,
                (SELECT n_df_mismatch FROM mm) AS n_df_mismatch
         FROM r WHERE rk <= 25 ORDER BY rk"""

  /** DuckDB replay of one [[graft.ops.TextAnalysis.lmScore]] bigram
    * MODEL over a pre-tokenized CTE `ts(doc_id, lang, t)`: emits CTEs
    * `bi$sfx` (training bigrams), `bc$sfx` (bigram counts), `cx$sfx`
    * (context totals) and `vv$sfx` (guarded vocab size) for the train
    * slice selected by `where`. Factored because q_moore_lewis replays
    * TWO models; a hand-copied variant of the q_lm_score chain would
    * silently diverge (the shinglePairsSql rationale). */
  private def lmModelCtesSql(sfx: String, where: String): String =
    raw"""bi$sfx AS (SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bigram
         |                      FROM ts $where),
         |               bc$sfx AS (SELECT bigram, count(*) AS c_xy FROM bi$sfx GROUP BY bigram),
         |               cx$sfx AS (SELECT string_split(bigram, ' ')[1] AS w1, sum(c_xy) AS c_x
         |                      FROM bc$sfx GROUP BY 1),
         |               vv$sfx AS (SELECT CASE WHEN count(DISTINCT w) >= 1
         |                                 THEN count(DISTINCT w)
         |                                 ELSE error('lmScore: empty training vocabulary') END AS v
         |                      FROM (SELECT unnest(t) AS w FROM ts $where))""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_collocations", (s, dir) => {
      // Collocation mining (TextAnalysis.collocations): top-50 bigram
      // phrases by lift = c_xy*N/(c_x*c_y) — the exponent-free core of
      // PMI (log2 is monotone, so this IS the PMI ranking, without
      // libm's bit-instability). Floor c_xy >= 5 keeps hapax pairs out
      // and the joined frame slim (900 floored bigrams at sf0.01).
      // Ordering binds to the EXACT lift on both engines; the rounded
      // value is display-only.
      TextAnalysis.collocations(t(s, dir, "documents"), "text",
          minCount = 5)
        .orderBy(col("lift").desc, col("bigram"))
        .limit(50)
        .select(col("bigram"), col("c_xy"), col("c_x"), col("c_y"),
          round(col("lift"), 6).as("lift"))
    },
    () =>
      raw"""WITH ts AS (SELECT list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS t
                       FROM documents),
               uni AS (SELECT unnest(t) AS w FROM ts),
               un AS (SELECT w, count(*) AS c FROM uni GROUP BY w),
               nt AS (SELECT count(*) AS n_tok FROM uni),
               bi AS (SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bigram
                      FROM ts),
               bc AS (SELECT bigram, count(*) AS c_xy FROM bi
                      GROUP BY bigram HAVING count(*) >= 5),
               sp AS (SELECT bigram, c_xy,
                             string_split(bigram, ' ')[1] AS w1,
                             string_split(bigram, ' ')[2] AS w2 FROM bc),
               j AS (SELECT s.bigram, s.c_xy, ux.c AS c_x, uy.c AS c_y,
                            CAST(s.c_xy AS DOUBLE) * CAST(nt.n_tok AS DOUBLE)
                              / (CAST(ux.c AS DOUBLE) * CAST(uy.c AS DOUBLE)) AS lift
                     FROM sp s JOIN un ux ON ux.w = s.w1
                               JOIN un uy ON uy.w = s.w2, nt)
          SELECT bigram, c_xy, c_x, c_y, round(lift, 6) AS lift
          FROM j ORDER BY j.lift DESC, bigram LIMIT 50"""),
    QuerySpec("q_lm_score", (s, dir) => {
      // CCNet-style bigram-LM quality scoring (TextAnalysis.lmScore):
      // train add-one-smoothed transition counts on the corpus, score
      // every doc by mean transition probability + weakest transition.
      // Log-free by design (the lift/langid house recipe): integer
      // counts, one exact-operand IEEE division per transition, 2^-40
      // fixed-point quantization so the per-doc sum is exact integer
      // arithmetic on any partitioning — no ordered fold, ONE plain
      // map-side-partial aggregate.
      val d = t(s, dir, "documents")
      TextAnalysis.lmScore(d, d, "doc_id", "text")
        .orderBy("doc_id")
    },
    // Bigram-LM scoring replay: same tokenizer, add-one-smoothed
    // p = (c_xy+1)/(ctx+V) as one exact-operand DOUBLE division,
    // floor(p * 2^40) quantization so the per-doc sum is exact
    // integers — bit-identical to the Spark fixed-point aggregate.
    // Mirrors BOTH loud guards: error() on an empty vocabulary (0/0
    // NaN hazard) and on any doc past 2^13 transitions (the 2^53
    // sum_fp exactness bound) — same refusals as TextAnalysis.lmScore.
    () =>
      raw"""WITH ts AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS t
                        FROM documents),
               bi AS (SELECT doc_id, unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bigram
                      FROM ts),
               bc AS (SELECT bigram, count(*) AS c_xy FROM bi GROUP BY bigram),
               cx AS (SELECT string_split(bigram, ' ')[1] AS w1, sum(c_xy) AS c_x
                      FROM bc GROUP BY 1),
               vv AS (SELECT CASE WHEN count(DISTINCT w) >= 1
                                  THEN count(DISTINCT w)
                                  ELSE error('lmScore: empty training vocabulary') END AS v
                      FROM (SELECT unnest(t) AS w FROM ts)),
               pr AS (SELECT b.doc_id,
                             CAST(coalesce(c.c_xy, 0) + 1 AS DOUBLE)
                               / CAST(coalesce(x.c_x, 0) + vv.v AS DOUBLE) AS p
                      FROM bi b LEFT JOIN bc c USING (bigram)
                                LEFT JOIN cx x ON x.w1 = string_split(b.bigram, ' ')[1], vv),
               pd0 AS (SELECT doc_id,
                             sum(CAST(floor(p * CAST(1099511627776 AS DOUBLE)) AS BIGINT)) AS sum_fp,
                             count(*) AS n_trans, min(p) AS lm_min
                      FROM pr GROUP BY doc_id),
               pd AS (SELECT * FROM pd0
                      WHERE CASE WHEN n_trans <= 8192 THEN TRUE
                                 ELSE error('lmScore: doc over 2^13 transitions') END)
          SELECT d.doc_id, coalesce(pd.n_trans, 0) AS n_trans,
                 CAST(pd.sum_fp AS DOUBLE)
                   / CAST(pd.n_trans * 1099511627776 AS DOUBLE) AS lm_score,
                 pd.lm_min
          FROM documents d LEFT JOIN pd USING (doc_id)
          ORDER BY d.doc_id"""),
    QuerySpec("q_dsir", (s, dir) => {
      // DSIR importance weights (TextAnalysis.dsirWeights): tilt the
      // raw corpus toward the lang='en' target slice via hashed-bigram
      // bucket models — w(doc) = prod p_t(b)/p_r(b). B=1024 power of
      // two (signed pmod == oracle's unsigned mod), ratios are integer
      // counts + fixed-order IEEE divisions, product is the q_ewma
      // position-ordered fold — bit-replayable end to end.
      val d = t(s, dir, "documents")
      TextAnalysis.dsirWeights(d, d.where(col("lang") === "en"),
          "doc_id", "text")
        .orderBy("doc_id")
    },
    // DSIR replay: hashed-bigram bucket models (rolling hash % 1024 on
    // the HUGEINT — equals Spark's signed pmod because 1024 | 2^64),
    // add-one smoothing as fixed-order DOUBLE divisions, per-doc
    // product as the q_ewma ordered list_reduce fold. Outer transform
    // var is j: rollingHashSql's inner lambda owns i.
    () =>
      raw"""WITH ts AS (SELECT doc_id, lang, list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS t
                        FROM documents),
               tb AS (SELECT CAST(${rollingHashSql("bigram")} % 1024 AS BIGINT) AS b
                      FROM (SELECT unnest(list_transform(range(1, len(t)), j -> t[j] || ' ' || t[j+1])) AS bigram
                            FROM ts WHERE lang = 'en')),
               ct AS (SELECT b, count(*) AS c_t FROM tb GROUP BY b),
               ntt AS (SELECT count(*) AS n_t FROM tb),
               rb AS (SELECT doc_id, f['pos'] AS pos,
                             CAST(${rollingHashSql("f['bigram']")} % 1024 AS BIGINT) AS b
                      FROM (SELECT doc_id,
                                   unnest(list_transform(range(1, len(t)),
                                     j -> {'pos': j - 1, 'bigram': t[j] || ' ' || t[j+1]})) AS f
                            FROM ts)),
               cr AS (SELECT b, count(*) AS c_r FROM rb GROUP BY b),
               nrr AS (SELECT count(*) AS n_r FROM rb),
               pr AS (SELECT doc_id, pos,
                             (CAST(coalesce(ct.c_t, 0) + 1 AS DOUBLE)
                               / CAST(ntt.n_t + 1024 AS DOUBLE))
                             / (CAST(coalesce(cr.c_r, 0) + 1 AS DOUBLE)
                               / CAST(nrr.n_r + 1024 AS DOUBLE)) AS r
                      FROM rb LEFT JOIN ct USING (b)
                              LEFT JOIN cr USING (b), ntt, nrr),
               pd AS (SELECT doc_id, count(*) AS n_feat,
                             list_reduce([CAST(1.0 AS DOUBLE)] || list(r ORDER BY pos),
                               (acc, x) -> acc * x) AS dsir_w
                      FROM pr GROUP BY doc_id)
          SELECT d.doc_id, coalesce(pd.n_feat, 0) AS n_feat, pd.dsir_w
          FROM documents d LEFT JOIN pd USING (doc_id)
          ORDER BY d.doc_id"""),
    QuerySpec("q_gopher_rep", (s, dir) => {
      // Gopher repetition filters (TextAnalysis.repetitionSignals,
      // Rae et al. 2021 Table A1): top-n-gram token share (n=2,3,4,
      // with multiplicity) and duplicated-n-gram position coverage
      // (n=5,10, exact interval union). All-integer counting + one
      // exact-operand IEEE division per signal — bit-replayable; the
      // quality-gate companion to q_text_stats' surface ratios.
      TextAnalysis.repetitionSignals(t(s, dir, "documents"),
          "doc_id", "text")
        .orderBy("doc_id")
    },
    // Repetition replay: same tokenizer and gram construction (1-based
    // list slices), exact integer counts; top family = per-doc max gram
    // count * n, dup family = count(DISTINCT covered position) over
    // occurrences of grams repeating within the doc; one exact-operand
    // DOUBLE division per signal — bit-identical to the Spark side.
    () =>
      raw"""WITH ts AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS t
                        FROM documents),
               base AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM ts),
               t2 AS (SELECT doc_id, max(c) AS top2
                      FROM (SELECT doc_id, g, count(*) AS c
                            FROM (SELECT doc_id, unnest(list_transform(range(1, len(t)), i -> array_to_string(t[i:i+1], ' '))) AS g FROM ts)
                            GROUP BY doc_id, g)
                      GROUP BY doc_id),
               t3 AS (SELECT doc_id, max(c) AS top3
                      FROM (SELECT doc_id, g, count(*) AS c
                            FROM (SELECT doc_id, unnest(list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))) AS g FROM ts)
                            GROUP BY doc_id, g)
                      GROUP BY doc_id),
               t4 AS (SELECT doc_id, max(c) AS top4
                      FROM (SELECT doc_id, g, count(*) AS c
                            FROM (SELECT doc_id, unnest(list_transform(range(1, len(t) - 2), i -> array_to_string(t[i:i+3], ' '))) AS g FROM ts)
                            GROUP BY doc_id, g)
                      GROUP BY doc_id),
               c5 AS (SELECT doc_id, f['pos'] AS pos,
                             count(*) OVER (PARTITION BY doc_id, f['g']) AS c
                      FROM (SELECT doc_id, unnest(list_transform(range(1, len(t) - 3), i -> {'pos': i, 'g': array_to_string(t[i:i+4], ' ')})) AS f FROM ts)),
               d5 AS (SELECT doc_id, CAST(count(DISTINCT p) AS BIGINT) AS dup5
                      FROM (SELECT doc_id, unnest(range(pos, pos + 5)) AS p
                            FROM c5 WHERE c >= 2)
                      GROUP BY doc_id),
               c10 AS (SELECT doc_id, f['pos'] AS pos,
                              count(*) OVER (PARTITION BY doc_id, f['g']) AS c
                       FROM (SELECT doc_id, unnest(list_transform(range(1, len(t) - 8), i -> {'pos': i, 'g': array_to_string(t[i:i+9], ' ')})) AS f FROM ts)),
               d10 AS (SELECT doc_id, CAST(count(DISTINCT p) AS BIGINT) AS dup10
                       FROM (SELECT doc_id, unnest(range(pos, pos + 10)) AS p
                             FROM c10 WHERE c >= 2)
                       GROUP BY doc_id)
          SELECT b.doc_id, b.n_tokens,
                 CASE WHEN b.n_tokens > 0 THEN CAST(coalesce(t2.top2, 0) * 2 AS DOUBLE) / CAST(b.n_tokens AS DOUBLE)
                      WHEN b.n_tokens = 0 THEN CAST(0.0 AS DOUBLE) END AS top2_frac,
                 CASE WHEN b.n_tokens > 0 THEN CAST(coalesce(t3.top3, 0) * 3 AS DOUBLE) / CAST(b.n_tokens AS DOUBLE)
                      WHEN b.n_tokens = 0 THEN CAST(0.0 AS DOUBLE) END AS top3_frac,
                 CASE WHEN b.n_tokens > 0 THEN CAST(coalesce(t4.top4, 0) * 4 AS DOUBLE) / CAST(b.n_tokens AS DOUBLE)
                      WHEN b.n_tokens = 0 THEN CAST(0.0 AS DOUBLE) END AS top4_frac,
                 CASE WHEN b.n_tokens > 0 THEN CAST(coalesce(d5.dup5, 0) AS DOUBLE) / CAST(b.n_tokens AS DOUBLE)
                      WHEN b.n_tokens = 0 THEN CAST(0.0 AS DOUBLE) END AS dup5_frac,
                 CASE WHEN b.n_tokens > 0 THEN CAST(coalesce(d10.dup10, 0) AS DOUBLE) / CAST(b.n_tokens AS DOUBLE)
                      WHEN b.n_tokens = 0 THEN CAST(0.0 AS DOUBLE) END AS dup10_frac
          FROM base b LEFT JOIN t2 USING (doc_id) LEFT JOIN t3 USING (doc_id)
                      LEFT JOIN t4 USING (doc_id) LEFT JOIN d5 USING (doc_id)
                      LEFT JOIN d10 USING (doc_id)
          ORDER BY b.doc_id"""),
    QuerySpec("q_moore_lewis", (s, dir) => {
      // Moore-Lewis contrastive selection (TextAnalysis.mooreLewis):
      // rank every doc by in-domain-minus-general mean transition
      // probability — two lmScore bigram models (in-domain = lang='en'
      // slice, general = whole corpus), one IEEE subtraction. The
      // full-LM sibling of q_dsir's hashed-feature importance ratio.
      val d = t(s, dir, "documents")
      TextAnalysis.mooreLewis(d.where(col("lang") === "en"), d, d,
          "doc_id", "text")
        .orderBy("doc_id")
    },
    // Moore-Lewis replay: TWO lmScore model chains (lmModelCtesSql —
    // in-domain = lang='en', general = whole corpus) over ONE shared
    // token CTE, each scored with the same fixed-point per-doc sum as
    // q_lm_score (n_trans guard mirrored once — both sides count the
    // same score-stream bigrams), then one IEEE subtraction.
    () =>
      raw"""WITH ts AS (SELECT doc_id, lang, list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS t
                        FROM documents),
               ${lmModelCtesSql("i", "WHERE lang = 'en'")},
               ${lmModelCtesSql("g", "")},
               sb AS (SELECT doc_id, bigram, string_split(bigram, ' ')[1] AS w1
                      FROM (SELECT doc_id, unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bigram
                            FROM ts)),
               pri AS (SELECT s.doc_id,
                              CAST(coalesce(c.c_xy, 0) + 1 AS DOUBLE)
                                / CAST(coalesce(x.c_x, 0) + vvi.v AS DOUBLE) AS p
                       FROM sb s LEFT JOIN bci c USING (bigram)
                                 LEFT JOIN cxi x USING (w1), vvi),
               pdi0 AS (SELECT doc_id,
                              sum(CAST(floor(p * CAST(1099511627776 AS DOUBLE)) AS BIGINT)) AS sum_fp,
                              count(*) AS n_trans
                       FROM pri GROUP BY doc_id),
               pdi AS (SELECT * FROM pdi0
                       WHERE CASE WHEN n_trans <= 8192 THEN TRUE
                                  ELSE error('lmScore: doc over 2^13 transitions') END),
               prg AS (SELECT s.doc_id,
                              CAST(coalesce(c.c_xy, 0) + 1 AS DOUBLE)
                                / CAST(coalesce(x.c_x, 0) + vvg.v AS DOUBLE) AS p
                       FROM sb s LEFT JOIN bcg c USING (bigram)
                                 LEFT JOIN cxg x USING (w1), vvg),
               pdg AS (SELECT doc_id,
                              sum(CAST(floor(p * CAST(1099511627776 AS DOUBLE)) AS BIGINT)) AS sum_fp,
                              count(*) AS n_trans
                       FROM prg GROUP BY doc_id)
          SELECT d.doc_id, coalesce(pdi.n_trans, 0) AS n_trans,
                 CAST(pdi.sum_fp AS DOUBLE)
                   / CAST(pdi.n_trans * 1099511627776 AS DOUBLE) AS lm_in,
                 CAST(pdg.sum_fp AS DOUBLE)
                   / CAST(pdg.n_trans * 1099511627776 AS DOUBLE) AS lm_out,
                 (CAST(pdi.sum_fp AS DOUBLE)
                   / CAST(pdi.n_trans * 1099511627776 AS DOUBLE))
                 - (CAST(pdg.sum_fp AS DOUBLE)
                   / CAST(pdg.n_trans * 1099511627776 AS DOUBLE)) AS ml_score
          FROM documents d LEFT JOIN pdi USING (doc_id)
                           LEFT JOIN pdg USING (doc_id)
          ORDER BY d.doc_id"""),
    QuerySpec("q_distinctive_terms", (s, dir) => {
      // Distinctive bigrams per source slice
      // (TextAnalysis.distinctiveTerms): top-5 bigrams by in-slice
      // lift over corpus rate — the keyword layer of the dataset card,
      // same exponent-free-PMI ranking as q_collocations. Ordering
      // binds to the EXACT lift; the rounded value is display-only.
      TextAnalysis.distinctiveTerms(t(s, dir, "documents"), "source",
          "text", n = 2, k = 5, minCount = 5)
        .select(col("grp").as("source"), col("term"), col("c_gt"),
          col("c_t"), round(col("lift"), 6).as("lift"), col("rk"))
        .orderBy("source", "rk")
    },
    // Distinctive-terms replay: same tokenizer/bigram kernel, lift in
    // the identical fixed association order, rank over the EXACT lift
    // with the term tie-break; rounded lift is display-only.
    () =>
      raw"""WITH ts AS (SELECT source, list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS t
                       FROM documents),
               bi AS (SELECT source AS grp,
                             unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS term
                      FROM ts),
               gt AS (SELECT grp, term, CAST(count(*) AS BIGINT) AS c_gt
                      FROM bi GROUP BY 1, 2),
               bg AS (SELECT grp, CAST(sum(c_gt) AS BIGINT) AS n_g
                      FROM gt GROUP BY grp),
               bt AS (SELECT term, CAST(sum(c_gt) AS BIGINT) AS c_t
                      FROM gt GROUP BY term),
               nt AS (SELECT CAST(sum(n_g) AS BIGINT) AS n_tot FROM bg),
               sc AS (SELECT g.grp, g.term, g.c_gt, bt.c_t,
                             CAST(g.c_gt AS DOUBLE) * CAST(nt.n_tot AS DOUBLE)
                               / (CAST(bg.n_g AS DOUBLE) * CAST(bt.c_t AS DOUBLE)) AS lift
                      FROM gt g JOIN bg USING (grp)
                                JOIN bt USING (term), nt
                      WHERE g.c_gt >= 5),
               rnk AS (SELECT *, row_number() OVER
                         (PARTITION BY grp ORDER BY lift DESC, term) AS rk
                       FROM sc)
          SELECT grp AS source, term, c_gt, c_t,
                 round(lift, 6) AS lift, rk
          FROM rnk WHERE rk <= 5
          ORDER BY source, rk"""),
    QuerySpec("q_skipgram", (s, dir) => {
      // Skip-gram co-occurrence table (the word2vec/GloVe input):
      // top-50 unordered token pairs within a 3-token window,
      // canonicalized a <= b. Pair expansion is IN-ROW (codegen'd
      // transform-of-slices, <= window partners per position — no
      // self-join), counts combine map-side, the global top-k is a
      // bounded TakeOrderedAndProject. Ties (common on this closed
      // 31-token vocabulary) break on the pair strings — binary
      // string order, identical in both engines.
      TextAnalysis.skipgramPairs(t(s, dir, "documents"), "text",
          window = 3, k = 50)
        .orderBy(col("n").desc, col("w_a"), col("w_b"))
    },
    // Skip-gram replay: same tokenizer, in-row windowed pair expansion
    // via nested list_transform, canonical (least, greatest) pair.
    () =>
      raw"""WITH tk AS (SELECT list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS t
                        FROM documents),
               pr AS (SELECT unnest(flatten(list_transform(range(1, len(t)),
                        i -> list_transform(t[i+1 : i+3],
                               w -> {'a': least(t[i], w),
                                     'b': greatest(t[i], w)})))) AS p
                      FROM tk WHERE len(t) >= 2)
          SELECT p.a AS w_a, p.b AS w_b, count(*) AS n
          FROM pr GROUP BY 1, 2
          ORDER BY n DESC, w_a, w_b LIMIT 50"""),
    QuerySpec("q_text_stats", (s, dir) => {
      TextAnalysis.documentFeatures(t(s, dir, "documents"), "doc_id", "text")
        .drop("lang_pred", "fingerprint")
        .orderBy("doc_id")
    },
    () =>
      """SELECT doc_id,
                CAST(length(text) AS BIGINT) AS n_chars,
                CAST(len(list_filter(string_split_regex(text, '[ \t\n\x0B\f\r]+'), x -> x <> '')) AS BIGINT) AS n_tokens_ws,
                CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tokens_subword,
                CASE WHEN len(toks) > 0
                     THEN CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks)
                     ELSE 0.0 END AS mean_token_len,
                CASE WHEN length(text) > 0
                     THEN CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) / length(text)
                     ELSE 0.0 END AS punct_ratio,
                CASE WHEN len(toks) > 0
                     THEN CAST(len(list_filter(toks, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','on','for','with','as','at','by'], x))) AS DOUBLE) / len(toks)
                     ELSE 0.0 END AS stopword_ratio,
                (least(CAST(length(text) AS DOUBLE) / 200.0, 1.0)
                 + (1.0 - least((CASE WHEN length(text) > 0
                                      THEN CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) / length(text)
                                      ELSE 0.0 END) * 5.0, 1.0))
                 + least((CASE WHEN len(toks) > 0
                               THEN CAST(len(list_filter(toks, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','on','for','with','as','at','by'], x))) AS DOUBLE) / len(toks)
                               ELSE 0.0 END) * 4.0, 1.0)) / 3.0 AS quality
         FROM (SELECT doc_id, text,
                      list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
               FROM documents)
         ORDER BY doc_id"""),
    QuerySpec("q_len_stats", (s, dir) => {
      // Per-language length distribution (curation cutoffs are set from
      // these). EXACT percentiles — bit-identical to DuckDB's
      // quantile_cont — for verifiability; at 100 TB the pipeline would
      // switch to approx_percentile (sketch-based, not oracle-able).
      t(s, dir, "documents").groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          expr("percentile(n_chars, 0.5D)").as("p50"),
          expr("percentile(n_chars, 0.9D)").as("p90"),
          expr("percentile(n_chars, 0.99D)").as("p99"))
        .orderBy("lang")
    },
    () =>
      """SELECT lang, count(*) AS n,
                quantile_cont(n_chars, 0.5) AS p50,
                quantile_cont(n_chars, 0.9) AS p90,
                quantile_cont(n_chars, 0.99) AS p99
         FROM documents GROUP BY lang ORDER BY lang"""),
    QuerySpec("q_vocab", (s, dir) => {
      TextAnalysis.topTokens(t(s, dir, "documents"), "text", n = 100)
        .orderBy(col("cnt").desc, col("token"))
    },
    () =>
      """SELECT token, count(*) AS cnt
         FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '')) AS token
               FROM documents)
         GROUP BY token ORDER BY cnt DESC, token LIMIT 100"""),
    QuerySpec("q_ngrams", (s, dir) => {
      // Corpus bigram frequency table (n-gram LM stats / contamination
      // reports): ngram construction is a pure codegen'd expression
      // (transform + slice over the token array), then q_vocab's
      // explode -> partial counts -> bounded top-k shape.
      TextAnalysis.topNgrams(t(s, dir, "documents"), "text", n = 2, k = 50)
        .orderBy(col("cnt").desc, col("ngram"))
    },
    () =>
      """SELECT ngram, count(*) AS cnt
         FROM (SELECT unnest(list_transform(range(1, len(ts)),
                        i -> ts[i] || ' ' || ts[i+1])) AS ngram
               FROM (SELECT list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS ts
                     FROM documents))
         GROUP BY ngram ORDER BY cnt DESC, ngram LIMIT 50"""),
    QuerySpec("q_chunk", (s, dir) => {
      // Overlapping 200-char windows, 40-char overlap — the
      // embedding/RAG pre-chunking stage. Narrow codegen'd expression;
      // the only exchange is the presentation sort.
      TextAnalysis.chunkDocuments(t(s, dir, "documents"), "doc_id", "text",
          size = 200, overlap = 40)
        .orderBy("doc_id", "chunk_id")
    },
    () =>
      """WITH n AS (SELECT doc_id, text,
                           CASE WHEN length(text) <= 200 THEN 1
                                ELSE CAST(floor((length(text) - 41) / 160.0) AS INTEGER) + 1
                           END AS num
                    FROM documents WHERE length(text) > 0)
         SELECT doc_id, CAST(i AS INTEGER) AS chunk_id,
                substr(text, CAST(i AS INTEGER) * 160 + 1, 200) AS chunk_text
         FROM n, unnest(range(0, num)) AS t(i)
         ORDER BY doc_id, chunk_id"""),
    QuerySpec("q_tfidf", (s, dir) => {
      // Per-doc top-3 TF-IDF terms under the RATIONAL idf (N+1)/(df+1)
      // — see TextAnalysis.tfidfTopTerms for why no logarithm appears.
      // (doc_id, rk) is a unique total order.
      TextAnalysis.tfidfTopTerms(t(s, dir, "documents"), "doc_id", "text",
          k = 3)
        .orderBy("doc_id", "rk")
    },
    () =>
      """WITH toks AS (SELECT doc_id,
                              unnest(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '')) AS term
                       FROM documents),
              tf AS (SELECT doc_id, term, count(*) AS tf
                     FROM toks GROUP BY doc_id, term),
              dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
              n AS (SELECT count(*) AS n_docs FROM documents),
              scored AS (SELECT doc_id, term, tf, df,
                                (CAST(tf AS DOUBLE) * (CAST(n_docs AS DOUBLE) + 1.0)) / (CAST(df AS DOUBLE) + 1.0) AS tfidf
                         FROM tf JOIN dfreq USING (term) CROSS JOIN n),
              r AS (SELECT doc_id, term, tf, df, tfidf,
                           CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS INTEGER) AS rk
                    FROM scored)
         SELECT doc_id, rk, term, tf, df, tfidf FROM r WHERE rk <= 3
         ORDER BY doc_id, rk"""),
    QuerySpec("q_bm25", (s, dir) => {
      // BM25 keyword retrieval (rational log-free idf — see
      // TextAnalysis.bm25TopDocs): one rare term ('dup', df=25 at
      // sf0.01) against two common ones, so the idf spread is real.
      // No explode: per-term tf is a narrow pass over the token array;
      // global top-k is TakeOrderedAndProject.
      TextAnalysis.bm25TopDocs(t(s, dir, "documents"), "doc_id", "text",
          Seq("dup", "merge", "vector"), k1 = 1.2, b = 0.75, k = 25)
        .orderBy("rk")
    },
    () =>
      s"""WITH $bm25CtesSql
         SELECT rk, doc_id, dl, score FROM r WHERE rk <= 25 ORDER BY rk"""),
    QuerySpec("q_bm25_incr", (s, dir) => {
      // INCREMENTAL SEARCH-INDEX STATISTICS (TextAnalysis.dfTable/
      // dfTableMerge/docStats/docStatsMerge + bm25TopDocsFromStats) —
      // the IR member of the persistence family: document frequency
      // and corpus totals are PURE SUMS over disjoint snapshots, so
      // nightly index-stats maintenance folds tonight's (term, df)
      // table into yesterday's without rescanning history, and BM25
      // serves tonight's docs against CORPUS-WIDE idf from the stored
      // stats alone. The artifact proves the merge law
      // (n_df_mismatch == 0 vs the single-pass table, term for term)
      // and serves the odd-id snapshot through the same scoring tail
      // as q_bm25 — identical doubles, since idf/avgdl derive from
      // exact merged longs.
      val d = t(s, dir, "documents")
      val evens = d.where(pmod(col("doc_id"), lit(2)) === 0)
      val odds = d.where(pmod(col("doc_id"), lit(2)) === 1)
      val dfm = TextAnalysis.dfTableMerge(Seq(
        TextAnalysis.dfTable(evens, "doc_id", "text"),
        TextAnalysis.dfTable(odds, "doc_id", "text")))
      val tot = TextAnalysis.docStatsMerge(Seq(
        TextAnalysis.docStats(evens, "doc_id", "text"),
        TextAnalysis.docStats(odds, "doc_id", "text")))
      val full = TextAnalysis.dfTable(d, "doc_id", "text")
      val mismatch = dfm.select(col("term"), col("df").as("dfm"))
        .join(full.select(col("term"), col("df").as("dff")),
          Seq("term"), "full_outer")
        .agg(sum(when(col("dfm") <=> col("dff"), 0L).otherwise(1L))
          .as("n_df_mismatch"))
      TextAnalysis.bm25TopDocsFromStats(odds, "doc_id", "text",
          Seq("dup", "merge", "vector"), dfm, tot,
          k1 = 1.2, b = 0.75, k = 25)
        .crossJoin(broadcast(mismatch))
        .orderBy("rk")
    },
    () => bm25IncrSql),
    QuerySpec("q_bm25_retract", (s, dir) => {
      // SEARCH-INDEX STATS RETRACTION (TextAnalysis.dfTableRetract/
      // docStatsRetract) — the IR member of the deletion story: df and
      // the corpus totals are pure sums, so subtracting the takedown
      // docs' own stats (doc_id ≡ 0 mod 6, recomputed from their text)
      // leaves exactly the survivors' tables — term for term, total
      // for total — and the oracle IS that independent survivors
      // build (it never sees the subtraction). Terms a takedown
      // extinguishes leave the table; negative df raises inside the
      // op (the cmsSubtractGrids contract). Corpus-wide idf stays
      // honest after takedowns without a history rescan.
      val d = t(s, dir, "documents")
      val evens = d.where(pmod(col("doc_id"), lit(2)) === 0)
      val removed = evens.where(pmod(col("doc_id"), lit(6)) === 0)
      val dfs = TextAnalysis.dfTableRetract(
        TextAnalysis.dfTable(evens, "doc_id", "text"), removed,
        "doc_id", "text")
      val tot = TextAnalysis.docStatsRetract(
        TextAnalysis.docStats(evens, "doc_id", "text"), removed,
        "doc_id", "text")
      dfs.crossJoin(broadcast(tot))
        .select(col("term"), col("df"), col("n_docs"), col("sum_dl"))
        .orderBy("term")
    },
    // BM25-stats retraction oracle: the survivors' df table and totals
    // computed DIRECTLY (never seeing the subtraction) — equality is
    // the sums-subtract law, term for term.
    () =>
      raw"""WITH toks AS (SELECT doc_id,
                              list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS ts
                       FROM documents
                       WHERE doc_id % 2 = 0 AND doc_id % 6 <> 0),
              dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
                      FROM (SELECT doc_id, unnest(list_distinct(ts)) AS term
                            FROM toks)
                      GROUP BY term),
              tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                             CAST(sum(len(ts)) AS BIGINT) AS sum_dl
                      FROM toks)
         SELECT term, df, n_docs, sum_dl
         FROM dfq CROSS JOIN tot ORDER BY term"""),
    QuerySpec("q_inverted", (s, dir) => {
      // Inverted index over the 20 rarest terms (postings capped at
      // 100): per-doc term dedup is in-row (no (doc,term) distinct
      // shuffle), the term list broadcasts, lists are bounded. Output
      // exploded to scalar rows so the driver hash sees plain columns.
      TextAnalysis.invertedIndex(t(s, dir, "documents"), "doc_id", "text",
          numTerms = 20, maxPostings = 100)
        .orderBy("term", "pos")
    },
    () =>
      """WITH toks AS (SELECT doc_id,
                              unnest(list_distinct(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> ''))) AS term
                       FROM documents),
              dfreq AS (SELECT term, count(*) AS df FROM toks GROUP BY term),
              rare AS (SELECT term, df FROM dfreq ORDER BY df, term LIMIT 20),
              posts AS (SELECT term, df,
                               list_sort(list(doc_id))[1:100] AS ps
                        FROM toks JOIN rare USING (term) GROUP BY term, df)
         SELECT term, df, CAST(i AS INTEGER) AS pos, ps[CAST(i AS INTEGER)] AS doc_id
         FROM posts, unnest(range(1, len(ps)+1)) AS t(i)
         ORDER BY term, pos"""),
    QuerySpec("q_repetition", (s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
          TextAnalysis.repetitionRatio(col("text")).as("rep_ratio"))
        .orderBy("doc_id")
    },
    () =>
      """WITH d AS (SELECT doc_id, regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g') AS t FROM documents),
              g AS (SELECT doc_id,
                           list_transform(range(1, greatest(length(t)-4,1)+1),
                                          i -> substr(t, CAST(i AS INTEGER), 5)) AS grams
                    FROM d)
         SELECT doc_id, 1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams) AS rep_ratio
         FROM g ORDER BY doc_id"""),
    QuerySpec("q_split", (s, dir) => {
      TextAnalysis.withSplit(t(s, dir, "documents"), "text")
        .groupBy(col("split")).agg(count(lit(1)).as("n"))
        .orderBy("split")
    },
    () =>
      raw"""WITH d AS (SELECT regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g') AS norm FROM documents),
              h AS (SELECT ${rollingHashSql("norm")} AS v
                    FROM d),
              sgn AS (SELECT ${signedSql("v")} AS sv
                      FROM h),
              b AS (SELECT CAST(((sv % 100) + 100) % 100 AS INTEGER) AS bucket FROM sgn),
              s AS (SELECT CASE WHEN bucket < 5 THEN 'val'
                                WHEN bucket < 10 THEN 'test'
                                ELSE 'train' END AS split FROM b)
         SELECT split, count(*) AS n FROM s GROUP BY split ORDER BY split"""),
    QuerySpec("q_mix", (s, dir) => {
      // Stratified mixing: downweight src0 hard, src1 mildly, keep 80%
      // of everything else — decided by content-hash bucket, so the
      // oracle replays the exact same cut.
      TextAnalysis.mixCorpus(t(s, dir, "documents"), "text", "source",
          rates = Map("src0" -> 0.2, "src1" -> 0.5), defaultRate = 0.8)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    },
    () =>
      raw"""WITH d AS (SELECT doc_id, source, regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g') AS norm FROM documents),
              h AS (SELECT doc_id, source,
                           ${rollingHashSql("norm")} AS v
                    FROM d),
              sgn AS (SELECT doc_id, source,
                             ${signedSql("v")} AS sv
                      FROM h),
              b AS (SELECT doc_id, source, CAST(((sv % 1000) + 1000) % 1000 AS INTEGER) AS bucket FROM sgn)
         SELECT doc_id, source FROM b
         WHERE bucket < CASE source WHEN 'src0' THEN 200 WHEN 'src1' THEN 500 ELSE 800 END
         ORDER BY doc_id"""),
    QuerySpec("q_pack", (s, dir) => {
      // Sequence packing into 2048-token context windows, one stream
      // per source (concat-and-chunk; see TextAnalysis.packSequences).
      val docs = t(s, dir, "documents")
      TextAnalysis.packSequences(docs, "doc_id",
          TextAnalysis.whitespaceTokenCount(col("text")), "source", 2048L)
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("pack_id"), col("pack_offset"), col("spans_packs"))
        .orderBy("doc_id")
    },
    () =>
      """WITH tk AS (SELECT doc_id, source,
                            CAST(len(list_filter(string_split_regex(text, '[ \t\n\x0B\f\r]+'), x -> x <> '')) AS BIGINT) AS n_tokens
                     FROM documents),
              c AS (SELECT doc_id, source, n_tokens,
                           CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS ce
                    FROM tk)
         SELECT doc_id, source, n_tokens,
                ce // 2048 AS pack_id,
                ce % 2048 AS pack_offset,
                (n_tokens > 0 AND (ce + n_tokens - 1) // 2048 > ce // 2048) AS spans_packs
         FROM c ORDER BY doc_id"""),
    QuerySpec("q_dataset_card", (s, dir) => {
      // DATASET CARD — the one-row release summary every dataset
      // ships: sizes, token mass, exact-dup rate (distinct content
      // fingerprints — computed as its OWN distinct+count pass, not a
      // fused countDistinct, dodging the q_profile Expand), dominant
      // language and its share. Two narrow passes + two 1-row
      // broadcasts; every ratio is one fixed-order division of exact
      // longs.
      val base = t(s, dir, "documents").select(col("lang"),
        TextAnalysis.fingerprint(col("text")).as("fp"),
        length(col("text")).cast(LongType).as("nc"),
        TextAnalysis.whitespaceTokenCount(col("text")).cast(LongType)
          .as("nt"))
      val agg = base.agg(count(lit(1)).as("n_docs"),
        sum(col("nc")).as("n_chars"), sum(col("nt")).as("n_tokens_ws"))
      val uniq = base.select(col("fp")).distinct()
        .agg(count(lit(1)).as("n_unique_texts"))
      val top = base.groupBy(col("lang")).agg(count(lit(1)).as("nl"))
        .orderBy(col("nl").desc, col("lang")).limit(1)
        .select(col("lang").as("top_lang"), col("nl").as("top_lang_n"))
      agg.crossJoin(broadcast(uniq)).crossJoin(broadcast(top))
        .select(col("n_docs"), col("n_chars"), col("n_tokens_ws"),
          col("n_unique_texts"),
          (lit(1.0) - col("n_unique_texts").cast(DoubleType) /
            col("n_docs").cast(DoubleType)).as("dup_rate"),
          (col("n_chars").cast(DoubleType) /
            col("n_docs").cast(DoubleType)).as("mean_doc_chars"),
          col("top_lang"),
          (col("top_lang_n").cast(DoubleType) /
            col("n_docs").cast(DoubleType)).as("top_lang_share"))
    },
    // Card replay: whitespace-normalized distinct texts == distinct
    // fingerprints absent 2^-64 collisions (the span-dedup precedent);
    // ratios in the identical cast/divide order.
    () =>
      raw"""WITH b AS (SELECT lang,
                              regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g') AS norm,
                              CAST(length(text) AS BIGINT) AS nc,
                              CAST(len(list_filter(string_split_regex(text, '[ \t\n\x0B\f\r]+'), x -> x <> '')) AS BIGINT) AS nt
                       FROM documents),
               a AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                            CAST(sum(nc) AS BIGINT) AS n_chars,
                            CAST(sum(nt) AS BIGINT) AS n_tokens_ws,
                            CAST(count(DISTINCT norm) AS BIGINT) AS n_unique_texts
                     FROM b),
               lg AS (SELECT lang, CAST(count(*) AS BIGINT) AS nl
                      FROM b GROUP BY lang ORDER BY nl DESC, lang LIMIT 1)
          SELECT n_docs, n_chars, n_tokens_ws, n_unique_texts,
                 CAST(1.0 AS DOUBLE) - CAST(n_unique_texts AS DOUBLE) / CAST(n_docs AS DOUBLE) AS dup_rate,
                 CAST(n_chars AS DOUBLE) / CAST(n_docs AS DOUBLE) AS mean_doc_chars,
                 lang AS top_lang,
                 CAST(nl AS DOUBLE) / CAST(n_docs AS DOUBLE) AS top_lang_share
          FROM a, lg"""),
    QuerySpec("q_dataset_card_tokens", (s, dir) => {
      // TOKEN-ACCURATE dataset economics (Tokenizer.bpeMergesLocal +
      // bpeEncode feeding the card): q_dataset_card counts whitespace
      // words, but training budgets are set in TOKENIZER tokens — this
      // card trains the 64-rule table in-engine (the driver-local fast
      // path), encodes every doc through the graft_bpe_apply kernel,
      // and reports per-lang token mass: docs, whitespace tokens, BPE
      // tokens, alpha codepoints, tokens-per-word inflation, and each
      // lang's share of the corpus TOKEN budget (the number a mixing
      // policy actually allocates). Oracle re-derives the table and
      // replays the encode join (the q_bpe_encode form) — no stamped
      // rules.
      val d = t(s, dir, "documents")
      val rules = Tokenizer.bpeMergesLocal(d, "text", rounds = 64)
        .orderBy("round").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val enc = Tokenizer.bpeEncode(d, "doc_id", "text", rules)
      val perDoc = d.select(col("doc_id"), col("lang"),
          TextAnalysis.whitespaceTokenCount(col("text")).cast(LongType)
            .as("nt"))
        .join(enc, Seq("doc_id"))
      val byLang = perDoc.groupBy(col("lang")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("nt")).as("n_tokens_ws"),
        sum(col("n_bpe")).as("n_tokens_bpe"),
        sum(col("n_chars_alpha")).as("n_chars_alpha"))
      val tot = byLang.agg(sum(col("n_tokens_bpe")).as("tot_bpe"))
      byLang.crossJoin(broadcast(tot))
        .select(col("lang"), col("n_docs"), col("n_tokens_ws"),
          col("n_tokens_bpe"), col("n_chars_alpha"),
          (col("n_tokens_bpe").cast(DoubleType) /
            col("n_tokens_ws").cast(DoubleType)).as("bpe_per_ws"),
          (col("n_tokens_bpe").cast(DoubleType) /
            col("tot_bpe").cast(DoubleType)).as("token_share"))
        .orderBy("lang")
    },
    // Token-card replay: the 64-round trained chain (bpeCtesSql) +
    // the q_bpe_encode docw/w64 join for per-doc BPE counts, then
    // per-lang exact long sums and fixed-order share divisions.
    () =>
      raw"""WITH ${bpeCtesSql(64)},
              docw AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS cnt
                       FROM (SELECT doc_id, unnest(list_filter(
                               string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
                               x -> x <> '')) AS w
                             FROM documents)
                       GROUP BY 1, 2),
              pd AS (SELECT d.doc_id,
                            CAST(sum(d.cnt * length(d.w)) AS BIGINT) AS n_chars_alpha,
                            CAST(sum(d.cnt * len(f.syms)) AS BIGINT) AS n_bpe
                     FROM docw d JOIN w64 f ON d.w = f.w
                     GROUP BY d.doc_id),
              wt AS (SELECT doc_id, lang,
                            CAST(len(list_filter(string_split_regex(text, '[ \t\n\x0B\f\r]+'), x -> x <> '')) AS BIGINT) AS nt
                     FROM documents),
              bl AS (SELECT w.lang, CAST(count(*) AS BIGINT) AS n_docs,
                            CAST(sum(w.nt) AS BIGINT) AS n_tokens_ws,
                            CAST(sum(p.n_bpe) AS BIGINT) AS n_tokens_bpe,
                            CAST(sum(p.n_chars_alpha) AS BIGINT) AS n_chars_alpha
                     FROM wt w JOIN pd p ON p.doc_id = w.doc_id
                     GROUP BY w.lang),
              tt AS (SELECT CAST(sum(n_tokens_bpe) AS BIGINT) AS tot FROM bl)
         SELECT lang, n_docs, n_tokens_ws, n_tokens_bpe, n_chars_alpha,
                CAST(n_tokens_bpe AS DOUBLE) / CAST(n_tokens_ws AS DOUBLE) AS bpe_per_ws,
                CAST(n_tokens_bpe AS DOUBLE) / CAST(tot AS DOUBLE) AS token_share
         FROM bl, tt ORDER BY lang"""),
    QuerySpec("q_mix_tokens", (s, dir) => {
      // TOKEN-WEIGHTED temperature mixing (TextAnalysis
      // .temperatureMixWeighted): q_mix_temperature rebalances by DOC
      // counts; here the sqrt-temperature rates derive from each
      // lang's BPE TOKEN mass (the trained 64-rule table, kernel
      // encode) — the budget unit training actually spends. Selection
      // still keeps whole docs via the same content-hash cut, so the
      // artifact rows carry each kept doc's token count and the
      // oracle recomputes rates, cuts, and buckets end to end.
      val d = t(s, dir, "documents")
      val rules = Tokenizer.bpeMergesLocal(d, "text", rounds = 64)
        .orderBy("round").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val enc = Tokenizer.bpeEncode(d, "doc_id", "text", rules)
      val dw = d.select(col("doc_id"), col("lang"), col("text"))
        .join(enc.select(col("doc_id"), col("n_bpe")), Seq("doc_id"))
      TextAnalysis.temperatureMixWeighted(dw, "text", "lang",
          col("n_bpe"), targetFraction = 0.5)
        .select(col("doc_id"), col("lang"), col("n_bpe"))
        .orderBy("doc_id")
    },
    // Token-weighted mix replay: the q_mix_temperature chain with the
    // counts CTE swapped for per-lang BPE token sums (from the same
    // trained-table encode join), identical sqrt fold and integer
    // cuts, then the same content-hash bucket filter.
    () =>
      raw"""WITH ${bpeCtesSql(64)},
              docw AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS cnt
                       FROM (SELECT doc_id, unnest(list_filter(
                               string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
                               x -> x <> '')) AS w
                             FROM documents)
                       GROUP BY 1, 2),
              pd AS (SELECT d.doc_id,
                            CAST(sum(d.cnt * len(f.syms)) AS BIGINT) AS n_bpe
                     FROM docw d JOIN w64 f ON d.w = f.w
                     GROUP BY d.doc_id),
              counts AS (SELECT d.lang, CAST(sum(p.n_bpe) AS BIGINT) AS n
                         FROM documents d JOIN pd p USING (doc_id)
                         GROUP BY d.lang),
              tots AS (SELECT CAST(sum(n) AS BIGINT) AS ntot,
                              list_sum(list_transform(list(n ORDER BY lang),
                                       x -> sqrt(CAST(x AS DOUBLE)))) AS s
                       FROM counts),
              cuts AS (SELECT c.lang,
                              CAST(floor(least(CAST(1.0 AS DOUBLE),
                                     ((CAST(0.5 AS DOUBLE) * t.ntot) * sqrt(CAST(c.n AS DOUBLE)))
                                     / (t.s * CAST(c.n AS DOUBLE))) * 1000
                                   + CAST(0.5 AS DOUBLE)) AS INTEGER) AS cut
                       FROM counts c, tots t),
              d AS (SELECT doc_id, lang, regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g') AS norm FROM documents),
              h AS (SELECT doc_id, lang, ${rollingHashSql("norm")} AS v FROM d),
              sgn AS (SELECT doc_id, lang, ${signedSql("v")} AS sv FROM h),
              b AS (SELECT doc_id, lang, CAST(((sv % 1000) + 1000) % 1000 AS INTEGER) AS bucket FROM sgn)
         SELECT b.doc_id, b.lang, p.n_bpe FROM b
         JOIN cuts USING (lang) JOIN pd p USING (doc_id)
         WHERE b.bucket < cut ORDER BY b.doc_id"""),
    QuerySpec("q_span_dedup", (s, dir) => {
      // C4-style exact span dedup (TextAnalysis.spanDedup): all but
      // one occurrence of any repeated 10-token span removed corpus-
      // wide, deterministic min-(doc,pos) keeper — the SUB-document
      // dedup mode whole-doc dedup misses (a shared boilerplate block
      // between two mostly-different docs). 127 repeated spans at
      // sf0.01 make removal non-vacuous; counts shuffle as 64-bit
      // fingerprints, the frequent-span frame broadcasts back.
      TextAnalysis.spanDedup(t(s, dir, "documents"), "doc_id", "text",
          spanWords = 10, minCount = 2)
        .orderBy("doc_id")
    },
    // Span-dedup replay: same tokenizer, non-overlapping 10-token
    // windows via lateral range, per-SPAN count + min-(doc,pos) keeper
    // (hash-free grouping — collision-free equivalence to the
    // fingerprint-keyed Spark shuffle), ordered reassembly.
    () =>
      raw"""WITH t AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
                       FROM documents),
               occ AS (SELECT doc_id, CAST(u.i AS INTEGER) AS pos,
                              array_to_string(toks[CAST(u.i*10+1 AS INTEGER) : CAST(u.i*10+10 AS INTEGER)], ' ') AS span
                       FROM t, unnest(range(0, CAST((len(toks) + 9) // 10 AS INTEGER))) AS u(i)
                       WHERE len(toks) > 0),
               fq AS (SELECT span, count(*) AS n,
                             min({'d': doc_id, 'p': pos}) AS kp
                      FROM occ GROUP BY span),
               kept AS (SELECT o.doc_id, o.pos, o.span
                        FROM occ o JOIN fq f ON f.span = o.span
                        WHERE f.n < 2
                           OR (o.doc_id = (f.kp).d AND o.pos = (f.kp).p)),
               re AS (SELECT doc_id, count(*) AS n_kept,
                             array_to_string(list(span ORDER BY pos), ' ') AS text_clean
                      FROM kept GROUP BY doc_id),
               ns AS (SELECT doc_id, count(*) AS n_spans FROM occ GROUP BY doc_id)
          SELECT d.doc_id,
                 coalesce(ns.n_spans, 0) AS n_spans,
                 coalesce(ns.n_spans, 0) - coalesce(re.n_kept, 0) AS n_removed,
                 coalesce(re.text_clean, '') AS text_clean
          FROM documents d LEFT JOIN ns USING (doc_id) LEFT JOIN re USING (doc_id)
          ORDER BY doc_id"""),
    QuerySpec("q_scrub", (s, dir) => {
      // PII scrub. The synthetic corpus carries no URLs/emails/numbers,
      // so every 3rd doc gets a deterministic PII-bearing suffix
      // (constructed identically in the oracle SQL) — the hash compare
      // then verifies actual redaction, not identity.
      val withPii = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(pmod(col("doc_id"), lit(3)) === 0,
            concat(lit(" mail u"), col("doc_id").cast(StringType),
              lit("@host.example see https://ex.example/d/"),
              col("doc_id").cast(StringType), lit("?x=1 ref 9001002003")))
            .otherwise(lit(""))).as("text"))
      withPii.select(col("doc_id"),
          TextAnalysis.scrub(col("text")).as("scrubbed"))
        .orderBy("doc_id")
    },
    () =>
      """WITH w AS (SELECT doc_id,
                           text || CASE WHEN doc_id % 3 = 0
                                        THEN ' mail u' || CAST(doc_id AS VARCHAR) || '@host.example see https://ex.example/d/'
                                             || CAST(doc_id AS VARCHAR) || '?x=1 ref 9001002003'
                                        ELSE '' END AS text
                    FROM documents)
         SELECT doc_id,
                regexp_replace(
                  regexp_replace(
                    regexp_replace(text, 'https?://[^ \t\n\r\f\x0B]+', '<URL>', 'g'),
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                  '[0-9]{9,}', '<NUM>', 'g') AS scrubbed
         FROM w ORDER BY doc_id"""),
    QuerySpec("q_luhn_scrub", (s, dir) => {
      // Luhn-validated card redaction (TextAnalysis.luhnScrub): the
      // precision refinement of q_scrub's bare digit regex — only
      // checksum-valid card-length runs redact; order-id-like runs
      // stay. Every 3rd doc gets a VALID test PAN, every 3rd+1 an
      // INVALID one digit off (plus a short run below card length) —
      // both branches and the no-op branch exercised, suffixes built
      // identically in the oracle (the q_scrub recipe).
      val withPii = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(pmod(col("doc_id"), lit(3)) === 0,
            lit(" card 4111111111111111 ok"))
            .when(pmod(col("doc_id"), lit(3)) === 1,
              lit(" ref 4111111111111112 id 9001002003"))
            .otherwise(lit(""))).as("text"))
      withPii.select(col("doc_id"),
          TextAnalysis.luhnScrub(col("text")).as("scrubbed"),
          size(TextAnalysis.cardCandidates(col("text")))
            .as("n_candidates"),
          size(filter(TextAnalysis.cardCandidates(col("text")),
            TextAnalysis.luhnValid _)).as("n_valid"))
        .orderBy("doc_id")
    },
    // Luhn-scrub replay: identical candidate extraction (maximal digit
    // runs length-filtered — RE2 has no lookbehind, so maximal-run
    // candidacy is the cross-engine form), the same mod-10 checksum in
    // list arithmetic, and the same valid-list replace fold.
    () =>
      """WITH wp AS (SELECT doc_id,
                          text || CASE WHEN doc_id % 3 = 0
                                       THEN ' card 4111111111111111 ok'
                                       WHEN doc_id % 3 = 1
                                       THEN ' ref 4111111111111112 id 9001002003'
                                       ELSE '' END AS text
                   FROM documents),
              cand AS (SELECT doc_id, text,
                              list_filter(regexp_extract_all(text, '[0-9]+'),
                                c -> length(c) BETWEEN 13 AND 19) AS cands
                       FROM wp),
              v AS (SELECT doc_id, text, cands,
                           list_filter(cands, c ->
                             list_sum(list_transform(range(1, length(c) + 1), i ->
                               CASE WHEN i % 2 = 0
                                    THEN CASE WHEN (ascii(substr(reverse(c), CAST(i AS INTEGER), 1)) - 48) * 2 > 9
                                              THEN (ascii(substr(reverse(c), CAST(i AS INTEGER), 1)) - 48) * 2 - 9
                                              ELSE (ascii(substr(reverse(c), CAST(i AS INTEGER), 1)) - 48) * 2 END
                                    ELSE ascii(substr(reverse(c), CAST(i AS INTEGER), 1)) - 48 END))
                               % 10 = 0) AS valid
                    FROM cand)
         SELECT doc_id,
                list_reduce(list_prepend(text, valid),
                  (a, b) -> replace(a, b, '<CC>')) AS scrubbed,
                CAST(len(cands) AS INTEGER) AS n_candidates,
                CAST(len(valid) AS INTEGER) AS n_valid
         FROM v ORDER BY doc_id"""),
    QuerySpec("q_normalize", (s, dir) => {
      // Deterministic text normalization (TextAnalysis.normalizeText):
      // the cleaning stage that runs before q_lm_score/q_dsir see the
      // text. The corpus is clean ASCII, so each doc_id%4 class
      // appends a distinct deterministic dirt suffix (normDirt —
      // rebuilt code-point-for-code-point in the oracle via chr()):
      // two mojibake batches covering all nine repair rows, an
      // invisible-junk string, an exotic-whitespace string — the hash
      // compare verifies actual repair/strip/collapse, not identity.
      // n_raw/n_norm expose the cleaned-off volume per doc.
      val m = pmod(col("doc_id"), lit(4))
      val dirt = when(m === 0, lit(normDirt(0)))
        .when(m === 1, lit(normDirt(1)))
        .when(m === 2, lit(normDirt(2)))
        .otherwise(lit(normDirt(3)))
      t(s, dir, "documents")
        .select(col("doc_id"), concat(col("text"), dirt).as("text"))
        .select(col("doc_id"), col("text"),
          TextAnalysis.normalizeText(col("text")).as("norm"))
        .select(col("doc_id"), col("norm"),
          length(col("text")).as("n_raw"),
          length(col("norm")).as("n_norm"))
        .orderBy("doc_id")
    },
    // Normalization replay: identical dirt injection (chr()-built, so
    // the SQL stays ASCII), then the generated normalizeSqlExpr chain
    // — repair fold off the ONE shared table, \x{...} strip/collapse
    // classes, closing trim.
    () =>
      raw"""WITH w AS (SELECT doc_id, text || $normDirtCaseSql AS text
                     FROM documents),
              n AS (SELECT doc_id, text,
                           ${normalizeSqlExpr("text")} AS norm
                    FROM w)
         SELECT doc_id, norm,
                CAST(length(text) AS INTEGER) AS n_raw,
                CAST(length(norm) AS INTEGER) AS n_norm
         FROM n ORDER BY doc_id"""),
    QuerySpec("q_oov", (s, dir) => {
      // Out-of-vocabulary rate (TextAnalysis.oovRate): per-source
      // token mass outside the top-20 vocabulary of the even-doc
      // train slice — the cheap corpus-compatibility indicator read
      // before mixing a source in (k=20 < the 31-token closed vocab,
      // so real OOV mass exists at any SF).
      val d = t(s, dir, "documents")
      TextAnalysis.oovRate(
          d.where(pmod(col("doc_id"), lit(2)) === 0),
          d.where(pmod(col("doc_id"), lit(2)) === 1),
          "source", "text", k = 20)
        .select(col("grp").as("source"), col("n_tokens"), col("n_oov"),
          col("oov_rate"))
        .orderBy("source")
    },
    // OOV replay: same tokenization, same total-order top-k vocab,
    // broadcast-shaped left join, one division.
    () =>
      raw"""WITH ts AS (SELECT doc_id, source,
                           list_filter(string_split_regex(lower(text),
                             '[^\p{L}\p{N}]+'), x -> x <> '') AS t
                    FROM documents),
              tr AS (SELECT unnest(t) AS w FROM ts WHERE doc_id % 2 = 0),
              vc AS (SELECT w, count(*) AS cnt FROM tr GROUP BY w
                     ORDER BY cnt DESC, w LIMIT 20),
              ev AS (SELECT source AS grp, unnest(t) AS w FROM ts
                     WHERE doc_id % 2 = 1),
              j AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_tokens,
                           CAST(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END)
                                AS BIGINT) AS n_oov
                    FROM ev LEFT JOIN vc v ON ev.w = v.w
                    GROUP BY grp)
         SELECT grp AS source, n_tokens, n_oov,
                CAST(n_oov AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS oov_rate
         FROM j ORDER BY source"""),
    QuerySpec("q_url_norm", (s, dir) => {
      // URL canonicalization (Urls.urlKeys): the crawl dedup key. The
      // corpus has no URLs, so each doc_id%5 class builds one
      // deterministically (identically in the oracle): mixed-case
      // scheme/host, default + explicit ports, userinfo, scrambled
      // tracking params, fragments, trailing slashes, and a non-URL
      // row — the hash compare verifies actual canonicalization, and
      // the .co.uk row pins the DOCUMENTED two-label domain
      // approximation.
      val m = pmod(col("doc_id"), lit(5))
      val idS = col("doc_id").cast(StringType)
      val url = when(m === 0, concat(lit("HTTP://WWW.Site"), idS,
          lit(".Example.COM:80/Path/To/page?utm_source=x&b=2&a=1#frag")))
        .when(m === 1, concat(lit("https://api.EXAMPLE.com:443/v1/"),
          idS, lit("/?gclid=zz&z=9&y=8")))
        .when(m === 2,
          concat(lit("https://User.Name@Files.example.ORG:8443//x/"),
            idS, lit("/#sec")))
        .when(m === 3, concat(lit("http://example"), idS, lit(".co.uk")))
        .otherwise(lit("not a url at all"))
      graft.ops.Urls.urlKeys(
          t(s, dir, "documents").select(col("doc_id"), url.as("url")),
          "doc_id", "url")
        .orderBy("doc_id")
    },
    // URL replay: same dirt URLs, same anchored parse regex, the same
    // lowercase/port-strip/param-filter/sort/reassemble chain.
    () =>
      raw"""WITH w AS (SELECT doc_id,
                     CASE WHEN doc_id % 5 = 0 THEN 'HTTP://WWW.Site' || CAST(doc_id AS VARCHAR) || '.Example.COM:80/Path/To/page?utm_source=x&b=2&a=1#frag'
                          WHEN doc_id % 5 = 1 THEN 'https://api.EXAMPLE.com:443/v1/' || CAST(doc_id AS VARCHAR) || '/?gclid=zz&z=9&y=8'
                          WHEN doc_id % 5 = 2 THEN 'https://User.Name@Files.example.ORG:8443//x/' || CAST(doc_id AS VARCHAR) || '/#sec'
                          WHEN doc_id % 5 = 3 THEN 'http://example' || CAST(doc_id AS VARCHAR) || '.co.uk'
                          ELSE 'not a url at all' END AS url
                   FROM documents),
              g AS (SELECT doc_id, trim(url) AS u,
                           lower(regexp_extract(trim(url), '${graft.ops.Urls.UrlRe}', 1)) AS scheme,
                           regexp_extract(trim(url), '${graft.ops.Urls.UrlRe}', 2) AS auth,
                           regexp_extract(trim(url), '${graft.ops.Urls.UrlRe}', 3) AS rawpath,
                           regexp_extract(trim(url), '${graft.ops.Urls.UrlRe}', 4) AS q
                    FROM w),
              a AS (SELECT *, (strpos(auth, '@') > 0) AS hasu,
                           CASE WHEN strpos(auth, '@') > 0
                                THEN regexp_extract(auth, '^(.*)@[^@]*$$', 1) END AS usr,
                           lower(CASE WHEN strpos(auth, '@') > 0
                                      THEN regexp_extract(auth, '^.*@([^@]*)$$', 1)
                                      ELSE auth END) AS hostport
                    FROM g),
              b AS (SELECT *,
                           CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$$', '')
                                WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$$', '')
                                ELSE hostport END AS hp2
                    FROM a),
              c AS (SELECT doc_id, scheme, auth, q, hostport,
                           CASE WHEN hasu THEN usr || '@' || hp2 ELSE hp2 END AS cauth,
                           CASE WHEN rawpath = '' THEN '/'
                                WHEN rawpath <> '/' THEN regexp_replace(rawpath, '/$$', '')
                                ELSE rawpath END AS cpath
                    FROM b),
              d AS (SELECT doc_id, scheme, auth, hostport, cauth, cpath,
                           -- array_to_string over an EMPTY list is
                           -- NULL in DuckDB (Spark gives '') — coalesce
                           coalesce(array_to_string(list_sort(list_filter(
                             CASE WHEN q = '' THEN CAST([] AS VARCHAR[])
                                  ELSE string_split(q, '&') END,
                             x -> x <> '' AND NOT regexp_matches(x,
                               '^(utm_[^=]*|gclid|fbclid)(=|$$)'))), '&'),
                             '') AS cq
                    FROM c),
              n AS (SELECT doc_id,
                           CASE WHEN scheme IN ('http', 'https') AND auth <> ''
                                THEN scheme || '://' || cauth || cpath ||
                                     CASE WHEN cq = '' THEN ''
                                          ELSE '?' || cq END END AS url_norm,
                           CASE WHEN scheme IN ('http', 'https')
                                 AND regexp_extract(hostport, '^([^:]*)', 1) <> ''
                                THEN regexp_extract(hostport, '^([^:]*)', 1) END AS host
                    FROM d)
         SELECT doc_id, url_norm, host,
                CASE WHEN host IS NOT NULL
                     THEN regexp_extract(host, '([^.]+\.[^.]+)$$', 1) END AS domain,
                CASE WHEN url_norm IS NULL THEN NULL
                     ELSE CAST(len(list_filter(string_split(
                            regexp_extract(url_norm, '${graft.ops.Urls.UrlRe}', 3), '/'),
                            s -> s <> '')) AS INTEGER) END AS path_depth
         FROM n ORDER BY doc_id"""),
    QuerySpec("q_simpson", (s, dir) => {
      // Gini–Simpson lexical diversity per source
      // (TextAnalysis.simpsonDiversity): the log-free entropy stand-in
      // — 1 - sum(p^2) and the effective vocabulary 1/sum(p^2). Exact
      // Long sum of squared counts (loudly 2^53-guarded), two closing
      // divisions. Read next to q_vocab: types that EXIST vs types
      // DOING WORK.
      TextAnalysis.simpsonDiversity(t(s, dir, "documents"), "source",
          "text")
        .select(col("grp").as("source"), col("n_tokens"),
          col("n_distinct"), col("simpson"), col("eff_vocab"))
        .orderBy("source")
    },
    // Simpson replay: same tokenization, exact integer c^2 sum, the
    // same two closing divisions.
    () =>
      raw"""WITH tok AS (SELECT source AS grp,
                            unnest(list_filter(string_split_regex(lower(text),
                              '[^\p{L}\p{N}]+'), x -> x <> '')) AS t
                     FROM documents),
              c AS (SELECT grp, t, CAST(count(*) AS BIGINT) AS c
                    FROM tok GROUP BY 1, 2),
              a AS (SELECT grp, CAST(sum(c) AS BIGINT) AS n_tokens,
                           CAST(count(*) AS BIGINT) AS n_distinct,
                           CAST(sum(c * c) AS BIGINT) AS sc2
                    FROM c GROUP BY grp)
         SELECT grp AS source, n_tokens, n_distinct,
                CAST(1 AS DOUBLE) - CAST(sc2 AS DOUBLE)
                  / CAST(n_tokens * n_tokens AS DOUBLE) AS simpson,
                CAST(n_tokens * n_tokens AS DOUBLE)
                  / CAST(sc2 AS DOUBLE) AS eff_vocab
         FROM a ORDER BY source"""),
    QuerySpec("q_bpe", (s, dir) => {
      // BPE vocabulary induction (Tokenizer.bpeMerges): 12 tokenizer
      // merge rules trained on the documents corpus — the artifact
      // every LLM pipeline derives before it can count a token. The
      // corpus reduces to the distinct-word frequency table in one
      // count; rounds run on that table with a 1-row argmax collect
      // each (total order count DESC, l ASC, r ASC — ties replay).
      Tokenizer.bpeMerges(t(s, dir, "documents"), "text", rounds = 12)
        .orderBy("round")
    },
    // BPE replay: the full generated round chain (bpeCtesSql), then
    // the merge-table union — rounds past symbol exhaustion contribute
    // no row on either side.
    () =>
      raw"""WITH ${bpeCtesSql(12)}
         ${(1 to 12).map(r =>
        s"SELECT $r AS round, l, r, l || r AS merged, pc FROM top$r")
        .mkString("\n         UNION ALL ")}
         ORDER BY round"""),
    QuerySpec("q_bpe_local", (s, dir) => {
      // DRIVER-LOCAL BPE training (Tokenizer.bpeMergesLocal) — the
      // path that lifts the 256-round distributed ceiling: the
      // vocab-bounded distinct-word table collects once (loud
      // maxWords guard) and the Sennrich loop runs at memory speed —
      // 64 rounds here cost ONE Spark job total vs q_bpe's
      // round-trip-per-rule; 30k-rule production tables train the
      // same way. Bit-identical to bpeMerges round for round
      // (measured at sf0.01: identical 64-rule tables, 2.9s local vs
      // 12.5s distributed — and the gap grows linearly in rounds);
      // the oracle re-derives all 64 rounds in unrolled CTEs, and
      // rounds past symbol exhaustion emit nothing on either side.
      Tokenizer.bpeMergesLocal(t(s, dir, "documents"), "text",
          rounds = 64)
        .orderBy("round")
    },
    // Local-training replay: the SAME generated round chain, 64 deep —
    // if the driver-local loop's counts, UTF-8 tie-breaks, LTR fusion,
    // or exhaustion behavior deviated from the distributed/SQL
    // formulation anywhere in 64 rounds, the hash compare would catch
    // the first divergent round and every round after it.
    () =>
      raw"""WITH ${bpeCtesSql(64)}
         ${(1 to 64).map(r =>
        s"SELECT $r AS round, l, r, l || r AS merged, pc FROM top$r")
        .mkString("\n         UNION ALL ")}
         ORDER BY round"""),
    QuerySpec("q_bpe_encode", (s, dir) => {
      // Serving side of q_bpe (Tokenizer.bpeEncode): re-tokenize every
      // doc under the table q_bpe trains, reporting per-doc codepoint
      // vs BPE-token counts (the compression the tokenizer buys). The
      // merge rules are collected once (12 rows) and applied as the
      // same per-row HOF kernel; the oracle re-derives the rules and
      // joins docs to the final word table — full-pipeline replay.
      val d = t(s, dir, "documents")
      val rules = Tokenizer.bpeMerges(d, "text", rounds = 12)
        .orderBy("round").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      Tokenizer.bpeEncode(d, "doc_id", "text", rules)
        .orderBy("doc_id")
    },
    // Encode replay: the SAME trained chain, then per-doc word counts
    // joined to the FINAL word table — a word's BPE token count under
    // the table is just len(final syms), so the per-doc numbers follow
    // from the join (full-pipeline replay, no stamped rules).
    () =>
      raw"""WITH ${bpeCtesSql(12)},
              docw AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS cnt
                       FROM (SELECT doc_id, unnest(list_filter(
                               string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
                               x -> x <> '')) AS w
                             FROM documents)
                       GROUP BY 1, 2)
         SELECT d.doc_id,
                CAST(sum(d.cnt * length(d.w)) AS BIGINT) AS n_chars_alpha,
                CAST(sum(d.cnt * len(f.syms)) AS BIGINT) AS n_bpe
         FROM docw d JOIN w12 f ON d.w = f.w
         GROUP BY d.doc_id ORDER BY d.doc_id"""),
    QuerySpec("q_pack_chunks", (s, dir) => {
      // PER-CHUNK packing view (TextAnalysis.packChunks): q_pack says
      // where each DOC lands; this says what each CONTEXT WINDOW holds
      // — docs spanned, tokens, and the continuation fraction (the
      // padding-free packing's attention-bleed number, read before any
      // GPU-hour is spent). Same streams/tokenizer as q_pack; capacity
      // 512 so boundary crossings are well-exercised at sf0.01. Built
      // ON packSequences' own outputs — one cumsum definition, the two
      // views cannot drift.
      TextAnalysis.packChunks(t(s, dir, "documents"), "doc_id",
          TextAnalysis.whitespaceTokenCount(col("text")), "source", 512L)
        .orderBy("source", "pack_id")
    },
    // Per-chunk packing replay: q_pack's whitespace token count and
    // per-source window cumsum (ORDER BY doc_id — unique, so the frame
    // is deterministic), then the same integer chunk-span explode and
    // per-chunk sums, one closing division.
    () =>
      raw"""WITH tk AS MATERIALIZED (SELECT doc_id, source,
                   CAST(len(list_filter(string_split_regex(text, '[ \t\n\x0B\f\r]+'), x -> x <> '')) AS BIGINT) AS n_tok
                 FROM documents),
              co AS (SELECT doc_id, source, n_tok,
                   CAST(sum(n_tok) OVER w - n_tok AS BIGINT) AS start_off,
                   CAST(sum(n_tok) OVER w AS BIGINT) AS end_off
                 FROM tk WINDOW w AS (PARTITION BY source ORDER BY doc_id)),
              sp AS (SELECT source, start_off, end_off,
                   CAST(unnest(range(start_off // 512, (end_off - 1) // 512 + 1)) AS BIGINT) AS pack_id
                 FROM co WHERE n_tok > 0),
              ag AS (SELECT source, pack_id,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(least(end_off, (pack_id + 1) * 512) -
                            greatest(start_off, pack_id * 512)) AS BIGINT) AS n_tokens,
                   CAST(sum(CASE WHEN start_off < pack_id * 512 THEN 1 ELSE 0 END) AS BIGINT) AS n_continued,
                   CAST(sum(CASE WHEN start_off < pack_id * 512
                            THEN least(end_off, (pack_id + 1) * 512) - greatest(start_off, pack_id * 512)
                            ELSE 0 END) AS BIGINT) AS ct
                 FROM sp GROUP BY 1, 2)
         SELECT source, pack_id, n_docs, n_tokens, n_continued,
                CAST(ct AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS continuation_frac
         FROM ag ORDER BY source, pack_id"""),
    QuerySpec("q_langid_eval", (s, dir) => {
      // LangID self-evaluation (the q_ann_recall recipe on text): the
      // n-gram-marker classifier's confusion matrix against the corpus
      // lang labels, with each cell's share of its TRUE class — the
      // artifact that says where the heuristic misroutes before anyone
      // trusts a per-language pipeline split. The classifier is
      // deterministic, so every cell is an exact, oracle-able number.
      // On THIS corpus the matrix exposes a real data fact: the lang
      // LABELS sit on English-ish lorem text for every label (the
      // closed-vocabulary trap), so predictions are en/und across the
      // board — which is precisely the label-vs-content mismatch this
      // artifact exists to surface before a per-language split trusts
      // the label column. One narrow codegen'd scan + two slim
      // aggregates (<=36 cells).
      val docs = t(s, dir, "documents")
      val pred = docs.select(col("lang"),
        TextAnalysis.langId(col("text")).as("lang_pred"))
      val cm = pred.groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n"))
      val tot = pred.groupBy(col("lang")).agg(count(lit(1)).as("n_true"))
      cm.join(broadcast(tot), "lang")
        .select(col("lang"), col("lang_pred"), col("n"), col("n_true"),
          (col("n").cast(DoubleType) / col("n_true").cast(DoubleType))
            .as("share"))
        .orderBy("lang", "lang_pred")
    },
    () =>
      raw"""WITH $langScoreCtesSql,
              p AS (SELECT d.lang, $langPredCaseSql AS lang_pred
                    FROM s JOIN documents d ON d.doc_id = s.doc_id),
              cm AS (SELECT lang, lang_pred, count(*) AS n
                     FROM p GROUP BY lang, lang_pred),
              tt AS (SELECT lang, count(*) AS n_true FROM p GROUP BY lang)
         SELECT cm.lang, cm.lang_pred, cm.n, tt.n_true,
                CAST(cm.n AS DOUBLE) / CAST(tt.n_true AS DOUBLE) AS share
         FROM cm JOIN tt USING (lang) ORDER BY lang, lang_pred"""),
    QuerySpec("q_lang_fingerprint", (s, dir) => {
      val docs = t(s, dir, "documents")
      docs.select(col("doc_id"),
          TextAnalysis.langId(col("text")).as("lang_pred"),
          TextAnalysis.fingerprint(col("text")).as("fingerprint"))
        .orderBy("doc_id")
    },
    () =>
      raw"""WITH $langScoreCtesSql,
              h AS (SELECT doc_id,
                           ${rollingHashSql("norm")} AS v
                    FROM t)
         SELECT s.doc_id,
                $langPredCaseSql AS lang_pred,
                CAST(${signedSql("h.v")} AS BIGINT) AS fingerprint
         FROM s JOIN h ON s.doc_id = h.doc_id ORDER BY s.doc_id"""),
    QuerySpec("q_novelty", (s, dir) => {
      // Cross-corpus trigram novelty (the cross-document twin of
      // q_repetition's within-document ratio): fraction of each doc's
      // distinct trigrams that no other document contains. One slim
      // (id, ngram) exchange carries the corpus df via a partition-only
      // window — no self-join, text never shuffles (pinned).
      TextAnalysis.ngramNovelty(t(s, dir, "documents"), "doc_id", "text", 3)
        .orderBy("doc_id")
    },
    () =>
      raw"""WITH tk AS (SELECT doc_id,
                               list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
                                           x -> x <> '') AS ts
                        FROM documents),
               tg AS (SELECT doc_id,
                             list_distinct(CASE WHEN len(ts) >= 3
                               THEN list_transform(range(1, len(ts) - 1),
                                      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])
                               ELSE [] END) AS gs
                      FROM tk),
               e AS (SELECT doc_id, unnest(gs) AS ngram FROM tg),
               d AS (SELECT ngram, count(*) AS df FROM e GROUP BY ngram),
               j AS (SELECT doc_id, count(*) AS n_ngrams,
                            CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique
                     FROM e JOIN d USING (ngram) GROUP BY doc_id)
          SELECT doc_id, n_ngrams, n_unique,
                 CAST(n_unique AS DOUBLE) / CAST(n_ngrams AS DOUBLE) AS novelty
          FROM j ORDER BY doc_id"""),
    QuerySpec("q_diversity", (s, dir) => {
      // Character-diversity quality gate: per-codepoint counts folded
      // to the Simpson collision probability in ONE codegen'd pass.
      // The expression-library phrasing (explode chars -> groupBy
      // (doc, char) -> re-aggregate) shuffles n_chars rows per
      // document — this kernel shuffles NOTHING (narrow scan +
      // presentation sort only, pinned). sum_sq and n_cp are exact
      // integers; simpson is one division of exactly-converted longs,
      // so the oracle's replay matches bit-for-bit.
      t(s, dir, "documents")
        .where(length(col("text")) > 0) // empty/NULL docs: the oracle's
        // per-char unnest yields no rows for them — exclude on BOTH
        // sides (kernel behavior for n=0 is spec-covered)
        .select(col("doc_id"),
          CharDiversityKernel.char_diversity(col("text")).as("cd"))
        .select(col("doc_id"), col("cd.n_cp").as("n_cp"),
          col("cd.n_distinct").as("n_distinct"),
          col("cd.sum_sq").as("sum_sq"), col("cd.simpson").as("simpson"))
        .orderBy("doc_id")
    },
    () =>
      """WITH ch AS (SELECT doc_id,
                            unnest(list_transform(range(1, length(text) + 1),
                                                  i -> substr(text, CAST(i AS INTEGER), 1))) AS c
                     FROM documents WHERE length(text) > 0),
              cnt AS (SELECT doc_id, c, count(*) AS k FROM ch GROUP BY doc_id, c),
              agg AS (SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_cp,
                             count(*) AS n_distinct,
                             CAST(sum(k * k) AS BIGINT) AS sum_sq
                      FROM cnt GROUP BY doc_id)
         SELECT doc_id, n_cp, n_distinct, sum_sq,
                CAST(sum_sq AS DOUBLE) /
                  (CAST(n_cp AS DOUBLE) * CAST(n_cp AS DOUBLE)) AS simpson
         FROM agg ORDER BY doc_id"""),
    QuerySpec("q_quality_gate", (s, dir) => {
      // Gopher-style composite quality gate: six rules, one bit each,
      // in a reasons bitmask — verdict AND per-rule audit trail from a
      // single shuffle-free narrow scan (pinned). Thresholds are tuned
      // so every bit fires at sf0.01 (8-58 docs each, 424/500 pass,
      // masks combine up to 47) — no vacuous branch. Each rule is one
      // IEEE division of exact integer counts vs a literal, replayed
      // bit-for-bit by the oracle.
      TextAnalysis.qualityGate(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    },
    // q_text_stats's proven stat replays, folded to the rule bitmask:
    // each threshold compares a single division of exact integer counts
    // against a literal, so the mask is bit-deterministic cross-engine.
    () =>
      """WITH f AS (
           SELECT doc_id,
                  CAST(length(text) AS BIGINT) AS n_chars,
                  CAST(len(list_filter(string_split_regex(text, '[ \t\n\x0B\f\r]+'), x -> x <> '')) AS BIGINT) AS n_tokens_ws,
                  CASE WHEN len(toks) > 0
                       THEN CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks)
                       ELSE 0.0 END AS mean_token_len,
                  CASE WHEN len(toks) > 0
                       THEN CAST(len(list_filter(toks, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','on','for','with','as','at','by'], x))) AS DOUBLE) / len(toks)
                       ELSE 0.0 END AS stopword_ratio,
                  CASE WHEN len(toks) > 0
                       THEN CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
                       ELSE 1.0 END AS distinct_ratio,
                  len(list_filter(list_distinct(toks), x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','on','for','with','as','at','by'], x))) AS n_distinct_stop
           FROM (SELECT doc_id, coalesce(text, '') AS text,
                        list_filter(string_split_regex(lower(coalesce(text, '')), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
                 FROM documents)),
         m AS (
           SELECT doc_id,
                  CAST((CASE WHEN n_chars < 80 THEN 1 ELSE 0 END)
                     + (CASE WHEN n_tokens_ws < 15 THEN 2 ELSE 0 END)
                     + (CASE WHEN mean_token_len < 4.0 OR mean_token_len > 5.0 THEN 4 ELSE 0 END)
                     + (CASE WHEN stopword_ratio < 0.02 THEN 8 ELSE 0 END)
                     + (CASE WHEN distinct_ratio < 0.30 THEN 16 ELSE 0 END)
                     + (CASE WHEN n_distinct_stop < 1 THEN 32 ELSE 0 END) AS BIGINT) AS reasons
           FROM f)
         SELECT doc_id, reasons, reasons = 0 AS passed
         FROM m ORDER BY doc_id"""),
    QuerySpec("q_mix_temperature", (s, dir) => {
      // Temperature-scaled (exponent 1/2) language rebalancing: kept
      // counts proportional to sqrt(n_lang) at ~50% total volume —
      // damps the English majority (rate ~0.35), boosts the smaller
      // languages (~0.65) — the multilingual-pretraining mix. The
      // derived rates are data-dependent, so unlike q_mix the oracle
      // COMPUTES the integer cuts too (sqrt is correctly rounded
      // everywhere; the sqrt-sum folds in lang order on both sides),
      // then replays the same content-hash cut.
      TextAnalysis.temperatureMix(t(s, dir, "documents"), "text", "lang",
          targetFraction = 0.5)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    },
    // Data-dependent cuts: counts -> sqrt-temperature rates -> the SAME
    // floor(rate*1000 + 0.5) integer cut mixCorpus applies. The sqrt
    // sum folds over langs in ASCENDING name order exactly like the
    // driver-side foldLeft; every factor is CAST to DOUBLE so DuckDB
    // cannot route the arithmetic through DECIMAL.
    () =>
      raw"""WITH counts AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
              tots AS (SELECT CAST(sum(n) AS BIGINT) AS ntot,
                              list_sum(list_transform(list(n ORDER BY lang),
                                       x -> sqrt(CAST(x AS DOUBLE)))) AS s
                       FROM counts),
              cuts AS (SELECT c.lang,
                              CAST(floor(least(CAST(1.0 AS DOUBLE),
                                     ((CAST(0.5 AS DOUBLE) * t.ntot) * sqrt(CAST(c.n AS DOUBLE)))
                                     / (t.s * CAST(c.n AS DOUBLE))) * 1000
                                   + CAST(0.5 AS DOUBLE)) AS INTEGER) AS cut
                       FROM counts c, tots t),
              d AS (SELECT doc_id, lang, regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g') AS norm FROM documents),
              h AS (SELECT doc_id, lang, ${rollingHashSql("norm")} AS v FROM d),
              sgn AS (SELECT doc_id, lang, ${signedSql("v")} AS sv FROM h),
              b AS (SELECT doc_id, lang, CAST(((sv % 1000) + 1000) % 1000 AS INTEGER) AS bucket FROM sgn)
         SELECT b.doc_id, b.lang FROM b JOIN cuts USING (lang)
         WHERE b.bucket < cut ORDER BY doc_id""")
  )
}

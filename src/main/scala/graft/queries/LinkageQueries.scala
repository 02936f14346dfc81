package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry.t
import graft.ops.{EntityResolution, SetSimJoin}

/** Record linkage and set-similarity joins from
  * [[graft.ops.EntityResolution]] and [[graft.ops.SetSimJoin]]. */
object LinkageQueries {

  /** Unrolled EM round CTEs replaying [[EntityResolution.fsEmWeights]]
    * over a pattern histogram CTE `h(pat BIGINT, cnt BIGINT)`: per
    * round one per-pattern posterior CTE (w = p * prod CASE-picked
    * m/1-m in FIELD ORDER — identical left-assoc tree), then every
    * M-step sum as a 0.0-seeded list_reduce over list(... ORDER BY
    * pat) — the exact operand sequence of the op's ascending-pattern
    * left folds — then the clamped updates. Emits `e0..e<iters>` CTE
    * defs followed by the per-round UNION ALL select (round, field,
    * m, u, p); the caller appends ORDER BY. All literals stamped via
    * Double.toString (the hyperplane-literal recipe). */
  private def emRoundsSql(fields: Seq[String], iters: Int,
      m0: Double, u0: Double, p0: Double): String = {
    val K = fields.size
    def d(x: Double) = s"CAST('${x.toString}' AS DOUBLE)"
    val eps = d(1e-6)
    val hi = d(1.0 - 1e-6)
    val e0 = (1 to K).map(k => s"${d(m0)} AS m$k, ${d(u0)} AS u$k")
      .mkString(", ") + s", ${d(p0)} AS p"
    def fold(expr: String) =
      s"list_reduce([CAST(0 AS DOUBLE)] || list($expr ORDER BY pat), " +
        "(a, b) -> a + b)"
    val rounds = (1 to iters).map { r =>
      val wm = (1 to K).map(k =>
        s"(CASE WHEN ((h.pat >> ${k - 1}) & 1) = 1 THEN e.m$k " +
          s"ELSE 1 - e.m$k END)").mkString(" * ")
      val wu = (1 to K).map(k =>
        s"(CASE WHEN ((h.pat >> ${k - 1}) & 1) = 1 THEN e.u$k " +
          s"ELSE 1 - e.u$k END)").mkString(" * ")
      val folds = s"${fold("g * CAST(cnt AS DOUBLE)")} AS sg, " +
        s"${fold("(1 - g) * CAST(cnt AS DOUBLE)")} AS sn, " +
        (1 to K).map { k =>
          val bit = s"((pat >> ${k - 1}) & 1) = 1"
          s"${fold(s"CASE WHEN $bit THEN g * CAST(cnt AS DOUBLE) " +
            "ELSE CAST(0 AS DOUBLE) END")} AS sg$k, " +
            s"${fold(s"CASE WHEN $bit THEN (1 - g) * CAST(cnt AS DOUBLE) " +
              "ELSE CAST(0 AS DOUBLE) END")} AS su$k"
        }.mkString(", ")
      val upd = (1 to K).map(k =>
        s"least(greatest(sg$k / sg, $eps), $hi) AS m$k, " +
          s"least(greatest(su$k / sn, $eps), $hi) AS u$k").mkString(", ") +
        s", least(greatest(sg / (sg + sn), $eps), $hi) AS p"
      s"""g$r AS MATERIALIZED (
            SELECT pat, cnt, w / (w + v) AS g
            FROM (SELECT h.pat, h.cnt, e.p * $wm AS w,
                         (1 - e.p) * $wu AS v
                  FROM h CROSS JOIN e${r - 1} e)),
          s$r AS MATERIALIZED (SELECT $folds FROM g$r),
          e$r AS MATERIALIZED (SELECT $upd FROM s$r)"""
    }.mkString(",\n          ")
    val sel = (1 to iters).flatMap { r =>
      fields.zipWithIndex.map { case (f, i) =>
        s"SELECT $r AS round, '$f' AS field, m${i + 1} AS m, " +
          s"u${i + 1} AS u, p FROM e$r" }
    }.mkString("\n         UNION ALL ")
    s"e0 AS (SELECT $e0),\n          $rounds\n         $sel"
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_linkage_fs", (s, dir) => {
      // Fellegi–Sunter probabilistic linkage over p_type blocks: three
      // fields with (m, u) evidence weights — a rare-field agreement
      // outweighs common-field ones, which a fixed agree-count cannot
      // express. Raw-odds product in field order (log-free, bit-
      // replayable); two-threshold decision rule, nonmatch mass dies
      // inside the join task. All classes non-vacuous at sf0.01:
      // 21 match / 1735 possible / 331k+ nonmatch (dropped).
      val p = t(s, dir, "part")
        .withColumn("p_name5", substring(col("p_name"), 1, 5))
      EntityResolution.fsScorePairs(p, "p_partkey", col("p_type"),
          fields = Seq(("p_brand", 0.9, 0.04), ("p_size", 0.85, 0.02),
            ("p_name5", 0.95, 0.08)),
          matchOdds = 1000.0, possibleOdds = 10.0)
        .select(col("id_a"), col("id_b"), col("n_agree"),
          round(col("score"), 4).as("score"), col("decision"))
        .orderBy("id_a", "id_b")
    },
    // FS linkage replay: same blocked pair scan, null-safe agreement,
    // the identical left-assoc double product (ratios as STRING-cast
    // doubles — correctly-rounded parse, not the decimal-literal path).
    () =>
      s"""WITH p AS (SELECT p_partkey, p_type, p_brand, p_size,
                            substr(p_name, 1, 5) AS p_name5 FROM part),
              pr AS (SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
                            (a.p_brand IS NOT DISTINCT FROM b.p_brand) AS ab,
                            (a.p_size IS NOT DISTINCT FROM b.p_size) AS asz,
                            (a.p_name5 IS NOT DISTINCT FROM b.p_name5) AS an
                     FROM p a JOIN p b
                       ON a.p_type = b.p_type AND a.p_partkey < b.p_partkey),
              sc AS (SELECT id_a, id_b,
                            CAST(CAST(ab AS INTEGER) + CAST(asz AS INTEGER)
                                 + CAST(an AS INTEGER) AS BIGINT) AS n_agree,
                            CAST(1.0 AS DOUBLE)
                              * CASE WHEN ab THEN CAST('${0.9 / 0.04}' AS DOUBLE)
                                     ELSE CAST('${(1 - 0.9) / (1 - 0.04)}' AS DOUBLE) END
                              * CASE WHEN asz THEN CAST('${0.85 / 0.02}' AS DOUBLE)
                                     ELSE CAST('${(1 - 0.85) / (1 - 0.02)}' AS DOUBLE) END
                              * CASE WHEN an THEN CAST('${0.95 / 0.08}' AS DOUBLE)
                                     ELSE CAST('${(1 - 0.95) / (1 - 0.08)}' AS DOUBLE) END
                              AS score
                     FROM pr)
         SELECT id_a, id_b, n_agree, round(score, 4) AS score,
                CASE WHEN score >= 1000.0 THEN 'match'
                     WHEN score >= 10.0 THEN 'possible' END AS decision
         FROM sc WHERE score >= 10.0 ORDER BY id_a, id_b"""),
    QuerySpec("q_linkage_em", (s, dir) => {
      // Unsupervised EM fit of the Fellegi–Sunter m/u/p parameters
      // (EntityResolution.fsEmWeights) over the SAME part blocks and
      // compare fields as q_linkage_fs — closes "where do the weights
      // come from" for the linkage family. The corpus reduces to an
      // exact 2^3-pattern agreement histogram (the only thing that
      // leaves the cluster); the 6 EM rounds are fixed-order driver
      // arithmetic over it, bit-replayed by the oracle's unrolled
      // round CTEs. One row per (round, field): convergence is part
      // of the artifact.
      val p = t(s, dir, "part")
        .withColumn("p_name5", substring(col("p_name"), 1, 5))
      EntityResolution.fsEmWeights(p, "p_partkey", col("p_type"),
          fields = Seq("p_brand", "p_size", "p_name5"), iters = 6)
        .orderBy("round", "field")
    },
    // EM replay: same blocked pairs as q_linkage_fs reduced to the
    // exact 2^3-pattern histogram, then the generated unrolled rounds
    // (emRoundsSql) — fixed-order folds via list_reduce, identical
    // clamps and stamped literals.
    () =>
      raw"""WITH p AS (SELECT p_partkey, p_type, p_brand, p_size,
                            substr(p_name, 1, 5) AS p_name5 FROM part),
              pr AS (SELECT
                       (a.p_brand IS NOT DISTINCT FROM b.p_brand) AS ab,
                       (a.p_size IS NOT DISTINCT FROM b.p_size) AS asz,
                       (a.p_name5 IS NOT DISTINCT FROM b.p_name5) AS an
                     FROM p a JOIN p b
                       ON a.p_type = b.p_type AND a.p_partkey < b.p_partkey),
              h AS MATERIALIZED (SELECT
                       CAST(CAST(ab AS INTEGER) + 2 * CAST(asz AS INTEGER)
                            + 4 * CAST(an AS INTEGER) AS BIGINT) AS pat,
                       CAST(count(*) AS BIGINT) AS cnt
                     FROM pr GROUP BY 1),
              ${emRoundsSql(Seq("p_brand", "p_size", "p_name5"), 6,
        0.9, 0.1, 0.5)}
         ORDER BY round, field"""),
    QuerySpec("q_fuzzy_match", (s, dir) => {
      // Blocked fuzzy matching over part names: block on the head
      // noun (closed 8-word vocabulary -> bounded ~n/8 blocks), pair
      // scan within block at Levenshtein <= 3 via the codegen'd
      // threshold form, then the per-record merge-candidate summary
      // (min lower-id match + candidate count). Non-vacuous: the
      // adjective vocabulary puts many name pairs at distance 2-3
      // ("red widget"/"hot widget"). Work is sum of block^2, never
      // corpus^2; names never leave the block join (pinned).
      EntityResolution.fuzzyCanonical(t(s, dir, "part"),
        "p_partkey", "p_name",
        element_at(split(col("p_name"), " "), -1), maxDist = 3)
        .orderBy("p_partkey")
    },
    () =>
      raw"""WITH b AS (SELECT p_partkey AS id, p_name AS name,
                              list_extract(string_split(p_name, ' '), -1) AS block
                       FROM part),
               pr AS (SELECT a.id AS id_a, b2.id AS id_b
                      FROM b a JOIN b b2 ON a.block = b2.block AND a.id < b2.id
                      WHERE levenshtein(a.name, b2.name) <= 3),
               lo AS (SELECT id_b AS id, min(id_a) AS lo,
                             count(*) AS n FROM pr GROUP BY 1)
          SELECT p.p_partkey, coalesce(l.lo, p.p_partkey) AS canon,
                 coalesce(l.n, 0) AS n_cands
          FROM part p LEFT JOIN lo l ON p.p_partkey = l.id
          ORDER BY p_partkey"""),
    QuerySpec("q_setsim", (s, dir) => {
      // EXACT set-similarity self-join via prefix filtering (Bayardo
      // et al. 2007) over word 3-gram shingle sets: every doc pair at
      // Jaccard >= 0.7, output == brute-force all-pairs (which IS the
      // oracle — the semantics replay, not the algorithm), candidates
      // from a rarest-shingle prefix join. Shingles, not unigrams: the
      // corpus has a 31-word closed vocabulary, so unigram sets all
      // overlap (~90k of 125k pairs above 0.5, prefix pruning dead,
      // measured 42s at sf0.1); 3-gram sets discriminate — exactly the
      // 25 genuine near-dup pairs qualify at sf0.01 (the pair set is
      // IDENTICAL from t=0.3 to 0.7 — near-dups sit ~0.9, everything
      // else ~0 — so t=0.7 buys the tightest prefixes, measured 1.8x
      // over 0.5, without changing one output row), same reason the
      // MinHash cascade shingles before hashing. The exact complement
      // of q_dedup_minhash's probabilistic recipe.
      SetSimJoin.jaccardJoinPairs(t(s, dir, "documents"),
          "doc_id", "text", threshold = 0.7, shingle = 3)
        .select(col("id_a"), col("id_b"),
          col("n_a").cast(LongType).as("n_a"),
          col("n_b").cast(LongType).as("n_b"),
          col("overlap").cast(LongType).as("overlap"), col("jaccard"))
        .orderBy("id_a", "id_b")
    },
    // Brute-force all-pairs Jaccard — deliberately NOT the prefix
    // algorithm: the oracle states the SEMANTICS and the Spark side
    // must prove its pruning lost nothing. Same tokenizer as q_vocab
    // (parity already proven there); one IEEE division of exact
    // BIGINTs on both sides.
    () =>
      raw"""WITH tk AS (SELECT doc_id,
                               list_filter(
                                 string_split_regex(lower(text), '[^\p{L}\p{N}]+'),
                                 x -> x <> '') AS ts
                        FROM documents),
               d AS (SELECT doc_id,
                            list_distinct(CASE WHEN len(ts) >= 3
                              THEN list_transform(range(1, len(ts) - 1),
                                     i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])
                              ELSE [] END) AS toks
                     FROM tk),
               dd AS (SELECT doc_id, toks, len(toks) AS n FROM d
                      WHERE len(toks) > 0),
               p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                            a.n AS n_a, b.n AS n_b,
                            len(list_intersect(a.toks, b.toks)) AS overlap
                     FROM dd a JOIN dd b ON a.doc_id < b.doc_id)
          SELECT id_a, id_b, n_a, n_b, overlap,
                 CAST(overlap AS DOUBLE) / CAST(n_a + n_b - overlap AS DOUBLE) AS jaccard
          FROM p
          WHERE CAST(overlap AS DOUBLE) / CAST(n_a + n_b - overlap AS DOUBLE) >= 0.7
          ORDER BY id_a, id_b""")
  )
}

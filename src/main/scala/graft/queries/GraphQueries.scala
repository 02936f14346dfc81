package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry.{Observed, t}
import graft.ops.Graph

/** Graph analytics from [[graft.ops.Graph]] (PageRank, HITS, label
  * propagation, cores, trusses, shortest paths) and recursive-SQL
  * reachability. */
object GraphQueries {

  /** Unrolled label-propagation rounds over CTEs `e(src, dst)` and
    * `l0(id, seed_label, label)`: per round, neighbor-label counts,
    * the (count DESC, label ASC) argmax via row_number, and the
    * clamped-seed update — the SQL replica of
    * [[graft.ops.Graph.labelPropagate]]'s round body. */
  private def lpaRoundsSql(iters: Int): String =
    (1 to iters).map { r =>
      s"""cnt$r AS (SELECT e.dst AS id, l.label, count(*) AS c
         |           FROM e JOIN l${r - 1} l ON l.id = e.src
         |           WHERE l.label IS NOT NULL
         |           GROUP BY e.dst, l.label),
         |              pk$r AS (SELECT id, label FROM (
         |                SELECT id, label,
         |                       row_number() OVER (PARTITION BY id
         |                                          ORDER BY c DESC, label) AS rn
         |                FROM cnt$r) WHERE rn = 1),
         |              l$r AS (SELECT p.id, p.seed_label,
         |                             CASE WHEN p.seed_label IS NOT NULL THEN p.seed_label
         |                                  ELSE coalesce(k.label, p.label) END AS label
         |                      FROM l${r - 1} p LEFT JOIN pk$r k ON k.id = p.id)""".stripMargin
    }.mkString(",\n              ")

  /** Unrolled HITS rounds over CTEs `e(src, dst)`, `nd(node)`, and
    * `h0(node, h)`: per round, raw authority sums, max-normalization,
    * raw hub sums over the UPDATED authorities, max-normalization —
    * [[graft.ops.Graph.hits]]'s round body in integer `//`. */
  private def hitsRoundsSql(iters: Int, unit: Long): String =
    (1 to iters).map { r =>
      s"""ra$r AS (SELECT e.dst AS node, sum(h.h) AS ra
         |          FROM e JOIN h${r - 1} h ON h.node = e.src GROUP BY e.dst),
         |              ma$r AS (SELECT coalesce(max(ra), 0) AS m FROM ra$r),
         |              a$r AS (SELECT nd.node,
         |                             CASE WHEN ma$r.m > 0
         |                                  THEN (coalesce(ra$r.ra, 0) * $unit) // ma$r.m
         |                                  ELSE 0 END AS a
         |                      FROM nd LEFT JOIN ra$r ON ra$r.node = nd.node, ma$r),
         |              rh$r AS (SELECT e.src AS node, sum(a.a) AS rh
         |                       FROM e JOIN a$r a ON a.node = e.dst GROUP BY e.src),
         |              mh$r AS (SELECT coalesce(max(rh), 0) AS m FROM rh$r),
         |              h$r AS (SELECT nd.node,
         |                             CASE WHEN mh$r.m > 0
         |                                  THEN (coalesce(rh$r.rh, 0) * $unit) // mh$r.m
         |                                  ELSE 0 END AS h
         |                      FROM nd LEFT JOIN rh$r ON rh$r.node = nd.node, mh$r)""".stripMargin
    }.mkString(",\n              ")

  /** DuckDB replay of [[graft.ops.Graph.pageRankFixed]]: `iters` chained
    * CTE rounds c1/v1..cN/vN over prefix CTEs `ewd` (src, dst, outdeg)
    * and `v0` (node, score=unit). `//` is floor division = Spark's
    * `div` on the all-positive scores; the per-round sum is HUGEINT in
    * DuckDB so it is cast back to BIGINT (the q_json lesson). */
  private def pageRankCtesSql(iters: Int, base: Long, dampNum: Long,
      dampDen: Long): String =
    (1 to iters).map { i =>
      s"""c$i AS (SELECT e.dst AS node, CAST(sum(v.score // e.outdeg) AS BIGINT) AS s
         |        FROM ewd e JOIN v${i - 1} v ON e.src = v.node GROUP BY e.dst),
         |v$i AS (SELECT node, $base + ($dampNum * s) // $dampDen AS score FROM c$i)""".stripMargin
    }.mkString(",\n")

  /** DuckDB replay of [[graft.ops.Graph.pageRankDangling]] rounds over
    * prefix CTEs `ewd` (src, dst, outdeg), `deg` (src, outdeg), `nodes`
    * (node) and `nn` (1-row node count `n`): contributions LEFT-join
    * the full node universe, and the prior round's dangling total
    * (score mass on nodes with no out-edge) spreads as `dt // n`. */
  private def pageRankDanglingCtesSql(iters: Int, base: Long,
      dampNum: Long, dampDen: Long): String =
    (1 to iters).map { i =>
      s"""c$i AS (SELECT e.dst AS node, CAST(sum(v.score // e.outdeg) AS BIGINT) AS s
         |        FROM ewd e JOIN v${i - 1} v ON e.src = v.node GROUP BY e.dst),
         |d$i AS (SELECT CAST(coalesce(sum(score), 0) AS BIGINT) AS dt
         |        FROM v${i - 1} WHERE node NOT IN (SELECT src FROM deg)),
         |v$i AS (SELECT nd.node,
         |               $base + ($dampNum * (coalesce(c.s, 0) + d$i.dt // nn.n)) // $dampDen AS score
         |        FROM nodes nd LEFT JOIN c$i c ON c.node = nd.node, d$i, nn)""".stripMargin
    }.mkString(",\n")

  /** Weighted variant of [[pageRankDanglingCtesSql]] over prefix CTEs
    * `ewd` (src, dst, w, wsum), `ws` (src, wsum), `nodes`, `nn`: the
    * contribution splits proportionally, `(score * w) // wsum`, with
    * the product routed through HUGEINT so the replay can never
    * overflow where the JVM long (contract-bounded) does not. */
  private def pageRankWeightedCtesSql(iters: Int, base: Long,
      dampNum: Long, dampDen: Long): String =
    (1 to iters).map { i =>
      s"""c$i AS (SELECT e.dst AS node,
         |               CAST(sum((CAST(v.score AS HUGEINT) * e.w) // e.wsum) AS BIGINT) AS s
         |        FROM ewd e JOIN v${i - 1} v ON e.src = v.node GROUP BY e.dst),
         |d$i AS (SELECT CAST(coalesce(sum(score), 0) AS BIGINT) AS dt
         |        FROM v${i - 1} WHERE node NOT IN (SELECT src FROM ws)),
         |v$i AS (SELECT nd.node,
         |               $base + ($dampNum * (coalesce(c.s, 0) + d$i.dt // nn.n)) // $dampDen AS score
         |        FROM nodes nd LEFT JOIN c$i c ON c.node = nd.node, d$i, nn)""".stripMargin
    }.mkString(",\n")

  /** Personalized variant of [[pageRankDanglingCtesSql]]: the jump
    * base and the dangling teleport hit only the seed IN-list; `sb`
    * (the per-seed base) must be provided as a CTE by the caller. */
  private def pageRankPersonalizedCtesSql(iters: Int, seeds: Seq[Long],
      dampNum: Long, dampDen: Long): String = {
    val k = seeds.length
    val in = s"nd.node IN (${seeds.mkString(", ")})"
    (1 to iters).map { i =>
      s"""c$i AS (SELECT e.dst AS node, CAST(sum(v.score // e.outdeg) AS BIGINT) AS s
         |        FROM ewd e JOIN v${i - 1} v ON e.src = v.node GROUP BY e.dst),
         |d$i AS (SELECT CAST(coalesce(sum(score), 0) AS BIGINT) AS dt
         |        FROM v${i - 1} WHERE node NOT IN (SELECT src FROM deg)),
         |v$i AS (SELECT nd.node,
         |               (CASE WHEN $in THEN sb.b ELSE 0 END)
         |               + ($dampNum * (coalesce(c.s, 0)
         |                  + (CASE WHEN $in THEN d$i.dt // $k ELSE 0 END))) // $dampDen AS score
         |        FROM nodes nd LEFT JOIN c$i c ON c.node = nd.node, d$i, sb)""".stripMargin
    }.mkString(",\n")
  }

  /** [[pageRankDanglingCtesSql]] with every frame name parameterized,
    * so SEVERAL independent chains (different graphs, different round-0
    * seeds) can live in one WITH — the q_pagerank_incr replay needs
    * four (stored-on-old, warm/cold/ref-on-new). Graph prefix CTEs are
    * `ewd$g`/`deg$g`/`nodes$g`/`nn$g`; rounds are `c$sfx$i`/`d$sfx$i`/
    * `v$sfx$i` from a caller-provided `v${sfx}0`. The score frames are
    * MATERIALIZED: each `v` is referenced by the NEXT round's c and d
    * (plus the final select), so plain CTEs would re-expand the chain
    * ~2^iters times (the q_kcore inlining lesson — tolerable at the
    * other PR oracles' 5 rounds, not at this one's 19 total). */
  private def pageRankDanglingChainSql(iters: Int, base: Long,
      dampNum: Long, dampDen: Long, g: String, sfx: String): String =
    (1 to iters).map { i =>
      s"""c$sfx$i AS (SELECT e.dst AS node, CAST(sum(v.score // e.outdeg) AS BIGINT) AS s
         |        FROM ewd$g e JOIN v$sfx${i - 1} v ON e.src = v.node GROUP BY e.dst),
         |d$sfx$i AS (SELECT CAST(coalesce(sum(score), 0) AS BIGINT) AS dt
         |        FROM v$sfx${i - 1} WHERE node NOT IN (SELECT src FROM deg$g)),
         |v$sfx$i AS MATERIALIZED (SELECT nd.node,
         |               $base + ($dampNum * (coalesce(c.s, 0) + d$sfx$i.dt // nn$g.n)) // $dampDen AS score
         |        FROM nodes$g nd LEFT JOIN c$sfx$i c ON c.node = nd.node, d$sfx$i, nn$g)""".stripMargin
    }.mkString(",\n")

  /** q_kcore oracle: the degree-threshold peel unrolled `rounds`
    * times, with an in-SQL convergence assertion — the last unrolled
    * round must be a no-op (edge count unchanged), else error()
    * fires naming the problem instead of the gate seeing a bare
    * mismatch. `rounds` comes from the observed Spark run + 1. */
  private def kcoreSql(rounds: Int): String =
    raw"""WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                      FROM lineitem),
             e0 AS MATERIALIZED (SELECT DISTINCT x.p AS a, y.p AS b
                    FROM li x JOIN li y ON x.o = y.o AND x.p < y.p),
             ${(0 until rounds).map(i =>
               s"""k$i AS MATERIALIZED (SELECT v
                     FROM (SELECT v, count(*) AS d
                           FROM (SELECT a AS v FROM e$i
                                 UNION ALL SELECT b AS v FROM e$i)
                           GROUP BY v)
                     WHERE d >= 80),
             e${i + 1} AS MATERIALIZED (SELECT a, b FROM e$i
                     WHERE a IN (SELECT v FROM k$i)
                       AND b IN (SELECT v FROM k$i))""").mkString(",\n             ")},
             conv AS MATERIALIZED (SELECT CASE WHEN
                    (SELECT count(*) FROM e${rounds - 1}) <>
                    (SELECT count(*) FROM e$rounds)
                    THEN error('kcoreSql: unroll depth under-sized for this scale factor - the last round still peeled edges')
                    ELSE 0 END AS ok)
        SELECT v AS part, CAST(count(*) AS BIGINT) AS core_deg
        FROM (SELECT a AS v FROM e$rounds UNION ALL SELECT b AS v FROM e$rounds)
        WHERE (SELECT ok FROM conv) = 0
        GROUP BY v
        ORDER BY part"""

  /** q_ktruss oracle: the support-peel cascade unrolled `rounds`
    * times (observed + 1), final support read off the last round's
    * table (computed ON the fixpoint edges), plus the same loud
    * convergence assertion as [[kcoreSql]]. */
  private def ktrussSql(rounds: Int): String =
    raw"""WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                      FROM lineitem WHERE l_orderkey % 4 = 0),
             e0 AS MATERIALIZED (SELECT DISTINCT x.p AS a, y.p AS b
                    FROM li x JOIN li y ON x.o = y.o AND x.p < y.p),
             ${(0 until rounds).map(i =>
               s"""dg$i AS MATERIALIZED (SELECT v, count(*) AS d
                     FROM (SELECT a AS v FROM e$i
                           UNION ALL SELECT b AS v FROM e$i) GROUP BY v),
             f$i AS MATERIALIZED (SELECT
                       CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.a ELSE e.b END AS u,
                       CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.b ELSE e.a END AS w,
                       CASE WHEN (da.d, e.a) < (db.d, e.b) THEN db.d ELSE da.d END AS dw
                     FROM e$i e JOIN dg$i da ON da.v = e.a
                                JOIN dg$i db ON db.v = e.b),
             tr$i AS MATERIALIZED (SELECT x.u, x.w AS v1, y.w AS v2
                     FROM f$i x JOIN f$i y ON x.u = y.u AND (x.dw, x.w) < (y.dw, y.w)
                     JOIN f$i t ON t.u = x.w AND t.w = y.w),
             sp$i AS MATERIALIZED (SELECT a, b, count(*) AS s
                     FROM (SELECT least(u, v1) AS a, greatest(u, v1) AS b FROM tr$i
                           UNION ALL SELECT least(u, v2), greatest(u, v2) FROM tr$i
                           UNION ALL SELECT least(v1, v2), greatest(v1, v2) FROM tr$i)
                     GROUP BY 1, 2),
             e${i + 1} AS MATERIALIZED (SELECT e.a, e.b
                     FROM e$i e LEFT JOIN sp$i s USING (a, b)
                     WHERE coalesce(s.s, 0) >= 6)""").mkString(",\n             ")},
             conv AS MATERIALIZED (SELECT CASE WHEN
                    (SELECT count(*) FROM e${rounds - 1}) <>
                    (SELECT count(*) FROM e$rounds)
                    THEN error('ktrussSql: unroll depth under-sized for this scale factor - the last round still peeled edges')
                    ELSE 0 END AS ok)
        SELECT e$rounds.a AS part_a, e$rounds.b AS part_b,
               sp${rounds - 1}.s AS support
        FROM e$rounds JOIN sp${rounds - 1} USING (a, b)
        WHERE (SELECT ok FROM conv) = 0
        ORDER BY part_a, part_b"""

  /** q_sssp oracle: min-plus relaxation unrolled `rounds` times
    * (observed improving rounds + 1); the assertion demands the last
    * round changed NOTHING (distance sets identical — relaxation is
    * monotone, so set equality is exactly convergence). */
  private def ssspSql(rounds: Int): String =
    raw"""WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                      FROM lineitem WHERE l_orderkey % 4 = 0),
             pr AS MATERIALIZED (SELECT x.p AS a, y.p AS b, count(*) AS cnt
                    FROM li x JOIN li y ON x.o = y.o AND x.p < y.p
                    GROUP BY 1, 2),
             n AS MATERIALIZED (SELECT a AS u, b AS v,
                          greatest(1, 11 - least(10, cnt)) AS wt FROM pr
                   UNION ALL
                   SELECT b, a, greatest(1, 11 - least(10, cnt)) FROM pr),
             d0 AS (SELECT CAST(s AS BIGINT) AS v, CAST(0 AS BIGINT) AS dist
                    FROM (SELECT unnest([1, 2, 3, 4, 5]) AS s)),
             ${(0 until rounds).map(i =>
               s"""d${i + 1} AS MATERIALIZED (SELECT v, min(dist) AS dist FROM (
                     SELECT v, dist FROM d$i
                     UNION ALL
                     SELECT n.v, d.dist + n.wt FROM n JOIN d$i d ON d.v = n.u)
                   GROUP BY v)""").mkString(",\n             ")},
             conv AS MATERIALIZED (SELECT CASE WHEN
                    (SELECT count(*) FROM
                      (SELECT * FROM d${rounds - 1} UNION SELECT * FROM d$rounds)) <>
                    (SELECT count(*) FROM d$rounds)
                    THEN error('ssspSql: unroll depth under-sized for this scale factor - the last round still improved distances')
                    ELSE 0 END AS ok)
        SELECT v AS part, CAST(dist AS BIGINT) AS dist
        FROM d$rounds WHERE (SELECT ok FROM conv) = 0 ORDER BY part"""

  /** q_coreness oracle: the min-degree phase walk of
    * [[graft.ops.Graph.coreness]] UNROLLED. Each phase reads its
    * threshold DYNAMICALLY (min degree via a scalar subquery), credits
    * every standing vertex with it, and peels `budget` rounds at that
    * threshold; final coreness = per-vertex MAX credit. The credit
    * argument is budget-insensitive (every credit is sound — the whole
    * standing graph sits inside its min-degree core — and a vertex's
    * removal phase starts exactly at its core number), so spare
    * rounds/phases are provably no-ops; the generated budgets carry +1
    * margin over the observed sf0.01 schedule plus two spare phases
    * (re-pin per SF — the q_kcore note). Every CTE MATERIALIZED (the
    * q_kcore inlining lesson). */
  private def corenessSql(phaseBudgets: Seq[Int]): String = {
    val ctes = scala.collection.mutable.ArrayBuffer[String]()
    val credits = scala.collection.mutable.ArrayBuffer[String]()
    var prev = "e0"
    def degSql(e: String) =
      s"SELECT v, count(*) AS deg FROM (SELECT a AS v FROM $e " +
        s"UNION ALL SELECT b AS v FROM $e) GROUP BY v"
    for ((budget, p) <- phaseBudgets.zipWithIndex) {
      ctes += s"dg${p}_0 AS MATERIALIZED (${degSql(prev)})"
      ctes += s"th$p AS MATERIALIZED (SELECT min(deg) AS d FROM dg${p}_0)"
      credits += s"SELECT v, (SELECT d FROM th$p) AS d FROM dg${p}_0"
      for (r <- 0 until budget) {
        val dg =
          if (r == 0) s"dg${p}_0"
          else {
            ctes += s"dg${p}_$r AS MATERIALIZED (${degSql(prev)})"
            s"dg${p}_$r"
          }
        ctes += s"rm${p}_$r AS MATERIALIZED (SELECT v FROM $dg " +
          s"WHERE deg <= (SELECT d FROM th$p))"
        ctes += s"e${p}_${r + 1} AS MATERIALIZED (SELECT a, b FROM $prev " +
          s"WHERE a NOT IN (SELECT v FROM rm${p}_$r) " +
          s"AND b NOT IN (SELECT v FROM rm${p}_$r))"
        prev = s"e${p}_${r + 1}"
      }
    }
    // convergence assertion: the phase/round budgets are pinned to one
    // SF's observed schedule; if a larger SF needs more, edges remain
    // after the last phase and the credits would be silently
    // UNDER-sized (over-credit cannot happen — spare rounds are
    // no-ops). error() makes the under-budget case fail loudly and
    // self-diagnosably instead of as a bare parity mismatch.
    ctes += s"conv AS MATERIALIZED (SELECT CASE WHEN " +
      s"(SELECT count(*) FROM $prev) > 0 THEN error(" +
      s"'corenessSql: phase/round budgets under-sized for this scale " +
      s"factor - edges remain after the last phase; re-pin the " +
      s"budgets') ELSE 0 END AS ok)"
    s"""WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
       |          FROM lineitem WHERE l_orderkey % 64 = 0),
       |     e0 AS MATERIALIZED (SELECT DISTINCT x.p AS a, y.p AS b
       |          FROM li x JOIN li y ON x.o = y.o AND x.p < y.p),
       |     ${ctes.mkString(",\n     ")}
       |SELECT v AS part, CAST(max(d) AS BIGINT) AS coreness
       |FROM (${credits.mkString("\n      UNION ALL ")})
       |WHERE d IS NOT NULL AND (SELECT ok FROM conv) = 0
       |GROUP BY v
       |ORDER BY part""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_sssp", (s, dir) => {
      // Multi-source weighted shortest paths
      // (Graph.multiSourceShortestPaths): distance of every part to
      // the nearest of five seed parts over the quarter-order
      // co-purchase graph, edge cost = 11 − co-purchase count clamped
      // to [1,10] (stronger ties are cheaper — supply-chain
      // closeness). Min-plus relaxation is order-free all-integer, so
      // the fixpoint is deterministic; the oracle unrolls the rounds.
      val li = t(s, dir, "lineitem")
        .where(pmod(col("l_orderkey"), lit(4)) === 0)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
      val pairs = li.as("x").join(li.as("y"),
          col("x.o") === col("y.o") && col("x.p") < col("y.p"))
        .groupBy(col("x.p").as("src"), col("y.p").as("dst"))
        .agg(count(lit(1)).as("cnt"))
      val weighted = pairs.select(col("src"), col("dst"),
        greatest(lit(1L), lit(11L) - least(lit(10L), col("cnt")))
          .as("cost"))
      Observed.sssp.record(buf =>
          Graph.multiSourceShortestPaths(weighted, "src", "dst", "cost",
            seeds = Seq(1L, 2L, 3L, 4L, 5L), roundsOut = Some(buf)))
        .select(col("v").as("part"), col("dist"))
        .orderBy("part")
    },
    // Same day arithmetic as q_retention; the TVD fold replays as
    // list_reduce over [0.0] || bin-ordered terms == Spark's
    // aggregate(terms, 0.0, +) left fold.
    // SSSP replay: the min-plus relaxation UNROLLED (idempotent once
    // converged — spare rounds are provably no-ops; re-pin the unroll
    // per SF, see the q_kcore note), every round CTE
    // MATERIALIZED (the k-core inlining lesson).
    () => ssspSql(
      Observed.sssp.get.lastOption.map(_ + 1).getOrElse(10))),
    QuerySpec("q_triangles", (s, dir) => {
      // Triangle count + local clustering coefficient
      // (Graph.triangleStats) on the co-purchase graph: parts sharing
      // an order are connected (115k canonical edges over 2000 parts
      // at sf0.01). Degree-ordered orientation bounds the wedge join
      // to O(m^1.5); all-integer counting, lcc is one exact-operand
      // IEEE division.
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
      val edges = li.as("x").join(li.as("y"),
          col("x.o") === col("y.o") && col("x.p") < col("y.p"))
        .select(col("x.p").as("src"), col("y.p").as("dst"))
      Graph.triangleStats(edges, "src", "dst")
        .select(col("v").as("part"), col("deg"), col("n_tri"), col("lcc"))
        .orderBy("part")
    },
    // Triangle replay: same canonical edges, same (deg, id) row-value
    // orientation, wedge + closing-edge joins, exact integer counts;
    // lcc's single division replays operand-exact.
    () =>
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                     FROM lineitem),
              e AS (SELECT DISTINCT x.p AS a, y.p AS b
                    FROM li x JOIN li y ON x.o = y.o AND x.p < y.p),
              deg AS (SELECT v, count(*) AS deg
                      FROM (SELECT a AS v FROM e
                            UNION ALL SELECT b AS v FROM e)
                      GROUP BY v),
              f AS (SELECT CASE WHEN (da.deg, e.a) < (db.deg, e.b)
                                THEN e.a ELSE e.b END AS u,
                           CASE WHEN (da.deg, e.a) < (db.deg, e.b)
                                THEN e.b ELSE e.a END AS w,
                           CASE WHEN (da.deg, e.a) < (db.deg, e.b)
                                THEN db.deg ELSE da.deg END AS dw
                    FROM e JOIN deg da ON da.v = e.a
                           JOIN deg db ON db.v = e.b),
              wed AS (SELECT x.u, x.w AS v1, y.w AS v2
                      FROM f x JOIN f y ON x.u = y.u
                        AND (x.dw, x.w) < (y.dw, y.w)),
              tri AS (SELECT wed.u, wed.v1, wed.v2
                      FROM wed JOIN f t ON t.u = wed.v1 AND t.w = wed.v2),
              tc AS (SELECT v, count(*) AS n_tri
                     FROM (SELECT u AS v FROM tri
                           UNION ALL SELECT v1 AS v FROM tri
                           UNION ALL SELECT v2 AS v FROM tri)
                     GROUP BY v)
         SELECT deg.v AS part, deg.deg,
                coalesce(tc.n_tri, 0) AS n_tri,
                CASE WHEN deg.deg >= 2 THEN
                  CAST(2 * coalesce(tc.n_tri, 0) AS DOUBLE)
                    / CAST(deg.deg * (deg.deg - 1) AS DOUBLE)
                END AS lcc
         FROM deg LEFT JOIN tc ON tc.v = deg.v
         ORDER BY part"""),
    QuerySpec("q_kcore", (s, dir) => {
      // k-core at k=80 on the co-purchase graph (Graph.kCore): a
      // genuine multi-round cascade on this corpus (6 peel rounds at
      // sf0.01, ~1.9k of 2000 parts survive) — the density gate next
      // to q_triangles' clustering microscope. Pure integer degree
      // counting; the k-core is order-independent, so the result is
      // deterministic with no tie-breaks.
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
      val edges = li.as("x").join(li.as("y"),
          col("x.o") === col("y.o") && col("x.p") < col("y.p"))
        .select(col("x.p").as("src"), col("y.p").as("dst"))
      Observed.kcore.record(buf =>
          Graph.kCore(edges, "src", "dst", k = 80, roundsOut = Some(buf)))
        .select(col("v").as("part"), col("core_deg"))
        .orderBy("part")
    },
    // k-core replay: the same peel cascade UNROLLED — 10 rounds where
    // the Spark driver loop converges in 6 on this corpus (peeling is
    // idempotent once stable, so the spare rounds are provably no-ops);
    // each round is the identical degree-count + keep-set semijoin.
    // RE-PIN PER SCALE FACTOR: the 10 here (and q_ktruss's 8,
    // q_sssp's 10, q_coreness's budget) are pinned to THIS corpus's
    // observed convergence depth + margin. The Spark side runs to
    // convergence, so at a larger SF a deeper cascade would make the
    // oracle report a NON-CONVERGED answer — a false parity failure,
    // not silent corruption. When the gate moves to a new SF, re-read
    // the Spark run's round count (the ops' loud maxIters/logging) and
    // raise the unroll to cover it.
    // MATERIALIZED is load-bearing: DuckDB inlines plain CTEs at every
    // reference, and each round references the previous ~5 times — an
    // un-materialized unroll re-expands the base scan 5^10 times.
    () => kcoreSql(
      Observed.kcore.get.lastOption.map(_ + 1).getOrElse(10))),
    QuerySpec("q_ktruss", (s, dir) => {
      // k-truss at k=8 (Graph.kTruss): the EDGE-density refinement of
      // q_kcore — every surviving edge closes >= 6 triangles at the
      // fixpoint (a 4-round cascade pruning 30.6k -> 6.9k edges at
      // sf0.01). On the quarter-order co-purchase slice (orderkey ≡ 0
      // mod 4, the q_contamination determinstic-slice idiom) so the
      // per-round triangle re-enumeration stays bench-bounded at
      // sf0.1 while the cascade semantics stay fully exercised.
      val li = t(s, dir, "lineitem")
        .where(pmod(col("l_orderkey"), lit(4)) === 0)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
      val edges = li.as("x").join(li.as("y"),
          col("x.o") === col("y.o") && col("x.p") < col("y.p"))
        .select(col("x.p").as("src"), col("y.p").as("dst"))
      Observed.ktruss.record(buf =>
          Graph.kTruss(edges, "src", "dst", k = 8, roundsOut = Some(buf)))
        .select(col("a").as("part_a"), col("b").as("part_b"),
          col("support"))
        .orderBy("part_a", "part_b")
    },
    // k-truss replay: the support-peel cascade unrolled to the
    // OBSERVED round count + 1 no-op margin (fallback: the sf0.01 pin
    // of 8), each round the identical oriented triangle enumeration ->
    // per-edge support count -> threshold filter; final support read
    // off the last round's table (computed ON the fixpoint edges).
    // Every CTE MATERIALIZED — the q_kcore inlining lesson, worse here
    // because each round references the previous ~8 times.
    () => ktrussSql(
      Observed.ktruss.get.lastOption.map(_ + 1).getOrElse(8))),
    QuerySpec("q_coreness", (s, dir) => {
      // FULL coreness decomposition (Graph.coreness): every part's
      // core NUMBER — q_kcore answers one fixed k; curation gates rank
      // by coreness ("keep the N densest community members"), which
      // needs the whole decomposition. Min-degree phase jumps visit
      // only the DISTINCT coreness values (9 phases / 17 peel rounds
      // at sf0.01 on this slice; 11/25 at sf0.1), so total peel work
      // barely exceeds one q_kcore cascade. The 1/64-order co-purchase
      // slice keeps the round-bounded driver loop bench-tight at
      // sf0.1 AND the unrolled oracle tractable; the decomposition is
      // unique, so the result is deterministic with no tie-breaks.
      val li = t(s, dir, "lineitem")
        .where(pmod(col("l_orderkey"), lit(64)) === 0)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
      val edges = li.as("x").join(li.as("y"),
          col("x.o") === col("y.o") && col("x.p") < col("y.p"))
        .select(col("x.p").as("src"), col("y.p").as("dst"))
      Observed.corenessPhases.record(buf =>
          Graph.coreness(edges, "src", "dst", phaseRoundsOut = Some(buf)))
        .select(col("v").as("part"), col("coreness"))
        .orderBy("part")
    },
    // Full coreness decomposition: per-phase budgets from the observed
    // schedule + 1 no-op margin each; fallback = the sf0.01 pin
    // (9 phases, removal rounds 1,1,1,1,1,1,1,1,1 era-pinned wide).
    () => corenessSql(
      if (Observed.corenessPhases.get.nonEmpty)
        Observed.corenessPhases.get.map(_ + 1)
      else Seq(3, 3, 3, 3, 3, 3, 3, 3, 2, 2, 2))),
    QuerySpec("q_curate_coreness", (s, dir) => {
      // CORENESS-GATED CURATION (Graph.corenessGate): q_coreness RANKS
      // the parts; this query GATES on that rank — keep the 100
      // densest community members of the co-purchase graph with their
      // catalog rows, the "keep the N densest" selection the curation
      // band was missing (q_curate/q_curate_clusters gate on
      // dedup + quality only; this is the graph-density signal). The
      // cut is (coreness DESC, part ASC) — unique decomposition +
      // total tie order, so the 100 names are deterministic. The
      // oracle composes the full coreness replay (auto-derived
      // budgets, convergence-asserted) with the same ranked cut.
      val li = t(s, dir, "lineitem")
        .where(pmod(col("l_orderkey"), lit(64)) === 0)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
      val edges = li.as("x").join(li.as("y"),
          col("x.o") === col("y.o") && col("x.p") < col("y.p"))
        .select(col("x.p").as("src"), col("y.p").as("dst"))
      Observed.corenessGatePhases.record(buf =>
          Graph.corenessGate(
            t(s, dir, "part").select(col("p_partkey"),
              col("p_retailprice").cast(DoubleType).as("retail")),
            "p_partkey", edges, "src", "dst", topN = 100,
            phaseRoundsOut = Some(buf)))
        .select(col("p_partkey").as("part"), col("coreness"),
          col("retail"))
        .orderBy("part")
    },
    // Coreness-gated curation: the FULL coreness replay (own observed
    // budgets — same graph, so same schedule) as a subquery, then the
    // identical deterministic cut (coreness DESC, part ASC, top 100)
    // joined to the part catalog.
    () => {
      val budgets =
        if (Observed.corenessGatePhases.get.nonEmpty)
          Observed.corenessGatePhases.get.map(_ + 1)
        else Seq(3, 3, 3, 3, 3, 3, 3, 3, 2, 2, 2)
      s"""WITH cz AS MATERIALIZED (SELECT * FROM (${corenessSql(budgets)})),
         |     cut AS (SELECT part, coreness FROM (
         |              SELECT part, coreness,
         |                     row_number() OVER (ORDER BY coreness DESC, part) AS rn
         |              FROM cz)
         |            WHERE rn <= 100)
         |SELECT p.p_partkey AS part, cut.coreness,
         |       CAST(p.p_retailprice AS DOUBLE) AS retail
         |FROM cut JOIN part p ON p.p_partkey = cut.part
         |ORDER BY 1""".stripMargin
    }),
    QuerySpec("q_link_pred", (s, dir) => {
      // Link prediction (Graph.linkPrediction): top-50 NON-adjacent
      // part pairs most likely to co-purchase next, by the
      // resource-allocation index Σ 1/deg(through) — Adamic-Adar's
      // integer-exact sibling (2^40 div deg per wedge; a log would
      // drag in libm bit-drift). Quarter-order slice (the q_ktruss
      // idiom) keeps the wedge join bench-bounded; maxThruDeg=500
      // caps hub wedge blowup as part of the SEMANTICS (non-binding
      // on this corpus, replayed by the oracle regardless).
      val li = t(s, dir, "lineitem")
        .where(pmod(col("l_orderkey"), lit(4)) === 0)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
      val edges = li.as("x").join(li.as("y"),
          col("x.o") === col("y.o") && col("x.p") < col("y.p"))
        .select(col("x.p").as("src"), col("y.p").as("dst"))
      Graph.linkPrediction(edges, "src", "dst", k = 50, maxThruDeg = 500)
        .select(col("a").as("part_a"), col("b").as("part_b"), col("cn"),
          col("ra_fp"), col("jac_fp"), col("deg_a"), col("deg_b"))
        .orderBy(col("ra_fp").desc, col("part_a"), col("part_b"))
    },
    // Link-prediction replay: same wedge join over the capped
    // neighbor list; RA terms are integer floor-divisions (2^40 // deg)
    // so the per-pair sum is exact on any order; NOT EXISTS = the
    // anti-join; ties at the top-50 boundary broken by (a, b).
    () =>
      """WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                        FROM lineitem WHERE l_orderkey % 4 = 0),
              e AS MATERIALIZED (SELECT DISTINCT x.p AS a, y.p AS b
                    FROM li x JOIN li y ON x.o = y.o AND x.p < y.p),
              deg AS MATERIALIZED (SELECT v, count(*) AS deg
                      FROM (SELECT a AS v FROM e
                            UNION ALL SELECT b AS v FROM e)
                      GROUP BY v),
              n AS MATERIALIZED (SELECT nb.u, nb.w,
                           1099511627776 // deg.deg AS rau
                    FROM (SELECT a AS u, b AS w FROM e
                          UNION ALL SELECT b AS u, a AS w FROM e) nb
                    JOIN deg ON deg.v = nb.u
                    WHERE deg.deg <= 500),
              pairs AS (SELECT x.w AS a, y.w AS b,
                               CAST(count(*) AS BIGINT) AS cn,
                               CAST(sum(x.rau) AS BIGINT) AS ra_fp
                        FROM n x JOIN n y ON x.u = y.u AND x.w < y.w
                        GROUP BY 1, 2)
         SELECT p.a AS part_a, p.b AS part_b, p.cn, p.ra_fp,
                p.cn * 1048576 // (da.deg + db.deg - p.cn) AS jac_fp,
                da.deg AS deg_a, db.deg AS deg_b
         FROM pairs p
         JOIN deg da ON da.v = p.a JOIN deg db ON db.v = p.b
         WHERE NOT EXISTS (SELECT 1 FROM e
                           WHERE e.a = p.a AND e.b = p.b)
         ORDER BY p.ra_fp DESC, p.a, p.b
         LIMIT 50"""),
    QuerySpec("q_modularity", (s, dir) => {
      // Newman modularity of the BRAND partition on the co-purchase
      // graph (Graph.modularity): "is co-purchase assortative by
      // brand?" — Q ≈ 0 says the brand labeling explains nothing
      // beyond chance (the honest null on this synthetic corpus; the
      // measure is the operator, not the verdict). One exact integer
      // numerator Σ(4·m·m_c − d_c²), one IEEE division at the end.
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
      val edges = li.as("x").join(li.as("y"),
          col("x.o") === col("y.o") && col("x.p") < col("y.p"))
        .select(col("x.p").as("src"), col("y.p").as("dst"))
      val comm = t(s, dir, "part")
        .select(col("p_partkey").as("v"), col("p_brand").as("comm"))
      Graph.modularity(edges, "src", "dst", comm, "v", "comm")
    },
    // Modularity replay: Σd_c = 2m clears the division — the whole
    // formula is integer sums finished by one double division.
    () =>
      """WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                        FROM lineitem),
              e0 AS MATERIALIZED (SELECT DISTINCT x.p AS a, y.p AS b
                     FROM li x JOIN li y ON x.o = y.o AND x.p < y.p),
              cm AS (SELECT DISTINCT p_partkey AS v, p_brand AS comm
                     FROM part),
              e AS MATERIALIZED (SELECT e0.a, e0.b, ca.comm AS comm_a,
                            cb.comm AS comm_b
                    FROM e0 JOIN cm ca ON ca.v = e0.a
                            JOIN cm cb ON cb.v = e0.b),
              bc AS (SELECT comm, CAST(count(*) AS BIGINT) AS d_c,
                            CAST(sum(i) AS BIGINT) AS m_c
                     FROM (SELECT comm_a AS comm,
                                  CASE WHEN comm_a = comm_b
                                       THEN 1 ELSE 0 END AS i FROM e
                           UNION ALL SELECT comm_b, 0 FROM e)
                     GROUP BY comm),
              ag AS (SELECT CAST(count(*) AS BIGINT) AS n_comm,
                            CAST(sum(d_c) AS BIGINT) AS sum_dc,
                            CAST(sum(m_c) AS BIGINT) AS sum_mc,
                            CAST(sum(d_c * d_c) AS BIGINT) AS sum_dc2
                     FROM bc)
         SELECT n_comm, sum_dc // 2 AS m,
                2 * sum_dc * sum_mc - sum_dc2 AS q_num,
                sum_dc * sum_dc AS q_den,
                CAST(2 * sum_dc * sum_mc - sum_dc2 AS DOUBLE)
                  / CAST(sum_dc * sum_dc AS DOUBLE) AS modularity
         FROM ag"""),
    QuerySpec("q_reachability", (s, dir) => {
      // Recursive SQL surface (Spark 4.1 WITH RECURSIVE): bounded-hop
      // reachability over per-user session-step edges (next event
      // within 2h). Depth-capped at 3 — non-vacuous at EVERY depth at
      // sf0.01 (8326/1393/241/40 events at depth 0..3, with real cap
      // truncation on the longest chains). Each event has <= 1
      // successor, so recursion rows are unique (no path explosion);
      // the engine executes <= 3 incremental joins over slim
      // (src, node) rows. For unbounded closures (connected
      // components) the operator path is nearDupClusters' pointer
      // jumping — O(log d) rounds instead of O(d).
      t(s, dir, "events").createOrReplaceTempView("g_events")
      s.sql("""
        WITH RECURSIVE
          e AS (SELECT event_id, user_id, ts div 1000 AS us FROM g_events),
          nxt AS (SELECT event_id AS src, lead_id AS dst FROM (
              SELECT event_id,
                     lead(event_id) OVER (PARTITION BY user_id ORDER BY us, event_id) AS lead_id,
                     lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) - us AS gap
              FROM e) t WHERE lead_id IS NOT NULL AND gap <= 7200000000),
          reach(src, node, depth) AS (
            SELECT event_id, event_id, 0 FROM e
            UNION ALL
            SELECT r.src, n.dst, r.depth + 1
            FROM reach r JOIN nxt n ON n.src = r.node
            WHERE r.depth < 3)
        SELECT src AS event_id, CAST(count(*) - 1 AS BIGINT) AS n_reach
        FROM reach GROUP BY src ORDER BY event_id""")
    },
    // The same recursion in DuckDB's WITH RECURSIVE (micros arithmetic
    // lines up: Spark's `ts div 1000` on the nanos long == DuckDB's
    // epoch_us of the ns->us-truncated TIMESTAMP read).
    () =>
      """WITH RECURSIVE
           e AS (SELECT event_id, user_id,
                        epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
           nxt AS (SELECT event_id AS src, lead_id AS dst FROM (
               SELECT event_id,
                      lead(event_id) OVER (PARTITION BY user_id ORDER BY us, event_id) AS lead_id,
                      lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) - us AS gap
               FROM e) t WHERE lead_id IS NOT NULL AND gap <= 7200000000),
           reach(src, node, depth) AS (
             SELECT event_id, event_id, 0 FROM e
             UNION ALL
             SELECT r.src, n.dst, r.depth + 1
             FROM reach r JOIN nxt n ON n.src = r.node
             WHERE r.depth < 3)
         SELECT src AS event_id, CAST(count(*) - 1 AS BIGINT) AS n_reach
         FROM reach GROUP BY src ORDER BY event_id"""),
    QuerySpec("q_hits", (s, dir) => {
      // HITS hubs & authorities (Graph.hits) — the directed-graph
      // centrality PageRank can't express: on the part -> supplier ->
      // nation chain, parts score as pure hubs (authority 0) and
      // suppliers as the authorities — power iteration concentrates on
      // the densest bipartite core (part<->supplier), which is exactly
      // HITS's known behavior; the nation layer's relative mass decays
      // below the 1e-6 fixed-point resolution by round 3 (0, honestly,
      // rather than a libm-noise tail). 3 integer rounds,
      // max-normalized, replayed verbatim as unrolled CTE rounds.
      val li = t(s, dir, "lineitem")
        .select((col("l_partkey") * 3).as("src"),
          (col("l_suppkey") * 3 + 1).as("dst"))
      val sn = t(s, dir, "supplier")
        .select((col("s_suppkey") * 3 + 1).as("src"),
          (col("s_nationkey") * 3 + 2).as("dst"))
      Graph.hits(li.unionByName(sn), "src", "dst", iters = 3)
        .orderBy("node")
    },
    // HITS replay: directed supply edges, 3 unrolled normalize rounds
    // in integer //; types cast to BIGINT (sums route through HUGEINT).
    () =>
      s"""WITH li AS (SELECT DISTINCT l_partkey * 3 AS src,
                             l_suppkey * 3 + 1 AS dst FROM lineitem),
              sn AS (SELECT DISTINCT s_suppkey * 3 + 1 AS src,
                            s_nationkey * 3 + 2 AS dst FROM supplier),
              e AS (SELECT * FROM li UNION SELECT * FROM sn),
              nd AS (SELECT DISTINCT node FROM (
                       SELECT src AS node FROM e UNION SELECT dst FROM e)),
              h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS h FROM nd),
              ${hitsRoundsSql(3, 1000000L)}
         SELECT nd.node AS node, CAST(h3.h AS BIGINT) AS hub,
                CAST(a3.a AS BIGINT) AS authority
         FROM nd JOIN h3 ON h3.node = nd.node
                 JOIN a3 ON a3.node = nd.node
         ORDER BY nd.node"""),
    QuerySpec("q_label_prop", (s, dir) => {
      // Semi-supervised label propagation (Graph.labelPropagate):
      // region labels seeded at the 25 nation nodes spread across the
      // symmetrized supply DAG — suppliers inherit their nation's
      // region in round 1, parts take the argmax region over their
      // suppliers in round 2 (ties -> label ascending, deterministic).
      // The "label 25 records by hand, label 2 million by graph"
      // primitive; every per-round step is one slim shuffle-join +
      // one map-side-partial argmax, replayed as unrolled CTE rounds.
      val li = t(s, dir, "lineitem")
        .select((col("l_partkey") * 3).as("src"),
          (col("l_suppkey") * 3 + 1).as("dst"))
      val sn = t(s, dir, "supplier")
        .select((col("s_suppkey") * 3 + 1).as("src"),
          (col("s_nationkey") * 3 + 2).as("dst"))
      val dirEdges = li.unionByName(sn)
      val edges = dirEdges.unionByName(dirEdges.select(
        col("dst").as("src"), col("src").as("dst")))
      val seeds = t(s, dir, "nation")
        .join(t(s, dir, "region"),
          col("n_regionkey") === col("r_regionkey"))
        .select((col("n_nationkey") * 3 + 2).as("id"),
          col("r_name").as("lab"))
      Graph.labelPropagate(edges, "src", "dst", seeds, "id", "lab",
          iters = 3)
        .orderBy("id")
    },
    // Label-propagation replay: symmetrized supply edges, nation-seeded
    // region labels, 3 unrolled clamped-seed argmax rounds.
    () =>
      s"""WITH li AS (SELECT DISTINCT l_partkey * 3 AS src,
                             l_suppkey * 3 + 1 AS dst FROM lineitem),
              sn AS (SELECT DISTINCT s_suppkey * 3 + 1 AS src,
                            s_nationkey * 3 + 2 AS dst FROM supplier),
              de AS (SELECT * FROM li UNION SELECT * FROM sn),
              e AS (SELECT src, dst FROM de UNION SELECT dst, src FROM de),
              sd AS (SELECT n_nationkey * 3 + 2 AS id, r_name AS seed_label
                     FROM nation JOIN region ON n_regionkey = r_regionkey),
              nd AS (SELECT DISTINCT id FROM (
                       SELECT src AS id FROM e
                       UNION SELECT dst FROM e
                       UNION SELECT id FROM sd)),
              l0 AS (SELECT nd.id, sd.seed_label, sd.seed_label AS label
                     FROM nd LEFT JOIN sd ON sd.id = nd.id),
              ${lpaRoundsSql(3)}
         SELECT id, label FROM l3 ORDER BY id"""),
    QuerySpec("q_pagerank", (s, dir) => {
      // Supply-graph centrality: 5 rounds of integer fixed-point
      // PageRank over the symmetrized supplier<->part graph from
      // lineitem (part nodes even, supplier nodes odd), top-50 hubs.
      // Integer arithmetic end-to-end (scores in 1e-6 units, integral
      // division) so ranks are independent of summation order — a
      // double-precision PR would differ run-to-run under shuffle
      // reordering and engine-to-engine, this one the oracle replays
      // exactly with a generated 5-round CTE chain. Each round: one
      // slim edges |><| scores shuffle-join + one partial-agg sum;
      // frames checkpointed per round (nearDupClusters' lineage
      // pattern).
      val li = t(s, dir, "lineitem")
        .select((col("l_partkey") * 2).as("pn"),
          (col("l_suppkey") * 2 + 1).as("sn"))
        .distinct()
      val edges = li.select(col("pn").as("src"), col("sn").as("dst"))
        .unionByName(li.select(col("sn").as("src"), col("pn").as("dst")))
      Graph.pageRankFixed(edges, "src", "dst", iters = 5)
        .orderBy(col("score").desc, col("node"))
        .limit(50)
    },
    () =>
      raw"""WITH le AS (SELECT DISTINCT l_partkey * 2 AS pn,
                                        l_suppkey * 2 + 1 AS sn
                        FROM lineitem),
               edges AS (SELECT pn AS src, sn AS dst FROM le
                         UNION ALL SELECT sn, pn FROM le),
               deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
               ewd AS (SELECT e.src, e.dst, d.outdeg
                       FROM edges e JOIN deg d USING (src)),
               v0 AS (SELECT DISTINCT src AS node,
                             CAST(1000000 AS BIGINT) AS score FROM edges),
               ${pageRankCtesSql(5, base = 150000L, dampNum = 85L, dampDen = 100L)}
          SELECT node, score FROM v5 ORDER BY score DESC, node LIMIT 50"""),
    QuerySpec("q_pagerank_dangling", (s, dir) => {
      // Real-PR variant (Graph.pageRankDangling) on a graph that
      // violates BOTH pageRankFixed preconditions by construction: the
      // directed part -> supplier -> nation chain (ids disambiguated
      // mod 3). Nations have no out-edges — the fixed variant would
      // silently swallow their mass; here it redistributes uniformly
      // each round (dt div n). Parts have no IN-edges — the fixed
      // variant would drop them from the frame; here the pinned node
      // universe keeps them at the jump base + dangling share. Top-50
      // hubs: the 25 nation sinks dominate, then high-degree
      // suppliers — exactly the mass ordering real PR assigns a DAG.
      val li = t(s, dir, "lineitem")
        .select((col("l_partkey") * 3).as("src"),
          (col("l_suppkey") * 3 + 1).as("dst"))
      val sn = t(s, dir, "supplier")
        .select((col("s_suppkey") * 3 + 1).as("src"),
          (col("s_nationkey") * 3 + 2).as("dst"))
      Graph.pageRankDangling(li.unionByName(sn), "src", "dst", iters = 5)
        .orderBy(col("score").desc, col("node"))
        .limit(50)
    },
    () =>
      raw"""WITH edges AS (SELECT DISTINCT src, dst FROM (
                           SELECT l_partkey * 3 AS src, l_suppkey * 3 + 1 AS dst FROM lineitem
                           UNION ALL
                           SELECT s_suppkey * 3 + 1, s_nationkey * 3 + 2 FROM supplier)),
               deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
               ewd AS (SELECT e.src, e.dst, d.outdeg
                       FROM edges e JOIN deg d USING (src)),
               nodes AS (SELECT src AS node FROM edges
                         UNION SELECT dst FROM edges),
               nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
               v0 AS (SELECT node, CAST(1000000 AS BIGINT) AS score FROM nodes),
               ${pageRankDanglingCtesSql(5, base = 150000L, dampNum = 85L, dampDen = 100L)}
          SELECT node, score FROM v5 ORDER BY score DESC, node LIMIT 50"""),
    QuerySpec("q_pagerank_weighted", (s, dir) => {
      // Weighted PR on the supply DAG with EDGE MULTIPLICITY as
      // strength: the lineitem log feeds in UN-deduped (w=1 per row,
      // summed by the op), so a (part, supplier) pair with 7 lineitems
      // carries 7x the walk mass of a one-off — the hub ranking
      // reflects supply VOLUME, not just connectivity (the dangling
      // variant's distinct-edge graph weighs them equally). Same
      // dangling-mass/universe handling; contribution split is
      // (score * w) div out_weight, exact 64-bit integers.
      val li = t(s, dir, "lineitem")
        .select((col("l_partkey") * 3).as("src"),
          (col("l_suppkey") * 3 + 1).as("dst"), lit(1L).as("w"))
      val sn = t(s, dir, "supplier")
        .select((col("s_suppkey") * 3 + 1).as("src"),
          (col("s_nationkey") * 3 + 2).as("dst"), lit(1L).as("w"))
      Graph.pageRankWeighted(li.unionByName(sn), "src", "dst", "w",
          iters = 5)
        .orderBy(col("score").desc, col("node"))
        .limit(50)
    },
    // Weighted variant: the same supply DAG but edges keep their
    // lineitem MULTIPLICITY as weight (GROUP BY instead of DISTINCT).
    () =>
      raw"""WITH edges AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w FROM (
                           SELECT l_partkey * 3 AS src, l_suppkey * 3 + 1 AS dst FROM lineitem
                           UNION ALL
                           SELECT s_suppkey * 3 + 1, s_nationkey * 3 + 2 FROM supplier)
                          GROUP BY src, dst),
               ws AS (SELECT src, CAST(sum(w) AS BIGINT) AS wsum FROM edges GROUP BY src),
               ewd AS (SELECT e.src, e.dst, e.w, d.wsum
                       FROM edges e JOIN ws d USING (src)),
               nodes AS (SELECT src AS node FROM edges
                         UNION SELECT dst FROM edges),
               nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
               v0 AS (SELECT node, CAST(1000000 AS BIGINT) AS score FROM nodes),
               ${pageRankWeightedCtesSql(5, base = 150000L, dampNum = 85L, dampDen = 100L)}
          SELECT node, score FROM v5 ORDER BY score DESC, node LIMIT 50"""),
    QuerySpec("q_pagerank_incr", (s, dir) => {
      // PAGERANK WARM-START (Graph.pageRankWarmStart) — the graph
      // member of the incremental-artifact family: yesterday's supply
      // DAG (even-orderkey lineitems + the supplier->nation spine) is
      // ranked once and STORED; tonight the odd-orderkey edges arrive
      // and the stored table seeds round 0 on the grown graph instead
      // of the uniform base. The artifact publishes the MEASURED
      // convergence claim: after the same 3 rounds on the new graph,
      // |warm - ref| vs |cold - ref| per node (ref = 8 cold rounds,
      // effectively converged in 1e-6 fixed-point units) — warm starts
      // near the new fixed point because ranks of a slightly-changed
      // graph barely move. Measured at sf0.01 over the top-50 hubs:
      // sum d_warm = 9,400 units vs sum d_cold = 664,468,384 (warm is
      // ~70,000x closer and wins on all 50 nodes) — the half-graph
      // stored ranks already carry almost the whole answer, so the
      // nightly spend is 3 warm rounds, not 8 cold ones. All integer
      // fixed-point, so every chain replays bit-for-bit in unrolled
      // CTEs.
      val liAll = t(s, dir, "lineitem")
      def partSupp(li: DataFrame) = li.select(
        (col("l_partkey") * 3).as("src"), (col("l_suppkey") * 3 + 1).as("dst"))
      val sn = t(s, dir, "supplier")
        .select((col("s_suppkey") * 3 + 1).as("src"),
          (col("s_nationkey") * 3 + 2).as("dst"))
      val oldEdges = partSupp(
        liAll.where(pmod(col("l_orderkey"), lit(2)) === 0)).unionByName(sn)
      val newEdges = partSupp(liAll).unionByName(sn)
      // The chains' pins execute at CONSTRUCTION time and each chain
      // is a sequential round loop, so the INDEPENDENT chains overlap
      // on driver threads (guide §2.6): the stored-graph build (5
      // rounds on the old edges) runs concurrently with the grown
      // graph's setup + cold + ref chains. Each chain is internally
      // sequential and integer-exact, so results are bit-identical to
      // the serial build — the overlap only back-fills idle executor
      // capacity. Critical path: 16 sequential rounds -> max(5, setup
      // + 8) + 3.
      val storedF = scala.concurrent.Future(
        Graph.pageRankDangling(oldEdges, "src", "dst", iters = 5))(
        scala.concurrent.ExecutionContext.global)
      // the three chains on the GROWN graph share one PrGraph: the
      // distinct/degree/universe/dangling derivation is paid once, not
      // per chain (Graph.prGraph — bit-identical rounds)
      val g = Graph.prGraph(newEdges, "src", "dst")
      val cold = Graph.pageRankDanglingOn(g, iters = 3)
      val stored = scala.concurrent.Await.result(storedF,
        scala.concurrent.duration.Duration.Inf)
      val warmF = scala.concurrent.Future(
        Graph.pageRankWarmStartOn(g, stored, "node", "score", iters = 3))(
        scala.concurrent.ExecutionContext.global)
      // the 8-round reference CONTINUES the cold chain (5 more rounds
      // from the stored 3-round table) — exactly 8 cold rounds by the
      // round-composition law the op guarantees (GraphSpec pins it),
      // for 16 total rounds instead of 19
      val ref = Graph.pageRankWarmStartOn(g, cold, "node", "score",
        iters = 5)
      val warm = scala.concurrent.Await.result(warmF,
        scala.concurrent.duration.Duration.Inf)
      ref.select(col("node"), col("score").as("score_ref"))
        .join(warm.select(col("node"), col("score").as("score_warm")),
          Seq("node"))
        .join(cold.select(col("node"), col("score").as("score_cold")),
          Seq("node"))
        .select(col("node"), col("score_warm"), col("score_cold"),
          col("score_ref"),
          abs(col("score_warm") - col("score_ref")).as("d_warm"),
          abs(col("score_cold") - col("score_ref")).as("d_cold"))
        .orderBy(col("score_ref").desc, col("node"))
        .limit(50)
    },
    // Warm-start replay: four independent dangling-PR chains in one
    // WITH (pageRankDanglingChainSql) — 5 stored rounds on the OLD
    // graph, then warm (seeded from vO5), cold, and the 8-round ref on
    // the NEW graph.
    () =>
      raw"""WITH edgesO AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
                           SELECT l_partkey * 3 AS src, l_suppkey * 3 + 1 AS dst
                           FROM lineitem WHERE l_orderkey % 2 = 0
                           UNION ALL
                           SELECT s_suppkey * 3 + 1, s_nationkey * 3 + 2 FROM supplier)),
               edgesN AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
                           SELECT l_partkey * 3 AS src, l_suppkey * 3 + 1 AS dst FROM lineitem
                           UNION ALL
                           SELECT s_suppkey * 3 + 1, s_nationkey * 3 + 2 FROM supplier)),
               degO AS (SELECT src, count(*) AS outdeg FROM edgesO GROUP BY src),
               ewdO AS (SELECT e.src, e.dst, d.outdeg
                        FROM edgesO e JOIN degO d USING (src)),
               nodesO AS MATERIALIZED (SELECT src AS node FROM edgesO
                         UNION SELECT dst FROM edgesO),
               nnO AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodesO),
               degN AS (SELECT src, count(*) AS outdeg FROM edgesN GROUP BY src),
               ewdN AS (SELECT e.src, e.dst, d.outdeg
                        FROM edgesN e JOIN degN d USING (src)),
               nodesN AS MATERIALIZED (SELECT src AS node FROM edgesN
                         UNION SELECT dst FROM edgesN),
               nnN AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodesN),
               vO0 AS (SELECT node, CAST(1000000 AS BIGINT) AS score FROM nodesO),
               ${pageRankDanglingChainSql(5, base = 150000L, dampNum = 85L,
                 dampDen = 100L, g = "O", sfx = "O")},
               vW0 AS (SELECT nd.node,
                              CAST(coalesce(p.score, 1000000) AS BIGINT) AS score
                       FROM nodesN nd LEFT JOIN vO5 p ON p.node = nd.node),
               ${pageRankDanglingChainSql(3, base = 150000L, dampNum = 85L,
                 dampDen = 100L, g = "N", sfx = "W")},
               vC0 AS (SELECT node, CAST(1000000 AS BIGINT) AS score FROM nodesN),
               ${pageRankDanglingChainSql(3, base = 150000L, dampNum = 85L,
                 dampDen = 100L, g = "N", sfx = "C")},
               vR0 AS (SELECT node, CAST(1000000 AS BIGINT) AS score FROM nodesN),
               ${pageRankDanglingChainSql(8, base = 150000L, dampNum = 85L,
                 dampDen = 100L, g = "N", sfx = "R")}
          SELECT r.node, w.score AS score_warm, c.score AS score_cold,
                 r.score AS score_ref,
                 abs(w.score - r.score) AS d_warm,
                 abs(c.score - r.score) AS d_cold
          FROM vR8 r JOIN vW3 w ON w.node = r.node
                     JOIN vC3 c ON c.node = r.node
          ORDER BY r.score DESC, r.node LIMIT 50"""),
    QuerySpec("q_pagerank_personalized", (s, dir) => {
      // Personalized PR (random walk with restart) on the same supply
      // DAG: the jump and the dangling teleport return only to THREE
      // seed PARTS (partkeys 1-3 -> nodes 3, 6, 9), so rank measures
      // proximity to that watchlist: the walk explores part ->
      // supplier -> nation, ranking exactly the suppliers of the
      // watched parts and their nations. Seeds must carry OUT-edges to
      // be meaningful — seeding the sink nations degenerates to
      // all-mass-at-seeds (found and rejected while building this
      // query). Output = the REACHABLE set (score > 0): unreachable
      // nodes hold exactly zero mass, and filtering them keeps the
      // ranking non-vacuous at every SF.
      val li = t(s, dir, "lineitem")
        .select((col("l_partkey") * 3).as("src"),
          (col("l_suppkey") * 3 + 1).as("dst"))
      val sn = t(s, dir, "supplier")
        .select((col("s_suppkey") * 3 + 1).as("src"),
          (col("s_nationkey") * 3 + 2).as("dst"))
      Graph.pageRankPersonalized(li.unionByName(sn), "src", "dst",
          seeds = Seq(3L, 6L, 9L), iters = 5)
        .where(col("score") > 0)
        .orderBy(col("score").desc, col("node"))
        .limit(50)
    },
    // Same graph prefix; sb = the per-seed jump base
    // (n*unit - damped) // |seeds|, computed from the node count like
    // the Scala side's one driver scalar.
    () =>
      raw"""WITH edges AS (SELECT DISTINCT src, dst FROM (
                           SELECT l_partkey * 3 AS src, l_suppkey * 3 + 1 AS dst FROM lineitem
                           UNION ALL
                           SELECT s_suppkey * 3 + 1, s_nationkey * 3 + 2 FROM supplier)),
               deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
               ewd AS (SELECT e.src, e.dst, d.outdeg
                       FROM edges e JOIN deg d USING (src)),
               nodes AS (SELECT src AS node FROM edges
                         UNION SELECT dst FROM edges),
               nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
               sb AS (SELECT CAST((n * 1000000 - (n * 1000000 * 85) // 100) // 3 AS BIGINT) AS b FROM nn),
               v0 AS (SELECT node, CAST(1000000 AS BIGINT) AS score FROM nodes),
               ${pageRankPersonalizedCtesSql(5, seeds = Seq(3L, 6L, 9L), dampNum = 85L, dampDen = 100L)}
          SELECT node, score FROM v5 WHERE score > 0
          ORDER BY score DESC, node LIMIT 50""")
  )
}

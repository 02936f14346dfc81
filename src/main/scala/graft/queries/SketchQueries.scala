package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry.t
import graft.functions.LongHashes
import graft.ops.Sketches
import OracleSql.{signedSql, splitmixCtesSql, sketchQuantileSql}

/** Probabilistic sketches from [[graft.ops.Sketches]]: KMV, CMS, Bloom,
  * HyperLogLog and quantile sketches, with their merge and retraction
  * members. */
object SketchQueries {

  /** KMV distinct estimator over a sorted raw-HUGEINT keep-set list
    * expression `x` built with cap `k`: exact below k, else the
    * (k-1)·2^64 // kth-minimum integral estimator with the JVM clamp —
    * the q_rolling_distinct formula, shared so the lattice levels of
    * q_distinct_cube cannot drift from it. */
  private def kmvEstSql(x: String, k: Int): String =
    s"""CASE WHEN len($x) < $k THEN CAST(len($x) AS BIGINT)
       |                ELSE CAST(least(
       |                       (${k - 1} * CAST('18446744073709551616' AS HUGEINT))
       |                         // ($x)[len($x)],
       |                       CAST('9223372036854775807' AS HUGEINT))
       |                     AS BIGINT) END""".stripMargin

  /** q_hll / q_hll_setops shared replay fragments (p = 6): the rank
    * CASE over the post-bucket bits, the exact power-of-two literal
    * table, and the stamped alpha·m² constant — ONE definition so the
    * two oracles cannot drift. */
  private lazy val hllRhoCaseSql: String =
    (1 to 58).map(i => s"WHEN (v // ${1L << (i - 1)}) % 2 = 1 THEN $i")
      .mkString("CASE ", " ", " ELSE 59 END")

  private lazy val hllPowListSql: String =
    (1 to 59).map(i => s"CAST('${(1.0 / (1L << i)).toString}' AS DOUBLE)")
      .mkString("[", ", ", "]")

  private lazy val hllAlphaSql: String =
    s"CAST('${graft.ops.Sketches.hllAlphaM2(6).toString}' AS DOUBLE)"

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_kmv_distinct", (s, dir) => {
      // KMV cardinality sketch (Sketches.kmvDistinct) side-by-side with
      // the exact distinct it approximates: per returnflag, distinct
      // l_orderkey count. DELIBERATELY two separate aggregations joined
      // on the 3-row key: sharing one agg would drag the sketch through
      // countDistinct's two-shuffle Expand rewrite — the sketch branch
      // must keep its own single partial+merge exchange (pinned), since
      // at 100 TB you would run ONLY that branch (16*k bytes per partition
      // vs exact distinct's full key shuffle). est is pure integer
      // arithmetic (floor((k-1)*2^64 / kth)), replayed in HUGEINT by
      // the oracle.
      val li = t(s, dir, "lineitem")
      val sk = li.groupBy(col("l_returnflag"))
        .agg(Sketches.kmvDistinct(
          LongHashes.splitmix64(col("l_orderkey")), 256).as("kmv"))
      val ex = li.groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_orderkey")).as("exact_nd"))
      sk.join(ex, Seq("l_returnflag"))
        .select(col("l_returnflag"), col("exact_nd"),
          col("kmv.n_kept").as("n_kept"), col("kmv.kth").as("kth"),
          col("kmv.est").as("est"))
        .orderBy("l_returnflag")
    },
    () =>
      raw"""WITH d AS (SELECT l_returnflag,
                              CAST(l_orderkey AS HUGEINT) AS z
                       FROM (SELECT DISTINCT l_returnflag, l_orderkey FROM lineitem)),
               ${splitmixCtesSql("d", "l_returnflag")},
               a AS (SELECT l_returnflag, count(*) AS exact_nd,
                            list_sort(list(CAST(z AS UBIGINT)))[1:256] AS ks
                     FROM h5 GROUP BY l_returnflag)
          SELECT l_returnflag, exact_nd,
                 CAST(len(ks) AS INTEGER) AS n_kept,
                 CASE WHEN len(ks) < 256 THEN NULL
                      ELSE CAST(${signedSql("CAST(list_max(ks) AS HUGEINT)")} AS BIGINT)
                 END AS kth,
                 CASE WHEN len(ks) < 256 THEN len(ks)
                      ELSE CAST(LEAST(CAST(255 AS HUGEINT) * CAST('18446744073709551616' AS HUGEINT)
                                        // CAST(list_max(ks) AS HUGEINT),
                                      CAST('9223372036854775807' AS HUGEINT)) AS BIGINT)
                 END AS est
          FROM a ORDER BY l_returnflag"""),
    QuerySpec("q_kmv_resemblance", (s, dir) => {
      // Bottom-k resemblance (Broder 1997): pairwise Jaccard between
      // each returnflag's ORDER-KEY SET (~11k keys each, true J ~0.58)
      // from 2 KiB KMV keep-set sketches — k=256 << |sets|, so this is
      // the genuine estimation regime, not a sketch-covers-everything
      // degenerate (the documents corpus has a 31-token vocabulary and
      // every pairwise Jaccard there is ~1). The corpus-overlap triage
      // at 100 TB: comparing two billion-key sets needs 8k bytes per
      // side and array arithmetic, not a co-located exact join.
      // Self-evaluating like q_ann_recall: the EXACT Jaccard rides
      // alongside — computed relationally (distinct pairs self-joined
      // on the key: one shuffle, no collect_set driver arrays), which
      // is also what you would dial down to only when an estimate
      // flags a pair. DETERMINISTIC approximation -> the oracle
      // replays the sketch path hash-for-hash.
      val d = t(s, dir, "lineitem")
        .select(col("l_returnflag").as("f"), col("l_orderkey").as("k"))
        .distinct()
      val sk = d.groupBy("f").agg(
        Sketches.kmvKeepSet(LongHashes.splitmix64(col("k")), 256).as("sk"),
        count(lit(1)).as("n"))
      val inter = d.as("x").join(d.as("y"),
          col("x.k") === col("y.k") && col("x.f") < col("y.f"))
        .groupBy(col("x.f").as("fa"), col("y.f").as("fb"))
        .agg(count(lit(1)).as("inter"))
      val est = Sketches.kmvResemblance(col("a.sk"), col("b.sk"), 256)
      val exact = col("inter").cast(DoubleType) /
        (col("a.n") + col("b.n") - col("inter")).cast(DoubleType)
      sk.as("a").join(sk.as("b"), col("a.f") < col("b.f"))
        .join(inter, col("a.f") === col("fa") && col("b.f") === col("fb"))
        .select(col("a.f").as("flag_a"), col("b.f").as("flag_b"),
          col("a.n").as("n_a"), col("b.n").as("n_b"),
          est.as("est_jaccard"), exact.as("exact_jaccard"),
          abs(est - exact).as("abs_err"))
        .orderBy("flag_a", "flag_b")
    },
    // Bottom-k resemblance: the q_kmv_distinct splitmix chain over
    // distinct (flag, orderkey) pairs, per-flag bottom-256 keep lists,
    // then Broder's |X ∩ A ∩ B| / |X| next to the relational exact
    // Jaccard. Unsigned HUGEINT order here == the keep set's
    // sign-flipped signed order there.
    () =>
      raw"""WITH d0 AS (SELECT l_returnflag AS f, l_orderkey AS k,
                               CAST(l_orderkey AS HUGEINT) AS z
                        FROM (SELECT DISTINCT l_returnflag, l_orderkey FROM lineitem)),
               ${splitmixCtesSql("d0", "f, k")},
               rk AS (SELECT f, z AS hu,
                             row_number() OVER (PARTITION BY f ORDER BY z) AS rn
                      FROM h5),
               sk AS (SELECT f, list(hu ORDER BY hu) AS s, count(*) AS n
                      FROM rk GROUP BY f),
               kk AS (SELECT f, list(hu ORDER BY hu) AS s
                      FROM rk WHERE rn <= 256 GROUP BY f),
               iv AS (SELECT x.f AS fa, y.f AS fb, count(*) AS inter
                      FROM d0 x JOIN d0 y ON x.k = y.k AND x.f < y.f
                      GROUP BY 1, 2),
               pr AS (SELECT a.f AS flag_a, b.f AS flag_b,
                             ka.s AS sa, kb.s AS sb,
                             a.n AS n_a, b.n AS n_b, iv.inter AS inter
                      FROM sk a JOIN sk b ON a.f < b.f
                      JOIN kk ka ON ka.f = a.f
                      JOIN kk kb ON kb.f = b.f
                      JOIN iv ON iv.fa = a.f AND iv.fb = b.f),
               c AS (SELECT flag_a, flag_b, n_a, n_b, inter, sa, sb,
                            list_sort(list_distinct(sa || sb))[1:256] AS x
                     FROM pr),
               f2 AS (SELECT flag_a, flag_b, n_a, n_b,
                             CAST(len(list_intersect(list_intersect(x, sa), sb)) AS DOUBLE)
                             / CAST(len(x) AS DOUBLE) AS est_jaccard,
                             CAST(inter AS DOUBLE)
                             / CAST(n_a + n_b - inter AS DOUBLE) AS exact_jaccard
                      FROM c)
          SELECT flag_a, flag_b, n_a, n_b, est_jaccard, exact_jaccard,
                 abs(est_jaccard - exact_jaccard) AS abs_err
          FROM f2 ORDER BY flag_a, flag_b"""),
    QuerySpec("q_join_size", (s, dir) => {
      // Pair-blowup pre-flight (CMS inner product): estimate the
      // self-join size of the events log on user_id — the candidate
      // count a user_id blocking key would generate in a pair scan —
      // from ONE constant-size sketch, next to the exact answer. The
      // estimate can only overcount (collision terms are positive);
      // expected bias |A|²/width ≈ 1.5% of the true size here, and the
      // rel_err column puts the observed error in the artifact. At
      // 100 TB this is how a dedup pipeline rejects a hot blocking key
      // BEFORE paying its shuffle.
      val ev = t(s, dir, "events")
        .where(col("user_id").isNotNull).select(col("user_id"))
      val grid = ev.agg(Sketches.countMin(col("user_id"),
        depth = 4, width = 1 << 16).as("g"))
      val exact = ev.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
        .agg(sum(col("n") * col("n")).as("exact_pairs"))
      grid.crossJoin(broadcast(exact))
        .select(
          Sketches.cmsInnerProduct(col("g"), col("g"), 4, 1 << 16)
            .as("est_pairs"),
          col("exact_pairs"),
          ((Sketches.cmsInnerProduct(col("g"), col("g"), 4, 1 << 16)
            .cast(DoubleType) - col("exact_pairs").cast(DoubleType))
            / col("exact_pairs").cast(DoubleType)).as("rel_err"))
        .orderBy("est_pairs")
    },
    // CMS inner-product replay over the sparse CELLS (zero cells
    // contribute nothing to either side): est = min over rows of
    // sum(c^2), exact = sum over keys of n^2.
    () =>
      raw"""WITH d AS (SELECT i, user_id,
                              CAST(xor(CAST(user_id AS UBIGINT), CAST(i AS UBIGINT)) AS HUGEINT) AS z
                       FROM events CROSS JOIN range(0, 4) t(i)
                       WHERE user_id IS NOT NULL),
               ${splitmixCtesSql("d", "i, user_id")},
               b AS (SELECT i, CAST(CAST(z AS UBIGINT) % 65536 AS BIGINT) AS bucket
                     FROM h5),
               cells AS (SELECT i, bucket, CAST(count(*) AS BIGINT) AS c
                         FROM b GROUP BY i, bucket),
               ip AS (SELECT i, sum(c * c) AS p FROM cells GROUP BY i),
               est AS (SELECT CAST(min(p) AS BIGINT) AS est_pairs FROM ip),
               ex AS (SELECT CAST(sum(n * n) AS BIGINT) AS exact_pairs FROM (
                        SELECT count(*) AS n FROM events
                        WHERE user_id IS NOT NULL GROUP BY user_id))
          SELECT est_pairs, exact_pairs,
                 (CAST(est_pairs AS DOUBLE) - CAST(exact_pairs AS DOUBLE))
                   / CAST(exact_pairs AS DOUBLE) AS rel_err
          FROM est, ex ORDER BY est_pairs"""),
    QuerySpec("q_rolling_distinct", (s, dir) => {
      // Sliding-window distinct via SKETCH ROLLUP: per-day KMV keep
      // sets (one 1 KiB row per day, k=128 so the sf0.01 gate exercises the true ESTIMATION regime, not sketch-covers-everything) fold across the trailing 7-day
      // window into the window's distinct-user estimate — the rolling
      // COUNT(DISTINCT) that re-scans raw events per window at 100 TB
      // instead reads 7 sketch rows per day. Bottom-k of a union of
      // keep sets IS the union's keep set (exact sketch algebra;
      // collect order is irrelevant — union commutes, the final sort
      // canonicalizes), so the estimate replays exactly; the exact
      // rolling distinct rides alongside per the est+exact house
      // pattern (~1-4% observed error at k=256).
      val ev = t(s, dir, "events").select(
          expr("(ts div 1000) div 86400000000").as("day"), col("user_id"))
        // NULL user_ids carry no distinct-count mass, but an unfiltered
        // groupBy would still emit a daily row for a day whose events
        // are ALL null — a day universe the oracle (which filters
        // before deriving days) never sees. Filter first so both
        // engines derive the same day set.
        .where(col("user_id").isNotNull)
      val daily = ev.groupBy(col("day"))
        .agg(Sketches.kmvKeepSet(
          LongHashes.splitmix64(col("user_id")), 128).as("sk"))
      val win = daily.as("a").join(daily.as("b"),
          col("b.day").between(col("a.day") - 6, col("a.day")))
        .groupBy(col("a.day").as("day"))
        .agg(collect_list(col("b.sk")).as("sks"),
          count(lit(1)).as("n_days"))
        .select(col("day"), col("n_days"),
          Sketches.kmvUnionDistinctAll(col("sks"), 128).as("est_d"))
      val du = ev.where(col("user_id").isNotNull).distinct()
      val exact = du.select(col("day")).distinct().as("dd")
        .join(du.as("u"),
          col("u.day").between(col("dd.day") - 6, col("dd.day")))
        .groupBy(col("dd.day").as("day"))
        .agg(countDistinct(col("u.user_id")).as("exact_d"))
      win.join(exact, Seq("day"))
        .select(col("day"), col("n_days"), col("est_d"), col("exact_d"))
        .orderBy("day")
    },
    // Rolling-window sketch rollup: per-day keep sets via the rank
    // chain over DISTINCT (day, user), window-joined, flattened,
    // re-sliced to k, estimated — next to the exact rolling distinct.
    () =>
      raw"""WITH e AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
                              user_id
                       FROM events WHERE user_id IS NOT NULL),
               d0 AS (SELECT DISTINCT day, user_id,
                             CAST(user_id AS HUGEINT) AS z
                      FROM e),
               ${splitmixCtesSql("d0", "day")},
               rk AS (SELECT day, z,
                             row_number() OVER (PARTITION BY day ORDER BY z) AS rn
                      FROM h5),
               kk AS (SELECT day, list(z ORDER BY z) AS s
                      FROM rk WHERE rn <= 128 GROUP BY day),
               dd AS (SELECT DISTINCT day FROM e),
               wj AS (SELECT a.day, flatten(list(b.s)) AS alls,
                             count(*) AS n_days
                      FROM dd a JOIN kk b ON b.day BETWEEN a.day - 6 AND a.day
                      GROUP BY a.day),
               m AS (SELECT day, n_days,
                            list_sort(list_distinct(alls))[1:128] AS x
                     FROM wj),
               est AS (SELECT day, n_days,
                              CASE WHEN len(x) < 128 THEN CAST(len(x) AS BIGINT)
                                   ELSE CAST(least(
                                          (127 * CAST('18446744073709551616' AS HUGEINT))
                                            // x[len(x)],
                                          CAST('9223372036854775807' AS HUGEINT))
                                        AS BIGINT) END AS est_d
                       FROM m),
               ex AS (SELECT a.day, count(DISTINCT u.user_id) AS exact_d
                      FROM dd a JOIN e u ON u.day BETWEEN a.day - 6 AND a.day
                      GROUP BY a.day)
          SELECT day, n_days, est_d, exact_d
          FROM est JOIN ex USING (day) ORDER BY day"""),
    QuerySpec("q_rolling_quantiles", (s, dir) => {
      // Sliding-window QUANTILES via sketch rollup — the percentile
      // twin of q_rolling_distinct: per-day mergeable keep-pair
      // sketches (Sketches.quantilePairs, one ~2 KiB row per day)
      // fold across the trailing 7-day window (quantilePairsUnionAll
      // — bottom-k of a union of keep sets IS the union's keep set)
      // into the window's p50/p95 via the shared fixed-order
      // interpolation. The rolling-percentile that re-sorts raw
      // history per window at 100 TB instead reads 7 sketch rows per
      // day; est-vs-exact error for this sketch is measured in
      // q_quantile_sketch.
      val ev = t(s, dir, "events").select(
          expr("(ts div 1000) div 86400000000").as("day"),
          col("event_id"),
          floor(col("value") * 1000000.0 + lit(0.5)).cast(LongType).as("v"))
        .where(col("v").isNotNull)
      val daily = ev.groupBy(col("day"))
        .agg(Sketches.quantilePairs(
          LongHashes.splitmix64(col("event_id")), col("v"), 128).as("sk"))
      daily.as("a").join(daily.as("b"),
          col("b.day").between(col("a.day") - 6, col("a.day")))
        .groupBy(col("a.day").as("day"))
        .agg(collect_list(col("b.sk")).as("sks"), count(lit(1)).as("n_days"))
        .select(col("day"), col("n_days"),
          Sketches.quantilePairsUnionAll(col("sks"), 128).as("vs"))
        .select(col("day"), col("n_days"),
          size(col("vs")).cast(LongType).as("n_sample"),
          Sketches.sketchQuantile(col("vs"), 0.5).as("p50_est"),
          Sketches.sketchQuantile(col("vs"), 0.95).as("p95_est"))
        .orderBy("day")
    },
    // Rolling-quantiles replay: per-day bottom-128 by the event-id
    // hash chain CARRYING the value, window-flattened, re-sliced to
    // 128 by the key (bottom-k of a union of bottom-k's == the
    // union's bottom-k), value-sorted, then the SHARED interpolation
    // (sketchQuantileSql) — every double bit-identical.
    () =>
      raw"""WITH e AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
                              event_id,
                              CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v
                       FROM events),
               d0 AS (SELECT day, v, CAST(event_id AS HUGEINT) AS z
                      FROM e WHERE v IS NOT NULL),
               ${splitmixCtesSql("d0", "day, v")},
               rk AS (SELECT day, v, z,
                             row_number() OVER (PARTITION BY day ORDER BY z) AS rn
                      FROM h5),
               kk AS (SELECT day, list({'z': z, 'v': v} ORDER BY z) AS s
                      FROM rk WHERE rn <= 128 GROUP BY day),
               dd AS (SELECT DISTINCT day FROM d0),
               wj AS (SELECT a.day, flatten(list(b.s)) AS alls,
                             count(*) AS n_days
                      FROM dd a JOIN kk b ON b.day BETWEEN a.day - 6 AND a.day
                      GROUP BY a.day),
               m AS (SELECT day, n_days,
                            list_sort(list_transform(list_sort(alls)[1:128],
                                                     p -> p['v'])) AS vs
                     FROM wj)
          SELECT day, n_days, CAST(len(vs) AS BIGINT) AS n_sample,
                 ${sketchQuantileSql("vs", "len(vs)", "0.5")} AS p50_est,
                 ${sketchQuantileSql("vs", "len(vs)", "0.95")} AS p95_est
          FROM m ORDER BY day"""),
    QuerySpec("q_distinct_cube", (s, dir) => {
      // DISTINCT-COUNT CUBE via sketch rollup — the lattice payoff of
      // the KMV algebra: distinct users per (type, week) leaf AND
      // every subtotal level (per type, per week, grand total). The
      // exact alternatives both fail at 100 TB: cube+countDistinct
      // plans an Expand that multiplies every row by the lattice
      // size, and per-level distinct passes re-shuffle the corpus
      // once PER LEVEL. Here the corpus is scanned once into ~30
      // 1 KiB leaf sketches (pinned — four levels read them), and
      // every subtotal is a keep-set union fold over leaf rows.
      // Exact counts ride alongside per level (distinct+count, no
      // Expand — affordable at the gate SF) so the estimation error
      // is in the artifact; k=128 < the 150-user universe keeps the
      // upper levels in the true estimation regime.
      val ev = t(s, dir, "events").where(col("user_id").isNotNull)
        .select(col("event_type").as("et"),
          expr("((ts div 1000) div 86400000000) div 7").as("wk"),
          col("user_id"))
      val leaf = ev.groupBy(col("et"), col("wk"))
        .agg(Sketches.kmvKeepSet(
          LongHashes.splitmix64(col("user_id")), 128).as("sk"))
        .localCheckpoint()
      def est(sks: Column) = Sketches.kmvUnionDistinctAll(sks, 128)
      val nullEt = lit(null).cast(StringType)
      val nullWk = lit(null).cast(LongType)
      val leaves = leaf.select(lit("1_leaf").as("level"), col("et"),
        col("wk"), est(array(col("sk"))).as("est_d"))
      val byType = leaf.groupBy(col("et"))
        .agg(collect_list(col("sk")).as("sks"))
        .select(lit("2_type").as("level"), col("et"), nullWk.as("wk"),
          est(col("sks")).as("est_d"))
      val byWeek = leaf.groupBy(col("wk"))
        .agg(collect_list(col("sk")).as("sks"))
        .select(lit("3_week").as("level"), nullEt.as("et"), col("wk"),
          est(col("sks")).as("est_d"))
      val total = leaf.agg(collect_list(col("sk")).as("sks"))
        .select(lit("4_total").as("level"), nullEt.as("et"),
          nullWk.as("wk"), est(col("sks")).as("est_d"))
      val xLeaf = ev.distinct().groupBy(col("et"), col("wk"))
        .agg(count(lit(1)).as("exact_d"))
      val xType = ev.select(col("et"), col("user_id")).distinct()
        .groupBy(col("et")).agg(count(lit(1)).as("exact_d"))
      val xWeek = ev.select(col("wk"), col("user_id")).distinct()
        .groupBy(col("wk")).agg(count(lit(1)).as("exact_d"))
      val xTotal = ev.select(col("user_id")).distinct()
        .agg(count(lit(1)).as("exact_d"))
      leaves.join(xLeaf, Seq("et", "wk"))
        .select(col("level"), col("et"), col("wk"), col("est_d"),
          col("exact_d"))
        .unionByName(byType.join(xType, Seq("et"))
          .select(col("level"), col("et"), col("wk"), col("est_d"),
            col("exact_d")))
        .unionByName(byWeek.join(xWeek, Seq("wk"))
          .select(col("level"), col("et"), col("wk"), col("est_d"),
            col("exact_d")))
        .unionByName(total.crossJoin(broadcast(xTotal))
          .select(col("level"), col("et"), col("wk"), col("est_d"),
            col("exact_d")))
        .orderBy("level", "et", "wk")
    },
    // Cube replay: one keep-set chain per (type, week) leaf, subtotal
    // levels as flatten/dedup/re-slice union folds, exact distinct
    // counts per level alongside.
    () =>
      raw"""WITH e AS (SELECT event_type AS et,
                              (epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000) // 7 AS wk,
                              user_id
                       FROM events WHERE user_id IS NOT NULL),
               d0 AS (SELECT DISTINCT et, wk, user_id, CAST(user_id AS HUGEINT) AS z FROM e),
               ${splitmixCtesSql("d0", "et, wk")},
               rk AS (SELECT et, wk, z,
                             row_number() OVER (PARTITION BY et, wk ORDER BY z) AS rn
                      FROM h5),
               kk AS (SELECT et, wk, list(z ORDER BY z) AS s
                      FROM rk WHERE rn <= 128 GROUP BY et, wk),
               mt AS (SELECT et, list_sort(list_distinct(flatten(list(s))))[1:128] AS x
                      FROM kk GROUP BY et),
               mw AS (SELECT wk, list_sort(list_distinct(flatten(list(s))))[1:128] AS x
                      FROM kk GROUP BY wk),
               mg AS (SELECT list_sort(list_distinct(flatten(list(s))))[1:128] AS x
                      FROM kk),
               xl AS (SELECT et, wk, CAST(count(*) AS BIGINT) AS exact_d
                      FROM (SELECT DISTINCT et, wk, user_id FROM e) GROUP BY et, wk),
               xt AS (SELECT et, CAST(count(*) AS BIGINT) AS exact_d
                      FROM (SELECT DISTINCT et, user_id FROM e) GROUP BY et),
               xw AS (SELECT wk, CAST(count(*) AS BIGINT) AS exact_d
                      FROM (SELECT DISTINCT wk, user_id FROM e) GROUP BY wk),
               xg AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS exact_d FROM e)
          SELECT '1_leaf' AS level, kk.et AS et, kk.wk AS wk,
                 ${kmvEstSql("s", 128)} AS est_d, xl.exact_d AS exact_d
          FROM kk JOIN xl ON xl.et = kk.et AND xl.wk = kk.wk
          UNION ALL
          SELECT '2_type', mt.et, CAST(NULL AS BIGINT),
                 ${kmvEstSql("x", 128)}, xt.exact_d
          FROM mt JOIN xt ON xt.et = mt.et
          UNION ALL
          SELECT '3_week', CAST(NULL AS VARCHAR), mw.wk,
                 ${kmvEstSql("x", 128)}, xw.exact_d
          FROM mw JOIN xw ON xw.wk = mw.wk
          UNION ALL
          SELECT '4_total', CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
                 ${kmvEstSql("x", 128)}, xg.exact_d
          FROM mg, xg
          ORDER BY level, et, wk"""),
    QuerySpec("q_kmv_setops", (s, dir) => {
      // KMV SET ALGEBRA — the sketch-rollup payoff on top of
      // q_kmv_resemblance: the merged keep set of two sketches IS the
      // union's sketch (KMV is closed under merge), so per-flag 2 KiB
      // sketches answer |A∪B| (kth-minimum estimator on the merged
      // set) and |A∩B| (inclusion-exclusion: J_est * U_est) for every
      // pair WITHOUT re-scanning — at 100 TB this is how per-day /
      // per-partition sketch tables roll up to cross-corpus distinct
      // counts. Exact relational answers ride alongside so both
      // errors are in the artifact (observed ~1-3% at k=256).
      val d = t(s, dir, "lineitem")
        .select(col("l_returnflag").as("f"), col("l_orderkey").as("k"))
        .distinct()
      val sk = d.groupBy("f").agg(
        Sketches.kmvKeepSet(LongHashes.splitmix64(col("k")), 256).as("sk"),
        count(lit(1)).as("n"))
      val inter = d.as("x").join(d.as("y"),
          col("x.k") === col("y.k") && col("x.f") < col("y.f"))
        .groupBy(col("x.f").as("fa"), col("y.f").as("fb"))
        .agg(count(lit(1)).as("inter"))
      val estU = Sketches.kmvUnionDistinct(col("a.sk"), col("b.sk"), 256)
      val estJ = Sketches.kmvResemblance(col("a.sk"), col("b.sk"), 256)
      sk.as("a").join(sk.as("b"), col("a.f") < col("b.f"))
        .join(inter, col("a.f") === col("fa") && col("b.f") === col("fb"))
        .select(col("a.f").as("flag_a"), col("b.f").as("flag_b"),
          estU.as("est_union"),
          (col("a.n") + col("b.n") - col("inter")).as("exact_union"),
          (estJ * estU.cast(DoubleType)).as("est_inter"),
          col("inter").as("exact_inter"))
        .orderBy("flag_a", "flag_b")
    },
    // Set-algebra rollup on the same keep-set replay: merged sketch's
    // kth minimum -> HUGEINT union estimator (exact truncating integer
    // division == the JVM BigInteger floor), J_est * U_est intersection.
    () =>
      raw"""WITH d0 AS (SELECT l_returnflag AS f, l_orderkey AS k,
                               CAST(l_orderkey AS HUGEINT) AS z
                        FROM (SELECT DISTINCT l_returnflag, l_orderkey FROM lineitem)),
               ${splitmixCtesSql("d0", "f, k")},
               rk AS (SELECT f, z AS hu,
                             row_number() OVER (PARTITION BY f ORDER BY z) AS rn
                      FROM h5),
               sk AS (SELECT f, count(*) AS n FROM rk GROUP BY f),
               kk AS (SELECT f, list(hu ORDER BY hu) AS s
                      FROM rk WHERE rn <= 256 GROUP BY f),
               iv AS (SELECT x.f AS fa, y.f AS fb, count(*) AS inter
                      FROM d0 x JOIN d0 y ON x.k = y.k AND x.f < y.f
                      GROUP BY 1, 2),
               pr AS (SELECT a.f AS flag_a, b.f AS flag_b,
                             ka.s AS sa, kb.s AS sb,
                             a.n AS n_a, b.n AS n_b, iv.inter AS inter
                      FROM sk a JOIN sk b ON a.f < b.f
                      JOIN kk ka ON ka.f = a.f
                      JOIN kk kb ON kb.f = b.f
                      JOIN iv ON iv.fa = a.f AND iv.fb = b.f),
               c AS (SELECT flag_a, flag_b, n_a, n_b, inter, sa, sb,
                            list_sort(list_distinct(sa || sb))[1:256] AS x
                     FROM pr),
               u AS (SELECT flag_a, flag_b, n_a, n_b, inter, sa, sb, x,
                            CASE WHEN len(x) < 256 THEN CAST(len(x) AS BIGINT)
                                 ELSE CAST(least(
                                        (255 * CAST('18446744073709551616' AS HUGEINT))
                                          // x[len(x)],
                                        CAST('9223372036854775807' AS HUGEINT))
                                      AS BIGINT) END AS est_union
                     FROM c)
          SELECT flag_a, flag_b, est_union,
                 CAST(n_a + n_b - inter AS BIGINT) AS exact_union,
                 (CAST(len(list_intersect(list_intersect(x, sa), sb)) AS DOUBLE)
                  / CAST(len(x) AS DOUBLE)) * CAST(est_union AS DOUBLE) AS est_inter,
                 CAST(inter AS BIGINT) AS exact_inter
          FROM u ORDER BY flag_a, flag_b"""),
    QuerySpec("q_bloom_join", (s, dir) => {
      // Bloom semi-join reduction: broadcast a 2 KiB bloom of the
      // selective orders side and prune lineitem BEFORE the join
      // shuffle. No false negatives, and the exact join removes false
      // positives — so the ORACLE is simply the plain join; the bloom
      // changes shuffle bytes, never the answer. At 100 TB this is the
      // pattern for build sides too big to broadcast-hash-join
      // (~10 bits/key vs >100 bytes/key).
      val hi = t(s, dir, "orders").where(col("o_totalprice") > 400000)
        .select(col("o_orderkey"), col("o_totalprice"))
      val bloom = hi.agg(Sketches.bloomFilter(col("o_orderkey"),
        bits = 1 << 14, numHashes = 3).as("bf"))
      val pruned = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"))
        .crossJoin(broadcast(bloom))
        .where(Sketches.bloomMightContain(col("bf"), col("l_orderkey"),
          bits = 1 << 14, numHashes = 3))
        .select(col("l_orderkey"), col("l_extendedprice"))
      pruned.join(hi, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_extendedprice").cast(DecimalType(18, 4)))
            .cast(DoubleType).as("sum_price"),
          max(col("o_totalprice")).as("o_total"))
        .orderBy("o_orderkey")
    },
    () =>
      """WITH hi AS (SELECT o_orderkey, o_totalprice FROM orders
                     WHERE o_totalprice > 400000)
         SELECT o_orderkey, count(*) AS n_items,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
                max(o_totalprice) AS o_total
         FROM lineitem JOIN hi ON l_orderkey = o_orderkey
         GROUP BY o_orderkey ORDER BY o_orderkey"""),
    QuerySpec("q_cms", (s, dir) => {
      // Count-Min frequency sketch: one 4x64 counter grid over ALL
      // events (8*256 bytes per partition at any cardinality), then
      // point estimates for users 0-9 against their exact counts.
      // Counters are pure sums, so the oracle replays every cell with
      // a groupBy over the same SplitMix64 buckets; width 64 is small
      // enough that collisions actually happen (est >= true is real,
      // not vacuous).
      val ev = t(s, dir, "events").select(col("user_id"))
      val grid = ev.agg(Sketches.countMin(col("user_id"), 4, 64).as("grid"))
      val probes = s.range(0, 10).select(col("id").as("user_id"))
      val est = probes.crossJoin(broadcast(grid))
        .select(col("user_id"),
          Sketches.cmsEstimate(col("grid"), col("user_id"), 4, 64).as("est_n"))
      ev.where(col("user_id") <= 9).groupBy(col("user_id"))
        .agg(count(lit(1)).as("true_n"))
        .join(broadcast(est), Seq("user_id"))
        .select(col("user_id"), col("true_n"), col("est_n"))
        .orderBy("user_id")
    },
    () =>
      raw"""WITH d AS (SELECT i, user_id,
                              CAST(xor(CAST(user_id AS UBIGINT), CAST(i AS UBIGINT)) AS HUGEINT) AS z
                       FROM events CROSS JOIN range(0, 4) t(i)),
               ${splitmixCtesSql("d", "i, user_id")},
               b AS (SELECT i, user_id,
                            CAST(CAST(z AS UBIGINT) % 64 AS BIGINT) AS bucket
                     FROM h5),
               cells AS (SELECT i, bucket, count(*) AS c
                         FROM b GROUP BY i, bucket),
               pb AS (SELECT DISTINCT i, user_id, bucket FROM b
                      WHERE user_id BETWEEN 0 AND 9),
               est AS (SELECT user_id, CAST(min(c) AS BIGINT) AS est_n
                       FROM pb JOIN cells USING (i, bucket) GROUP BY user_id),
               tr AS (SELECT user_id, count(*) AS true_n FROM events
                      WHERE user_id BETWEEN 0 AND 9 GROUP BY user_id)
          SELECT user_id, true_n, est_n
          FROM tr JOIN est USING (user_id) ORDER BY user_id"""),
    QuerySpec("q_heavy_hitters", (s, dir) => {
      // EXACT heavy hitters without a full-cardinality shuffle
      // (Sketches.heavyHitters): pass 1 builds a constant-size CMS
      // grid, pass 2 prefilters rows MAP-SIDE against the broadcast
      // grid so only candidate keys enter the exact groupBy. CMS only
      // overcounts, so no false negatives; the exact confirm drops
      // collision false positives — the oracle is therefore the plain
      // GROUP BY ... HAVING, and equality is exact, not approximate.
      // Non-vacuous regime at sf0.01: 16 hitters among 2000 part keys.
      // Sizing contract (documented on the op): keep
      // n_rows/width << threshold or the prefilter admits everyone and
      // the plan degenerates to the naive shuffle it exists to avoid.
      Sketches.heavyHitters(
          t(s, dir, "lineitem").select(col("l_partkey")),
          "l_partkey", threshold = 45, depth = 4, width = 4096)
        .orderBy("l_partkey")
    },
    // CMS prefilter has no false negatives and the confirm is exact, so
    // the two-pass sketch pipeline equals the naive GROUP BY ... HAVING.
    () =>
      """SELECT l_partkey, count(*) AS n FROM lineitem
         GROUP BY l_partkey HAVING count(*) >= 45 ORDER BY l_partkey"""),
    QuerySpec("q_profile_sketch", (s, dir) => {
      // The HEADLINE profile for scale (q_profile stays as the exact
      // reference): q_profile's 4-way countDistinct makes Catalyst plan
      // an Expand that multiplies every row 5x before the exchange —
      // at 100 TB that is a ~500 TB shuffle feeding an exact distinct
      // per column. Here count/nulls/min/max/sum stay EXACT while the
      // distinct swaps to the engine's own KMV sketch
      // (Sketches.kmvDistinct, ~6% rel. error at k=256, exact below
      // 256 distincts): ONE plain aggregate with map-side partials, no
      // Expand, 16*k bytes per column per partition whatever the input
      // cardinality. TPC-H measures are cent-valued doubles, so
      // `round(x*100)` cast to long is a LOSSLESS sketch key that the
      // oracle replays bit-for-bit (same IEEE multiply both engines).
      // At sf0.01: quantity/discount/tax have <256 distincts (est is
      // exact), extendedprice overflows the buffer (est is a real
      // estimate) — both regimes exercised.
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val aggs = cols.flatMap { c =>
        Seq(count(col(c)).as(s"${c}_n"),
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"),
          Sketches.kmvDistinct(
            LongHashes.splitmix64(round(col(c) * 100).cast(LongType)), 256)
            .getField("est").as(s"${c}_distinct_est"),
          min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max"),
          sum(col(c).cast(DecimalType(18, 4))).cast(DoubleType).as(s"${c}_sum"))
      }
      val wide = t(s, dir, "lineitem").agg(aggs.head, aggs.tail: _*)
      val stackExpr = cols.map(c =>
        s"'$c', ${c}_n, ${c}_nulls, ${c}_distinct_est, ${c}_min, ${c}_max, ${c}_sum")
        .mkString(s"stack(${cols.length}, ", ", ", ")")
      wide.select(expr(
          s"$stackExpr AS (col_name, n, n_nulls, n_distinct_est, min_v, max_v, sum_v)"))
        .orderBy("col_name")
    },
    () =>
      raw"""WITH d AS (SELECT DISTINCT col_name,
                              CAST(CAST(round(v * 100) AS BIGINT) AS HUGEINT) AS z
                       FROM (SELECT 'l_quantity' AS col_name, l_quantity AS v FROM lineitem
                             UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
                             UNION ALL SELECT 'l_discount', l_discount FROM lineitem
                             UNION ALL SELECT 'l_tax', l_tax FROM lineitem)
                       WHERE v IS NOT NULL),
               ${splitmixCtesSql("d", "col_name")},
               k AS (SELECT col_name,
                            list_sort(list(CAST(z AS UBIGINT)))[1:256] AS ks
                     FROM h5 GROUP BY col_name),
               e AS (SELECT col_name,
                            CASE WHEN len(ks) < 256 THEN CAST(len(ks) AS BIGINT)
                                 ELSE CAST(LEAST(CAST(255 AS HUGEINT) * CAST('18446744073709551616' AS HUGEINT)
                                                   // CAST(list_max(ks) AS HUGEINT),
                                                 CAST('9223372036854775807' AS HUGEINT)) AS BIGINT)
                            END AS n_distinct_est
                     FROM k),
               st AS (
                 SELECT 'l_quantity' AS col_name, count(l_quantity) AS n,
                        CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
                        min(l_quantity) AS min_v, max(l_quantity) AS max_v,
                        CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_v FROM lineitem
                 UNION ALL
                 SELECT 'l_extendedprice', count(l_extendedprice),
                        CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                        min(l_extendedprice), max(l_extendedprice),
                        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) FROM lineitem
                 UNION ALL
                 SELECT 'l_discount', count(l_discount),
                        CAST(sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                        min(l_discount), max(l_discount),
                        CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) FROM lineitem
                 UNION ALL
                 SELECT 'l_tax', count(l_tax),
                        CAST(sum(CASE WHEN l_tax IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                        min(l_tax), max(l_tax),
                        CAST(sum(CAST(l_tax AS DECIMAL(18,4))) AS DOUBLE) FROM lineitem)
          SELECT col_name, n, n_nulls, n_distinct_est, min_v, max_v, sum_v
          FROM st JOIN e USING (col_name) ORDER BY col_name"""),
    QuerySpec("q_hll", (s, dir) => {
      // HyperLogLog distinct users per event type
      // (Sketches.hllDistinct, p=6 -> 64 one-byte registers: sized so
      // sf0.01's ~150 users already clear the raw-regime n >~ 2.5m
      // boundary) with
      // the EXACT count alongside: the raw-estimator bias is measured
      // in-artifact, not hidden (the paper's corrections need libm
      // log — banned). Registers replay bit-for-bit through the
      // splitmix chain; the harmonic fold is pinned-order.
      val e = t(s, dir, "events").select(col("event_type"),
        col("user_id"), LongHashes.splitmix64(col("user_id")).as("h"))
      val hll = graft.ops.Sketches.hllDistinct(e, Seq("event_type"),
        "h", p = 6)
      val ex = e.groupBy(col("event_type"))
        .agg(count_distinct(col("user_id")).as("n_exact"))
      hll.join(ex, Seq("event_type"))
        .select(col("event_type"), col("n_exact"), col("n_buckets_hit"),
          col("hll_est"),
          ((col("hll_est") - col("n_exact").cast(DoubleType)) /
            col("n_exact").cast(DoubleType)).as("rel_err"))
        .orderBy("event_type")
    },
    // HLL replay: distinct pairs through the shared splitmix chain,
    // registers via the generated trailing-zero CASE, pinned-order
    // harmonic fold over the shared power-of-two literal table.
    () => {
      val rhoCase = hllRhoCaseSql
      val powList = hllPowListSql
      val alpha = hllAlphaSql
      val est = s"$alpha / (s_present + CAST(64 - n_buckets_hit AS DOUBLE))"
      raw"""WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
              b0 AS (SELECT event_type, user_id,
                            CAST(user_id AS HUGEINT) AS z FROM du),
              ${splitmixCtesSql("b0", "event_type, user_id")},
              rg AS (SELECT event_type, b, max($rhoCase) AS rho
                     FROM (SELECT event_type, CAST(z % 64 AS INTEGER) AS b,
                                  z // 64 AS v
                           FROM h5)
                     GROUP BY 1, 2),
              ag AS (SELECT event_type,
                            CAST(count(*) AS BIGINT) AS n_buckets_hit,
                            list_reduce([CAST(0 AS DOUBLE)] ||
                              list(list_extract($powList, rho) ORDER BY b),
                              (a, c) -> a + c) AS s_present
                     FROM rg GROUP BY event_type),
              exd AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_exact
                      FROM du GROUP BY event_type)
         SELECT a.event_type, n_exact, n_buckets_hit, $est AS hll_est,
                ($est - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE)
                  AS rel_err
         FROM ag a JOIN exd USING (event_type) ORDER BY event_type"""
    }),
    QuerySpec("q_hll_setops", (s, dir) => {
      // HLL SET ALGEBRA (Sketches.hllSetOps): per event-type pair,
      // union/intersection/Jaccard estimates from max-merged registers
      // + inclusion-exclusion — the 1-byte-per-register source-overlap
      // matrix (KMV's q_kmv_setops keeps exact resemblance; HLL wins
      // on state). Exact counts ride alongside so the raw-estimator
      // bias stays measured, not hidden (the q_hll contract). Same
      // p=6 / splitmix framing as q_hll, so the register replay is
      // already proven; the union merge and the fixed-order
      // (est_a + est_b) - est_union are the only new pieces.
      val e = t(s, dir, "events").select(col("event_type"),
        col("user_id"), LongHashes.splitmix64(col("user_id")).as("h"))
      val ops = graft.ops.Sketches.hllSetOps(e, "event_type", "h", p = 6)
      val du = t(s, dir, "events")
        .select(col("event_type"), col("user_id")).distinct()
      val nx = du.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      val ix = du.as("x").join(du.as("y"),
          col("x.user_id") === col("y.user_id") &&
            col("x.event_type") < col("y.event_type"))
        .groupBy(col("x.event_type").as("group_a"),
          col("y.event_type").as("group_b"))
        .agg(count(lit(1)).as("n_inter_exact"))
      ops
        .join(nx.select(col("event_type").as("group_a"),
          col("n").as("__na")), Seq("group_a"))
        .join(nx.select(col("event_type").as("group_b"),
          col("n").as("__nb")), Seq("group_b"))
        .join(ix, Seq("group_a", "group_b"), "left")
        .select(col("group_a"), col("group_b"),
          coalesce(col("n_inter_exact"), lit(0L)).as("n_inter_exact"),
          (col("__na") + col("__nb") -
            coalesce(col("n_inter_exact"), lit(0L))).as("n_union_exact"),
          col("est_a"), col("est_b"), col("est_union"), col("est_inter"),
          col("jaccard_est"))
        .orderBy("group_a", "group_b")
    },
    // HLL set algebra: the q_hll register replay, then per event-type
    // pair a per-bucket MAX merge (lossless — exactly the sketch of
    // the concatenated input), the same pinned-order fold, and the
    // fixed-order inclusion-exclusion (est_a + est_b) - est_union.
    () => {
      def est(s: String, nh: String) =
        s"$hllAlphaSql / ($s + CAST(64 - $nh AS DOUBLE))"
      def fold(src: String, keys: String) =
        s"""SELECT $keys, CAST(count(*) AS BIGINT) AS nh,
           |       list_reduce([CAST(0 AS DOUBLE)] ||
           |         list(list_extract($hllPowListSql, rho) ORDER BY b),
           |         (a, c) -> a + c) AS sp
           |FROM $src GROUP BY ALL""".stripMargin
      raw"""WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
              b0 AS (SELECT event_type, user_id,
                            CAST(user_id AS HUGEINT) AS z FROM du),
              ${splitmixCtesSql("b0", "event_type, user_id")},
              rg AS MATERIALIZED (SELECT event_type, b, max($hllRhoCaseSql) AS rho
                     FROM (SELECT event_type, CAST(z % 64 AS INTEGER) AS b,
                                  z // 64 AS v
                           FROM h5)
                     GROUP BY 1, 2),
              ag AS (${fold("rg", "event_type")}),
              es AS (SELECT event_type, ${est("sp", "nh")} AS est FROM ag),
              gs AS (SELECT DISTINCT event_type FROM rg),
              pr AS (SELECT x.event_type AS ga, y.event_type AS gb
                     FROM gs x JOIN gs y ON x.event_type < y.event_type),
              ur AS (SELECT pr.ga AS ga, pr.gb AS gb, rg.b AS b,
                            max(rg.rho) AS rho
                     FROM pr JOIN rg ON rg.event_type = pr.ga
                                     OR rg.event_type = pr.gb
                     GROUP BY 1, 2, 3),
              ua AS (${fold("ur", "ga, gb")}),
              un AS (SELECT ga, gb, ${est("sp", "nh")} AS est_union FROM ua),
              exn AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
                      FROM du GROUP BY 1),
              exi AS (SELECT x.event_type AS ga, y.event_type AS gb,
                             CAST(count(*) AS BIGINT) AS n_inter
                      FROM du x JOIN du y ON x.user_id = y.user_id
                                         AND x.event_type < y.event_type
                      GROUP BY 1, 2)
         SELECT un.ga AS group_a, un.gb AS group_b,
                COALESCE(exi.n_inter, 0) AS n_inter_exact,
                na.n + nb.n - COALESCE(exi.n_inter, 0) AS n_union_exact,
                ea.est AS est_a, eb.est AS est_b, un.est_union,
                (ea.est + eb.est) - un.est_union AS est_inter,
                ((ea.est + eb.est) - un.est_union) / un.est_union AS jaccard_est
         FROM un JOIN es ea ON ea.event_type = un.ga
                 JOIN es eb ON eb.event_type = un.gb
                 JOIN exn na ON na.event_type = un.ga
                 JOIN exn nb ON nb.event_type = un.gb
                 LEFT JOIN exi ON exi.ga = un.ga AND exi.gb = un.gb
         ORDER BY group_a, group_b"""
    }),
    QuerySpec("q_hll_incremental", (s, dir) => {
      // INCREMENTAL HLL (Sketches.hllRegisters/hllMergeRegisters/
      // hllEstimate): the register table as a SHIPPED artifact — the
      // 100 TB workflow persists per-snapshot registers and folds
      // tonight's into yesterday's without rescanning yesterday's
      // corpus. The corpus splits at the q_drift day midpoint into two
      // "snapshots"; registers build per half, merge by per-bucket
      // max, and the artifact PROVES merge(regs(A), regs(B)) ==
      // regs(A ∪ B) register by register (n_reg_mismatch vs the
      // single-pass full build, plus both estimates side by side —
      // equal doubles, since identical registers feed the same pinned
      // fold). Same p=6 / splitmix framing as q_hll.
      val ev = t(s, dir, "events").select(col("event_type"),
        expr("(ts div 1000) div 86400000000").as("day"),
        LongHashes.splitmix64(col("user_id")).as("h"))
      val g = Seq("event_type")
      val regsA = graft.ops.Sketches.hllRegisters(
        ev.where(col("day") < 19740), g, "h", p = 6)
      val regsB = graft.ops.Sketches.hllRegisters(
        ev.where(col("day") >= 19740), g, "h", p = 6)
      val merged = graft.ops.Sketches.hllMergeRegisters(
        Seq(regsA, regsB), g)
      val full = graft.ops.Sketches.hllRegisters(ev, g, "h", p = 6)
      val mismatch = merged.select(col("event_type"), col("b"),
          col("rho").as("rho_m"))
        .join(full.select(col("event_type"), col("b"),
          col("rho").as("rho_f")), Seq("event_type", "b"), "full_outer")
        .groupBy(col("event_type"))
        .agg(sum(when(col("rho_m") <=> col("rho_f"), lit(0L))
          .otherwise(lit(1L))).as("n_reg_mismatch"))
      val estM = graft.ops.Sketches.hllEstimate(merged, g, p = 6)
        .select(col("event_type"), col("n_buckets_hit"),
          col("hll_est").as("est_merged"))
      val estF = graft.ops.Sketches.hllEstimate(full, g, p = 6)
        .select(col("event_type"), col("hll_est").as("est_full"))
      estM.join(estF, Seq("event_type"))
        .join(mismatch, Seq("event_type"))
        .select(col("event_type"), col("n_buckets_hit"),
          col("n_reg_mismatch"), col("est_merged"), col("est_full"))
        .orderBy("event_type")
    },
    () => {
      def est(s: String, nh: String) =
        s"$hllAlphaSql / ($s + CAST(64 - $nh AS DOUBLE))"
      def fold(src: String, keys: String) =
        s"""SELECT $keys, CAST(count(*) AS BIGINT) AS nh,
           |       list_reduce([CAST(0 AS DOUBLE)] ||
           |         list(list_extract($hllPowListSql, rho) ORDER BY b),
           |         (a, c) -> a + c) AS sp
           |FROM $src GROUP BY ALL""".stripMargin
      raw"""WITH du AS (SELECT DISTINCT event_type,
                            (epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000
                              >= 19740) AS pt,
                            user_id FROM events),
              b0 AS (SELECT event_type, pt,
                            CAST(user_id AS HUGEINT) AS z FROM du),
              ${splitmixCtesSql("b0", "event_type, pt")},
              hb AS MATERIALIZED (SELECT event_type, pt,
                            CAST(z % 64 AS INTEGER) AS b, z // 64 AS v
                     FROM h5),
              rga AS (SELECT event_type, b, max($hllRhoCaseSql) AS rho
                      FROM hb WHERE NOT pt GROUP BY 1, 2),
              rgb AS (SELECT event_type, b, max($hllRhoCaseSql) AS rho
                      FROM hb WHERE pt GROUP BY 1, 2),
              mg AS MATERIALIZED (SELECT event_type, b, max(rho) AS rho
                     FROM (SELECT * FROM rga UNION ALL SELECT * FROM rgb)
                     GROUP BY 1, 2),
              fr AS MATERIALIZED (SELECT event_type, b,
                            max($hllRhoCaseSql) AS rho
                     FROM hb GROUP BY 1, 2),
              mm AS (SELECT COALESCE(m.event_type, f.event_type)
                              AS event_type,
                            CAST(sum(CASE WHEN m.rho IS NOT DISTINCT
                              FROM f.rho THEN 0 ELSE 1 END) AS BIGINT)
                              AS n_reg_mismatch
                     FROM mg m FULL OUTER JOIN fr f
                       ON f.event_type = m.event_type AND f.b = m.b
                     GROUP BY 1),
              am AS (${fold("mg", "event_type")}),
              af AS (${fold("fr", "event_type")})
         SELECT am.event_type, am.nh AS n_buckets_hit, mm.n_reg_mismatch,
                ${est("am.sp", "am.nh")} AS est_merged,
                ${est("af.sp", "af.nh")} AS est_full
         FROM am JOIN af ON af.event_type = am.event_type
                 JOIN mm ON mm.event_type = am.event_type
         ORDER BY am.event_type"""
    }),
    QuerySpec("q_cms_incr", (s, dir) => {
      // INCREMENTAL COUNT-MIN (Sketches.cmsGrids/cmsMergeGrids/
      // cmsEstimate): the CMS member of the persistence family — the
      // q_hll_incremental story for frequency sketches. Grids build
      // per snapshot half (the q_drift day midpoint), merge by
      // cell-wise SUM, and the artifact proves merge(grid(A),
      // grid(B)) == grid(A ∪ B) cell by cell (n_cell_mismatch vs the
      // single-pass full build), plus a point estimate served from
      // the MERGED state next to the single-pass one (equal longs —
      // identical grids feed the same min-over-rows), and the row-0
      // mass (== input rows: every key increments one cell per row).
      val ev = t(s, dir, "events").select(col("event_type"),
        expr("(ts div 1000) div 86400000000").as("day"), col("user_id"))
      val g = Seq("event_type")
      val ga = Sketches.cmsGrids(ev.where(col("day") < 19740), g,
        "user_id", depth = 4, width = 64)
      val gb = Sketches.cmsGrids(ev.where(col("day") >= 19740), g,
        "user_id", depth = 4, width = 64)
      val merged = Sketches.cmsMergeGrids(Seq(ga, gb), g,
        depth = 4, width = 64)
      val full = Sketches.cmsGrids(ev, g, "user_id", depth = 4, width = 64)
      merged.select(col("event_type"), col("cms_grid").as("gm"))
        .join(full.select(col("event_type"), col("cms_grid").as("gf")),
          Seq("event_type"))
        .select(col("event_type"),
          aggregate(zip_with(col("gm"), col("gf"),
              (x, y) => when(x === y, 0L).otherwise(1L)),
            lit(0L), (acc, v) => acc + v).as("n_cell_mismatch"),
          aggregate(slice(col("gm"), 1, 64), lit(0L),
            (acc, v) => acc + v).as("n_events"),
          Sketches.cmsEstimate(col("gm"), lit(5L), depth = 4, width = 64)
            .as("est_u5_merged"),
          Sketches.cmsEstimate(col("gf"), lit(5L), depth = 4, width = 64)
            .as("est_u5_full"))
        .orderBy("event_type")
    },
    // Incremental CMS replay over the sparse cells (zero cells match
    // trivially in the dense Spark compare and are absent here — a
    // discrepancy would surface identically in both framings): halves
    // sum into mg, the single pass is fr, mismatch is a full-outer
    // cell diff; the probe key's per-row buckets come from its own
    // rows (bucket is a pure function of (key, i)) and estimates are
    // min over rows of COALESCE(cell, 0).
    () =>
      raw"""WITH d AS (SELECT event_type,
                              (epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000
                                >= 19740) AS pt,
                              i, user_id,
                              CAST(xor(CAST(user_id AS UBIGINT), CAST(i AS UBIGINT)) AS HUGEINT) AS z
                       FROM events CROSS JOIN range(0, 4) t(i)
                       WHERE user_id IS NOT NULL),
               ${splitmixCtesSql("d", "event_type, pt, i, user_id")},
               b AS MATERIALIZED (SELECT event_type, pt, i, user_id,
                             CAST(CAST(z AS UBIGINT) % 64 AS BIGINT) AS bucket
                      FROM h5),
               mg AS MATERIALIZED (SELECT event_type, i, bucket,
                             CAST(sum(c) AS BIGINT) AS c
                      FROM (SELECT event_type, i, bucket, count(*) AS c
                            FROM b WHERE NOT pt GROUP BY 1, 2, 3
                            UNION ALL
                            SELECT event_type, i, bucket, count(*) AS c
                            FROM b WHERE pt GROUP BY 1, 2, 3)
                      GROUP BY 1, 2, 3),
               fr AS MATERIALIZED (SELECT event_type, i, bucket,
                             CAST(count(*) AS BIGINT) AS c
                      FROM b GROUP BY 1, 2, 3),
               mm AS (SELECT COALESCE(m.event_type, f.event_type) AS event_type,
                             CAST(sum(CASE WHEN COALESCE(m.c, 0) = COALESCE(f.c, 0)
                               THEN 0 ELSE 1 END) AS BIGINT) AS n_cell_mismatch
                      FROM mg m FULL OUTER JOIN fr f
                        ON f.event_type = m.event_type AND f.i = m.i
                       AND f.bucket = m.bucket
                      GROUP BY 1),
               ne AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n_events
                      FROM mg WHERE i = 0 GROUP BY 1),
               pd AS (SELECT i, CAST(xor(CAST(5 AS UBIGINT), CAST(i AS UBIGINT)) AS HUGEINT) AS z
                      FROM range(0, 4) t(i)),
               ${splitmixCtesSql("pd", "i", pfx = "p")},
               pb AS (SELECT i, CAST(CAST(z AS UBIGINT) % 64 AS BIGINT) AS bucket
                      FROM ph5),
               grp AS (SELECT DISTINCT event_type FROM fr),
               em AS (SELECT g.event_type,
                             CAST(min(COALESCE(m.c, 0)) AS BIGINT) AS est
                      FROM grp g CROSS JOIN pb p
                      LEFT JOIN mg m ON m.event_type = g.event_type
                        AND m.i = p.i AND m.bucket = p.bucket
                      GROUP BY 1),
               ef AS (SELECT g.event_type,
                             CAST(min(COALESCE(f.c, 0)) AS BIGINT) AS est
                      FROM grp g CROSS JOIN pb p
                      LEFT JOIN fr f ON f.event_type = g.event_type
                        AND f.i = p.i AND f.bucket = p.bucket
                      GROUP BY 1)
          SELECT mm.event_type, mm.n_cell_mismatch, ne.n_events,
                 em.est AS est_u5_merged, ef.est AS est_u5_full
          FROM mm JOIN ne USING (event_type)
                  JOIN em USING (event_type) JOIN ef USING (event_type)
          ORDER BY event_type"""),
    QuerySpec("q_bloom_incr", (s, dir) => {
      // INCREMENTAL BLOOM (Sketches.bloomWords/bloomMergeWords/
      // bloomMightContain): word arrays build per snapshot half, merge
      // by word-wise OR, and the artifact proves merge(words(A),
      // words(B)) == words(A ∪ B) word for word (n_word_mismatch vs
      // the single-pass build), with the set-bit population and a
      // membership probe served from the MERGED state next to the
      // single-pass one. At 100 TB this is how the semi-join-reduction
      // filter (q_bloom_join) stays nightly-maintainable: OR tonight's
      // words into the stored table, never rebuild from history.
      val ev = t(s, dir, "events").select(col("event_type"),
        expr("(ts div 1000) div 86400000000").as("day"), col("user_id"))
      val g = Seq("event_type")
      val wa = Sketches.bloomWords(ev.where(col("day") < 19740), g,
        "user_id", bits = 1 << 10, numHashes = 3)
      val wb = Sketches.bloomWords(ev.where(col("day") >= 19740), g,
        "user_id", bits = 1 << 10, numHashes = 3)
      val merged = Sketches.bloomMergeWords(Seq(wa, wb), g, bits = 1 << 10)
      val full = Sketches.bloomWords(ev, g, "user_id",
        bits = 1 << 10, numHashes = 3)
      merged.select(col("event_type"), col("bloom_words").as("wm"))
        .join(full.select(col("event_type"), col("bloom_words").as("wf")),
          Seq("event_type"))
        .select(col("event_type"),
          aggregate(zip_with(col("wm"), col("wf"),
              (x, y) => when(x === y, 0L).otherwise(1L)),
            lit(0L), (acc, v) => acc + v).as("n_word_mismatch"),
          aggregate(col("wm"), lit(0L),
            (acc, w) => acc + bit_count(w).cast(LongType)).as("n_bits_set"),
          Sketches.bloomMightContain(col("wm"), lit(5L),
            bits = 1 << 10, numHashes = 3).as("in_merged_u5"),
          Sketches.bloomMightContain(col("wf"), lit(5L),
            bits = 1 << 10, numHashes = 3).as("in_full_u5"))
        .orderBy("event_type")
    },
    // Incremental Bloom replay over the sparse SET-BIT sets (OR is set
    // union, so the merged words' bits are the DISTINCT union of the
    // halves' bits); word-level mismatch = words owning any one-sided
    // bit; the probe passes iff all its positions are set.
    () =>
      raw"""WITH d AS (SELECT event_type,
                              (epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000
                                >= 19740) AS pt,
                              i, user_id,
                              CAST(xor(CAST(user_id AS UBIGINT), CAST(i AS UBIGINT)) AS HUGEINT) AS z
                       FROM events CROSS JOIN range(0, 3) t(i)
                       WHERE user_id IS NOT NULL),
               ${splitmixCtesSql("d", "event_type, pt, i, user_id")},
               b AS MATERIALIZED (SELECT event_type, pt, user_id,
                             CAST(CAST(z AS UBIGINT) % 1024 AS BIGINT) AS bit
                      FROM h5),
               mgb AS MATERIALIZED (SELECT DISTINCT event_type,
                             bit // 64 AS word, bit % 64 AS pos
                      FROM (SELECT event_type, bit FROM b WHERE NOT pt
                            UNION ALL
                            SELECT event_type, bit FROM b WHERE pt)),
               frb AS MATERIALIZED (SELECT DISTINCT event_type,
                             bit // 64 AS word, bit % 64 AS pos
                      FROM b),
               grp AS (SELECT DISTINCT event_type FROM frb),
               onesided AS (SELECT COALESCE(m.event_type, f.event_type)
                              AS event_type,
                             COALESCE(m.word, f.word) AS word
                      FROM mgb m FULL OUTER JOIN frb f
                        ON f.event_type = m.event_type
                       AND f.word = m.word AND f.pos = m.pos
                      WHERE m.pos IS NULL OR f.pos IS NULL),
               mm AS (SELECT g.event_type,
                             CAST(count(DISTINCT o.word) AS BIGINT)
                               AS n_word_mismatch
                      FROM grp g LEFT JOIN onesided o USING (event_type)
                      GROUP BY 1),
               nb AS (SELECT event_type, CAST(count(*) AS BIGINT)
                               AS n_bits_set
                      FROM mgb GROUP BY 1),
               pd AS (SELECT i, CAST(xor(CAST(5 AS UBIGINT), CAST(i AS UBIGINT)) AS HUGEINT) AS z
                      FROM range(0, 3) t(i)),
               ${splitmixCtesSql("pd", "i", pfx = "p")},
               pbits AS (SELECT DISTINCT
                             CAST(CAST(z AS UBIGINT) % 1024 AS BIGINT) // 64 AS word,
                             CAST(CAST(z AS UBIGINT) % 1024 AS BIGINT) % 64 AS pos
                      FROM ph5),
               im AS (SELECT g.event_type,
                             bool_and(m.pos IS NOT NULL) AS in_merged_u5
                      FROM grp g CROSS JOIN pbits p
                      LEFT JOIN mgb m ON m.event_type = g.event_type
                        AND m.word = p.word AND m.pos = p.pos
                      GROUP BY 1),
               ifu AS (SELECT g.event_type,
                             bool_and(f.pos IS NOT NULL) AS in_full_u5
                      FROM grp g CROSS JOIN pbits p
                      LEFT JOIN frb f ON f.event_type = g.event_type
                        AND f.word = p.word AND f.pos = p.pos
                      GROUP BY 1)
          SELECT mm.event_type, mm.n_word_mismatch, nb.n_bits_set,
                 im.in_merged_u5, ifu.in_full_u5
          FROM mm JOIN nb USING (event_type)
                  JOIN im USING (event_type) JOIN ifu USING (event_type)
          ORDER BY event_type"""),
    QuerySpec("q_cms_retract", (s, dir) => {
      // CMS RETRACTION (Sketches.cmsSubtractGrids) — the deletion half
      // of q_cms_incr's nightly story: a takedown batch (the day >=
      // 19740 rows standing in for retracted history) builds its own
      // grid, which SUBTRACTS cell-wise from the stored full grid —
      // counters are pure sums, so base − delta == grid(survivors)
      // CELL FOR CELL, proven here against an independent single-pass
      // build on the surviving rows (n_cell_mismatch), with the u5
      // point estimate served from the retracted state next to the
      // survivors-build one (equal longs). Negative cells (retracting
      // rows never inserted) raise inside the op — the contract the
      // spec trips deliberately. Bloom/HLL have NO such fold (OR/max
      // are idempotent): their retraction entry points raise with the
      // rebuild-window remedy (SketchesSpec pins the raises).
      val ev = t(s, dir, "events").select(col("event_type"),
        expr("(ts div 1000) div 86400000000").as("day"), col("user_id"))
      val g = Seq("event_type")
      val full = Sketches.cmsGrids(ev, g, "user_id", depth = 4, width = 64)
      val delta = Sketches.cmsGrids(ev.where(col("day") >= 19740), g,
        "user_id", depth = 4, width = 64)
      val retracted = Sketches.cmsSubtractGrids(full, delta, g,
        depth = 4, width = 64)
      val survivors = Sketches.cmsGrids(ev.where(col("day") < 19740), g,
        "user_id", depth = 4, width = 64)
      retracted.select(col("event_type"), col("cms_grid").as("gr"))
        .join(survivors.select(col("event_type"), col("cms_grid").as("gs")),
          Seq("event_type"))
        .select(col("event_type"),
          aggregate(zip_with(col("gr"), col("gs"),
              (x, y) => when(x === y, 0L).otherwise(1L)),
            lit(0L), (acc, v) => acc + v).as("n_cell_mismatch"),
          aggregate(slice(col("gr"), 1, 64), lit(0L),
            (acc, v) => acc + v).as("n_events_surviving"),
          Sketches.cmsEstimate(col("gr"), lit(5L), depth = 4, width = 64)
            .as("est_u5_retracted"),
          Sketches.cmsEstimate(col("gs"), lit(5L), depth = 4, width = 64)
            .as("est_u5_survivors"))
        .orderBy("event_type")
    },
    // CMS retraction replay: per-cell counts for the full build and
    // the retracted half; the subtraction is replayed as plain
    // arithmetic and diffed against the survivors' single-pass counts
    // (counters are sums, so the diff must be zero everywhere). The
    // u5 probe buckets come from the literal key-5 splitmix chain —
    // never from observed rows (the q_cms_incr probe rule).
    () =>
      raw"""WITH d AS (SELECT event_type,
                              (epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000
                                >= 19740) AS rmv,
                              i, user_id,
                              CAST(xor(CAST(user_id AS UBIGINT), CAST(i AS UBIGINT)) AS HUGEINT) AS z
                       FROM events CROSS JOIN range(0, 4) t(i)
                       WHERE user_id IS NOT NULL),
               ${splitmixCtesSql("d", "event_type, rmv, i, user_id")},
               b AS MATERIALIZED (SELECT event_type, rmv, i, user_id,
                             CAST(CAST(z AS UBIGINT) % 64 AS BIGINT) AS bucket
                      FROM h5),
               fr AS MATERIALIZED (SELECT event_type, i, bucket,
                             CAST(count(*) AS BIGINT) AS c
                      FROM b GROUP BY 1, 2, 3),
               dl AS MATERIALIZED (SELECT event_type, i, bucket,
                             CAST(count(*) AS BIGINT) AS c
                      FROM b WHERE rmv GROUP BY 1, 2, 3),
               rt AS MATERIALIZED (SELECT f.event_type, f.i, f.bucket,
                             f.c - COALESCE(d2.c, 0) AS c
                      FROM fr f LEFT JOIN dl d2
                        ON d2.event_type = f.event_type AND d2.i = f.i
                       AND d2.bucket = f.bucket),
               sv AS MATERIALIZED (SELECT event_type, i, bucket,
                             CAST(count(*) AS BIGINT) AS c
                      FROM b WHERE NOT rmv GROUP BY 1, 2, 3),
               mm AS (SELECT COALESCE(r.event_type, s.event_type) AS event_type,
                             CAST(sum(CASE WHEN COALESCE(r.c, 0) = COALESCE(s.c, 0)
                               THEN 0 ELSE 1 END) AS BIGINT) AS n_cell_mismatch
                      FROM rt r FULL OUTER JOIN sv s
                        ON s.event_type = r.event_type AND s.i = r.i
                       AND s.bucket = r.bucket
                      GROUP BY 1),
               ne AS (SELECT event_type, CAST(sum(c) AS BIGINT)
                               AS n_events_surviving
                      FROM rt WHERE i = 0 GROUP BY 1),
               pd AS (SELECT i, CAST(xor(CAST(5 AS UBIGINT), CAST(i AS UBIGINT)) AS HUGEINT) AS z
                      FROM range(0, 4) t(i)),
               ${splitmixCtesSql("pd", "i", pfx = "p")},
               pb AS (SELECT i, CAST(CAST(z AS UBIGINT) % 64 AS BIGINT) AS bucket
                      FROM ph5),
               grp AS (SELECT DISTINCT event_type FROM fr),
               er AS (SELECT g.event_type,
                             CAST(min(COALESCE(r.c, 0)) AS BIGINT) AS est
                      FROM grp g CROSS JOIN pb p
                      LEFT JOIN rt r ON r.event_type = g.event_type
                        AND r.i = p.i AND r.bucket = p.bucket
                      GROUP BY 1),
               es AS (SELECT g.event_type,
                             CAST(min(COALESCE(s.c, 0)) AS BIGINT) AS est
                      FROM grp g CROSS JOIN pb p
                      LEFT JOIN sv s ON s.event_type = g.event_type
                        AND s.i = p.i AND s.bucket = p.bucket
                      GROUP BY 1)
          SELECT mm.event_type, mm.n_cell_mismatch, ne.n_events_surviving,
                 er.est AS est_u5_retracted, es.est AS est_u5_survivors
          FROM mm JOIN ne USING (event_type)
                  JOIN er USING (event_type) JOIN es USING (event_type)
          ORDER BY event_type"""),
    QuerySpec("q_quantile_sketch", (s, dir) => {
      // The bounded-size MERGEABLE quantile path: per-lang
      // Sketches.quantileSketch (k=32 values picked by smallest row
      // hash — every retention decision hash-derived, so the sketch
      // itself oracle-replays) next to the exact percentiles it
      // approximates, est + exact + abs error in one row (the
      // q_ann_recall recipe). Deliberately TWO aggregations joined on
      // the 5-row lang key, the q_kmv_distinct shape: the sketch
      // branch must keep its own single partial+merge exchange (no
      // sort, no Expand — pinned), because at 100 TB you would run
      // ONLY that branch: 16k bytes per (lang, partition) vs exact
      // percentile's full per-group value sort. Quantile extraction
      // is ONE explicit interpolation formula restated verbatim in
      // the SQL — no reliance on percentile/quantile_cont agreeing.
      val docs = t(s, dir, "documents")
      val sk = docs.groupBy(col("lang"))
        .agg(Sketches.quantileSketch(
          LongHashes.splitmix64(col("doc_id")),
          col("n_chars").cast(LongType), 32).as("qs"))
        .select(col("lang"), size(col("qs")).cast(LongType).as("n_sample"),
          Sketches.sketchQuantile(col("qs"), 0.5).as("p50_est"),
          Sketches.sketchQuantile(col("qs"), 0.9).as("p90_est"))
      val ex = docs.groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          expr("percentile(n_chars, 0.5D)").as("p50_exact"),
          expr("percentile(n_chars, 0.9D)").as("p90_exact"))
      sk.join(ex, Seq("lang"))
        .select(col("lang"), col("n"), col("n_sample"),
          col("p50_est"), col("p50_exact"),
          abs(col("p50_est") - col("p50_exact")).as("p50_abs_err"),
          col("p90_est"), col("p90_exact"),
          abs(col("p90_est") - col("p90_exact")).as("p90_abs_err"))
        .orderBy("lang")
    },
    // Full replay of the quantile SKETCH: rank rows per lang by the
    // HUGEINT splitmix chain, keep rn <= 32 (the bottom-k-by-hash kept
    // set, bit-for-bit), then apply the SAME explicit interpolation
    // formula the Spark side uses (sketchQuantileSql == sketchQuantile,
    // op for op) — exact percentiles ride alongside via quantile_cont
    // (the proven q_len_stats parity).
    () =>
      raw"""WITH d0 AS (SELECT lang, n_chars, CAST(doc_id AS HUGEINT) AS z
                        FROM documents WHERE n_chars IS NOT NULL),
               ${splitmixCtesSql("d0", "lang, n_chars")},
               rk AS (SELECT lang, n_chars,
                             row_number() OVER (PARTITION BY lang ORDER BY z) AS rn
                      FROM h5),
               sm AS (SELECT lang, list_sort(list(n_chars)) AS vs,
                             CAST(count(*) AS BIGINT) AS n_sample
                      FROM rk WHERE rn <= 32 GROUP BY lang),
               ex AS (SELECT lang, CAST(count(*) AS BIGINT) AS n,
                             quantile_cont(n_chars, 0.5) AS p50_exact,
                             quantile_cont(n_chars, 0.9) AS p90_exact
                      FROM documents GROUP BY lang),
               est AS (SELECT lang, n_sample,
                              ${sketchQuantileSql("vs", "n_sample", "0.5")} AS p50_est,
                              ${sketchQuantileSql("vs", "n_sample", "0.9")} AS p90_est
                       FROM sm)
          SELECT e.lang, x.n, e.n_sample,
                 e.p50_est, x.p50_exact, abs(e.p50_est - x.p50_exact) AS p50_abs_err,
                 e.p90_est, x.p90_exact, abs(e.p90_est - x.p90_exact) AS p90_abs_err
          FROM est e JOIN ex x USING (lang) ORDER BY lang"""),
    QuerySpec("q_quantile_incr", (s, dir) => {
      // INCREMENTAL QUANTILES (Sketches.quantileSummaries/
      // quantileMergeSummaries/summaryQuantile): the quantile member
      // of the mergeable-sketch persistence family, closing the gap
      // the header note explains — KLL/GK/t-digest compactions are
      // order-sensitive, so their merged and single-pass summaries
      // legitimately differ; the bottom-k-by-hash summary is closed
      // under union, so merge(sketch(A), sketch(B)) == sketch(A ∪ B)
      // PAIR FOR PAIR. Per-lang summaries build per corpus half (even/
      // odd doc ids standing in for two nightly snapshots), fold
      // WITHOUT rescanning either corpus, and the artifact proves the
      // closure (n_pair_mismatch vs the single-pass full build — keys
      // AND values, the strongest register-level form), then serves
      // p50/p90 from the MERGED state next to the EXACT percentiles
      // with their abs errors — the rank-error bound ~1.25/sqrt(k)
      // made measurable, the q_quantile_sketch presentation.
      val docs = t(s, dir, "documents").select(col("lang"),
        pmod(col("doc_id"), lit(2)).as("half"),
        LongHashes.splitmix64(col("doc_id")).as("h"),
        col("n_chars").cast(LongType).as("v"))
      val g = Seq("lang")
      val sa = Sketches.quantileSummaries(
        docs.where(col("half") === 0), g, "h", "v", k = 32)
      val sb = Sketches.quantileSummaries(
        docs.where(col("half") === 1), g, "h", "v", k = 32)
      val merged = Sketches.quantileMergeSummaries(Seq(sa, sb), g, k = 32)
      val full = Sketches.quantileSummaries(docs, g, "h", "v", k = 32)
      val ex = t(s, dir, "documents").groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          expr("percentile(n_chars, 0.5D)").as("p50_exact"),
          expr("percentile(n_chars, 0.9D)").as("p90_exact"))
      merged.select(col("lang"), col("qsketch").as("qm"))
        .join(full.select(col("lang"), col("qsketch").as("qf")),
          Seq("lang"))
        .select(col("lang"),
          size(col("qm")).cast(LongType).as("n_sample"),
          when(col("qm") <=> col("qf"), lit(0L)).otherwise(lit(1L))
            .as("n_pair_mismatch"),
          Sketches.summaryQuantile(col("qm"), 0.5).as("p50_est"),
          Sketches.summaryQuantile(col("qm"), 0.9).as("p90_est"))
        .join(ex, Seq("lang"))
        .select(col("lang"), col("n"), col("n_sample"),
          col("n_pair_mismatch"),
          col("p50_est"), col("p50_exact"),
          abs(col("p50_est") - col("p50_exact")).as("p50_abs_err"),
          col("p90_est"), col("p90_exact"),
          abs(col("p90_est") - col("p90_exact")).as("p90_abs_err"))
        .orderBy("lang")
    },
    // Incremental-quantile replay: per-half bottom-32 keep sets by the
    // splitmix chain, merged by re-ranking their UNION (the sketch
    // fold, re-derived independently), the single-pass bottom-32 next
    // to it, pair-lists diffed (keys AND values), then the same
    // explicit interpolation over the merged values — exact
    // percentiles ride along via quantile_cont.
    () =>
      raw"""WITH d0 AS (SELECT lang, doc_id % 2 AS half, n_chars,
                               CAST(doc_id AS HUGEINT) AS z
                        FROM documents WHERE n_chars IS NOT NULL),
               ${splitmixCtesSql("d0", "lang, half, n_chars")},
               rk AS MATERIALIZED (SELECT lang, half, n_chars, z,
                             row_number() OVER (PARTITION BY lang, half
                                                ORDER BY z) AS rn
                      FROM h5),
               mg0 AS (SELECT lang, n_chars, z,
                              row_number() OVER (PARTITION BY lang
                                                 ORDER BY z) AS rn
                       FROM rk WHERE rn <= 32),
               sm AS MATERIALIZED (SELECT lang,
                             list(struct_pack(z := z, v := n_chars)
                                  ORDER BY z) AS pm,
                             list_sort(list(n_chars)) AS vs,
                             CAST(count(*) AS BIGINT) AS n_sample
                      FROM mg0 WHERE rn <= 32 GROUP BY lang),
               fl AS (SELECT lang,
                             list(struct_pack(z := z, v := n_chars)
                                  ORDER BY z) AS pf
                      FROM (SELECT lang, n_chars, z,
                                   row_number() OVER (PARTITION BY lang
                                                      ORDER BY z) AS rn
                            FROM h5) WHERE rn <= 32 GROUP BY lang),
               ex AS (SELECT lang, CAST(count(*) AS BIGINT) AS n,
                             quantile_cont(n_chars, 0.5) AS p50_exact,
                             quantile_cont(n_chars, 0.9) AS p90_exact
                      FROM documents GROUP BY lang),
               est AS (SELECT s.lang, s.n_sample,
                              CAST(CASE WHEN s.pm = f.pf THEN 0 ELSE 1
                                   END AS BIGINT) AS n_pair_mismatch,
                              ${sketchQuantileSql("vs", "n_sample", "0.5")} AS p50_est,
                              ${sketchQuantileSql("vs", "n_sample", "0.9")} AS p90_est
                       FROM sm s JOIN fl f USING (lang))
          SELECT e.lang, x.n, e.n_sample, e.n_pair_mismatch,
                 e.p50_est, x.p50_exact, abs(e.p50_est - x.p50_exact) AS p50_abs_err,
                 e.p90_est, x.p90_exact, abs(e.p90_est - x.p90_exact) AS p90_abs_err
          FROM est e JOIN ex x USING (lang) ORDER BY lang"""),
    QuerySpec("q_quantile_retract", (s, dir) => {
      // QUANTILE SKETCH RETRACTION (Sketches.quantilePairsRetract) —
      // the bottom-k member of the deletion taxonomy (sums subtract:
      // q_cms_retract; per-row artifacts anti-join: q_lsh_retract;
      // idempotent folds raise: SketchesSpec): dropping the removed
      // rows' hashes from the stored pair array leaves EXACTLY the
      // survivors' smallest-m hashes (a removal cannot promote a
      // survivor past the old k-th minimum), i.e. a valid bottom-m
      // sketch at degraded resolution. prefix_match pins that claim
      // per lang: the retracted pairs == the from-scratch survivors'
      // bottom-32 truncated to m — keys AND values; p50 then serves
      // from the RETRACTED state next to the survivors' exact median.
      // The tombstone hash set rides as one bounded per-group array
      // (takedown sets are small); a tombstone set past broadcast
      // size would explode + anti-join instead.
      val docs0 = t(s, dir, "documents")
      val docs = docs0.select(col("lang"),
        pmod(col("doc_id"), lit(5)).as("m5"),
        LongHashes.splitmix64(col("doc_id")).as("h"),
        col("n_chars").cast(LongType).as("v"))
      val g = Seq("lang")
      val full = Sketches.quantileSummaries(docs, g, "h", "v", k = 32)
      val rm = docs.where(col("m5") === 0).groupBy(col("lang"))
        .agg(collect_list(col("h")).as("rmh"))
      val retracted = full.join(rm, Seq("lang"), "left")
        .select(col("lang"),
          Sketches.quantilePairsRetract(col("qsketch"),
            coalesce(col("rmh"), array().cast(ArrayType(LongType))))
            .as("qsketch"))
      val surv = Sketches.quantileSummaries(
        docs.where(col("m5") =!= 0), g, "h", "v", k = 32)
      val ex = docs0.where(pmod(col("doc_id"), lit(5)) =!= 0)
        .groupBy(col("lang"))
        .agg(expr("percentile(n_chars, 0.5D)").as("p50_exact"))
      retracted
        .join(surv.select(col("lang"), col("qsketch").as("qs")),
          Seq("lang"))
        .select(col("lang"),
          size(col("qsketch")).cast(LongType).as("n_sample"),
          (col("qsketch") <=> slice(col("qs"), lit(1),
            size(col("qsketch")))).as("prefix_match"),
          Sketches.summaryQuantile(col("qsketch"), 0.5).as("p50_est"))
        .join(ex, Seq("lang"))
        .select(col("lang"), col("n_sample"), col("prefix_match"),
          col("p50_est"), col("p50_exact"),
          abs(col("p50_est") - col("p50_exact")).as("p50_abs_err"))
        .orderBy("lang")
    },
    // Quantile-retraction replay: rank ALL rows by the splitmix chain,
    // keep rn <= 32, drop the removed rows from the kept set (the
    // retraction re-derived as plain filtering), then prefix-compare
    // against the survivors' own bottom-32 and serve the median via
    // the shared interpolation formula.
    () =>
      raw"""WITH d0 AS (SELECT lang, (doc_id % 5 = 0) AS rm, n_chars,
                               CAST(doc_id AS HUGEINT) AS z
                        FROM documents WHERE n_chars IS NOT NULL),
               ${splitmixCtesSql("d0", "lang, rm, n_chars")},
               rk AS MATERIALIZED (SELECT lang, rm, n_chars, z,
                             row_number() OVER (PARTITION BY lang
                                                ORDER BY z) AS rn
                      FROM h5),
               rt AS MATERIALIZED (SELECT lang,
                             list(struct_pack(z := z, v := n_chars)
                                  ORDER BY z) AS pm,
                             list_sort(list(n_chars)) AS vs,
                             CAST(count(*) AS BIGINT) AS n_sample
                      FROM rk WHERE rn <= 32 AND NOT rm GROUP BY lang),
               sv AS (SELECT lang,
                             list(struct_pack(z := z, v := n_chars)
                                  ORDER BY z) AS pf
                      FROM (SELECT lang, n_chars, z,
                                   row_number() OVER (PARTITION BY lang
                                                      ORDER BY z) AS rn
                            FROM h5 WHERE NOT rm) WHERE rn <= 32
                      GROUP BY lang),
               ex AS (SELECT lang,
                             quantile_cont(n_chars, 0.5) AS p50_exact
                      FROM documents WHERE doc_id % 5 <> 0
                      GROUP BY lang),
               est AS (SELECT r.lang, r.n_sample,
                              (r.pm = s.pf[1:CAST(r.n_sample AS INTEGER)])
                                AS prefix_match,
                              ${sketchQuantileSql("vs", "n_sample", "0.5")} AS p50_est
                       FROM rt r JOIN sv s USING (lang))
          SELECT e.lang, e.n_sample, e.prefix_match,
                 e.p50_est, x.p50_exact,
                 abs(e.p50_est - x.p50_exact) AS p50_abs_err
          FROM est e JOIN ex x USING (lang) ORDER BY lang""")
  )
}

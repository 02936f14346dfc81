package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry.t
import graft.ops.{Privacy, TextAnalysis, Validate}
import OracleSql.{rollingHashSql, langScoreCtesSql, langPredCaseSql, splitmixCtesSql, sketchQuantileSql}

/** Statistical tests, drift and data-quality checks from
  * [[graft.ops.Stats]], [[graft.ops.Validate]] and
  * [[graft.ops.Privacy]]. */
object StatsQueries {

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_winsorize", (s, dir) => {
      // Per-type winsorization (Stats.winsorize) — the CLEANING step
      // q_outliers_robust's flags call for: clamp each event's value
      // into its type's [p05, p95] sketch-quantile band instead of
      // dropping the row. Band edges off the hash-deterministic
      // sketch + fixed-order interpolation, broadcast back onto a
      // narrow scan — the log never shuffles; every clamped double
      // replays bit-exactly.
      val ev = t(s, dir, "events").select(col("event_id"),
        col("event_type"),
        floor(col("value") * 1000000.0 + lit(0.5)).cast(LongType).as("v"))
      graft.ops.Stats.winsorize(ev, "event_id", "event_type", "v",
          pLo = 0.05, pHi = 0.95)
        .orderBy("event_id")
    },
    // Same integer day-bucket arithmetic (`ts div 1000` nanos->micros
    // == epoch_us of the ns->us-truncated TIMESTAMP read), same
    // count-then-one-division recipe — retention is a single IEEE
    // division of exact BIGINTs, bit-exact across engines.
    // Winsorize replay: the robust-outlier sketch chain per type, p05/
    // p95 via the shared interpolation, null-guarded clamp. LEFT join +
    // q_lo guard: a row whose type has no band (NULL key or all-NULL
    // values) survives with NULL v_winsor/flags, exactly the Spark
    // left-join semantics — not just on this corpus, on any corpus.
    () =>
      raw"""WITH e AS (SELECT event_id, event_type,
                              CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v
                       FROM events),
               d0 AS (SELECT event_type, v, CAST(event_id AS HUGEINT) AS z
                      FROM e WHERE v IS NOT NULL),
               ${splitmixCtesSql("d0", "event_type, v")},
               rk AS (SELECT event_type, v,
                             row_number() OVER (PARTITION BY event_type ORDER BY z) AS rn
                      FROM h5),
               sm AS (SELECT event_type, list_sort(list(v)) AS vs,
                             CAST(count(*) AS BIGINT) AS n
                      FROM rk WHERE rn <= 256 GROUP BY event_type),
               bd AS (SELECT event_type,
                             ${sketchQuantileSql("vs", "n", "0.05")} AS q_lo,
                             ${sketchQuantileSql("vs", "n", "0.95")} AS q_hi
                      FROM sm)
          SELECT e.event_id, e.event_type, e.v,
                 CASE WHEN e.v IS NOT NULL AND bd.q_lo IS NOT NULL
                      THEN greatest(least(CAST(e.v AS DOUBLE), bd.q_hi), bd.q_lo)
                 END AS v_winsor,
                 (CAST(e.v AS DOUBLE) < bd.q_lo) AS clipped_lo,
                 (CAST(e.v AS DOUBLE) > bd.q_hi) AS clipped_hi
          FROM e LEFT JOIN bd USING (event_type)
          ORDER BY event_id"""),
    QuerySpec("q_bootstrap_ci", (s, dir) => {
      // Deterministic Poisson bootstrap (Stats.bootstrapCI): per-type
      // 95% CI for the mean event value in ONE aggregate pass — B=32
      // replicate weights from splitmix64(id*B+i) mapped through
      // literal Poisson(1) CDF thresholds, exact integer replicate
      // sums (fixed-point values), CI edges off the sorted replicate
      // means via the shared interpolation. The uncertainty layer the
      // point estimates (q1_agg, q_corr) lack.
      val ev = t(s, dir, "events").select(col("event_type"),
        col("event_id"),
        floor(col("value") * 1000000.0 + lit(0.5)).cast(LongType).as("v"))
      graft.ops.Stats.bootstrapCI(ev, Seq("event_type"), "event_id", "v")
        .orderBy("event_type")
    },
    // Bootstrap-CI replay: the (row, replicate) fan-out through the
    // SAME splitmix chain on id*32+i, the 53-bit uniform, the eight
    // literal Poisson(1) CDF thresholds (string-cast doubles — the
    // correctly-rounded parse), exact integer replicate sums, and the
    // shared interpolation over the sorted replicate means.
    () =>
      raw"""WITH e AS (SELECT event_type, event_id,
                              CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v
                       FROM events),
               d0 AS (SELECT event_type, v, i,
                             CAST(event_id * 32 + i AS HUGEINT) AS z
                      FROM e, range(0, 32) t(i)
                      WHERE v IS NOT NULL),
               ${splitmixCtesSql("d0", "event_type, v, i")},
               uw AS (SELECT event_type, v, i,
                             CAST(z // 2048 AS DOUBLE)
                               * CAST('1.1102230246251565E-16' AS DOUBLE) AS u
                      FROM h5),
               ww AS (SELECT event_type, v, i,
                             (CASE WHEN u >= CAST('0.36787944117144233' AS DOUBLE) THEN 1 ELSE 0 END
                            + CASE WHEN u >= CAST('0.7357588823428847' AS DOUBLE) THEN 1 ELSE 0 END
                            + CASE WHEN u >= CAST('0.9196986029286058' AS DOUBLE) THEN 1 ELSE 0 END
                            + CASE WHEN u >= CAST('0.9810118431238463' AS DOUBLE) THEN 1 ELSE 0 END
                            + CASE WHEN u >= CAST('0.9963401531726563' AS DOUBLE) THEN 1 ELSE 0 END
                            + CASE WHEN u >= CAST('0.9994058151824183' AS DOUBLE) THEN 1 ELSE 0 END
                            + CASE WHEN u >= CAST('0.999916758850712' AS DOUBLE) THEN 1 ELSE 0 END
                            + CASE WHEN u >= CAST('0.9999897508033253' AS DOUBLE) THEN 1 ELSE 0 END) AS w
                      FROM uw),
               rep AS (SELECT event_type, i,
                              CAST(sum(w * v) AS BIGINT) AS swx,
                              CAST(sum(w) AS BIGINT) AS sw
                       FROM ww GROUP BY 1, 2),
               ms AS (SELECT event_type,
                             list(m ORDER BY m) FILTER (WHERE m IS NOT NULL) AS vs
                      FROM (SELECT event_type,
                                   CASE WHEN sw > 0
                                        THEN CAST(swx AS DOUBLE) / CAST(sw AS DOUBLE)
                                   END AS m
                            FROM rep)
                      GROUP BY event_type),
               base AS (SELECT event_type, CAST(count(v) AS BIGINT) AS n,
                               CAST(CAST(sum(v) AS BIGINT) AS DOUBLE)
                                 / CAST(count(v) AS DOUBLE) AS mean
                        FROM e WHERE v IS NOT NULL GROUP BY event_type)
          SELECT b.event_type, b.n, b.mean,
                 CAST(len(vs) AS BIGINT) AS n_reps,
                 ${sketchQuantileSql("vs", "len(vs)", "0.025")} AS ci_lo,
                 ${sketchQuantileSql("vs", "len(vs)", "0.975")} AS ci_hi
          FROM base b JOIN ms USING (event_type)
          ORDER BY b.event_type"""),
    QuerySpec("q_outliers_robust", (s, dir) => {
      // Median/MAD outliers next to q_outliers' mean/std: the modified
      // z-score |0.6745*(v-med)/MAD| > 3.5 has a 50% breakdown point —
      // the outliers can't mask themselves by inflating the scale.
      // Both statistics come off the hash-deterministic quantile
      // sketch (same kept rows feed both — retention is by row hash),
      // so the monitor is a pure function of the row set and the
      // oracle replays sketch -> median -> deviations -> MAD -> flags.
      // Values fixed-pointed at 1e-6; two bounded sketch aggregates,
      // the log itself never shuffles.
      val ev = t(s, dir, "events").select(col("event_id"),
        col("event_type"),
        floor(col("value") * 1000000.0 + 0.5).cast(LongType).as("v"))
      graft.ops.Stats.robustZOutliers(ev, "event_id", "event_type", "v",
          threshold = 3.5, k = 256)
        .orderBy("event_id")
    },
    // Robust-outlier replay: sketch median per type (the kept-row rank
    // chain), deviations of the SAME kept rows, sketch MAD, then the
    // modified-z flag over the full log.
    () =>
      raw"""WITH e AS (SELECT event_id, event_type,
                              CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v
                       FROM events WHERE value IS NOT NULL),
               d0 AS (SELECT event_type, v, CAST(event_id AS HUGEINT) AS z
                      FROM e),
               ${splitmixCtesSql("d0", "event_type, v")},
               rk AS (SELECT event_type, v,
                             row_number() OVER (PARTITION BY event_type ORDER BY z) AS rn
                      FROM h5),
               sm AS (SELECT event_type, list_sort(list(v)) AS vs,
                             CAST(count(*) AS BIGINT) AS n
                      FROM rk WHERE rn <= 256 GROUP BY event_type),
               md AS (SELECT event_type,
                             ${sketchQuantileSql("vs", "n", "0.5")} AS med
                      FROM sm),
               dv AS (SELECT r.event_type,
                             CAST(floor(abs(CAST(r.v AS DOUBLE) - md.med) + 0.5) AS BIGINT) AS d
                      FROM rk r JOIN md USING (event_type) WHERE r.rn <= 256),
               sd AS (SELECT event_type, list_sort(list(d)) AS ds,
                             CAST(count(*) AS BIGINT) AS nd
                      FROM dv GROUP BY event_type),
               mad AS (SELECT event_type,
                              ${sketchQuantileSql("ds", "nd", "0.5")} AS mad
                       FROM sd),
               fl AS (SELECT e.event_id, e.event_type, e.v,
                             CASE WHEN mad.mad > 0
                                  THEN CAST(0.6745 AS DOUBLE) * (CAST(e.v AS DOUBLE) - md.med) / mad.mad
                             END AS rz
                      FROM e JOIN md USING (event_type)
                             JOIN mad USING (event_type))
          SELECT event_id, event_type, v, rz
          FROM fl WHERE abs(rz) > 3.5 ORDER BY event_id"""),
    QuerySpec("q_benford", (s, dir) => {
      // Benford first-digit audit (Validate.benfordAudit) over
      // cent-scaled extended prices — the fraud/fabrication smoke
      // test. First digit via string head (no query-time log10; the
      // expected shares are driver-stamped literals in BOTH engines).
      graft.ops.Validate.benfordAudit(
        t(s, dir, "lineitem").select(
          round(col("l_extendedprice") * 100).cast(LongType).as("cents")),
        "cents")
        .orderBy("digit")
    },
    // Benford replay: same string-head digit, the same driver-stamped
    // expected-share literals, identical division order.
    () => {
      val shares = graft.ops.Validate.BenfordShares.map { case (d, sh) =>
        s"($d, CAST('${java.lang.Double.toString(sh)}' AS DOUBLE))"
      }.mkString(", ")
      s"""WITH src AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v
                      FROM lineitem),
              c AS (SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS INTEGER) AS digit,
                           CAST(count(*) AS BIGINT) AS n
                    FROM src WHERE v IS NOT NULL AND v > 0
                    GROUP BY 1),
              ex AS (SELECT * FROM (VALUES $shares) AS t(digit, benford)),
              tt AS (SELECT CAST(sum(n) AS BIGINT) AS n_tot FROM c)
         SELECT ex.digit, CAST(coalesce(c.n, 0) AS BIGINT) AS n,
                CASE WHEN tt.n_tot > 0
                     THEN CAST(coalesce(c.n, 0) AS DOUBLE)
                            / CAST(tt.n_tot AS DOUBLE) END AS share,
                ex.benford,
                (CASE WHEN tt.n_tot > 0
                      THEN CAST(coalesce(c.n, 0) AS DOUBLE)
                             / CAST(tt.n_tot AS DOUBLE) END)
                  - ex.benford AS dev
         FROM ex LEFT JOIN c USING (digit), tt
         ORDER BY ex.digit"""
    }),
    QuerySpec("q_abtest", (s, dir) => {
      // Two-proportion z-test (Stats.twoProportionZ): conversion rate
      // of the even-user-hash variant vs the odd — the A/B workhorse
      // beside q_bootstrap_ci's resampling CIs. Integer counts to the
      // end, one fixed sqrt/division chain, judged against the 1.96
      // critical line (no erf, no p-value — the determinism menu).
      val e = t(s, dir, "events").select(
        (pmod(col("user_id"), lit(2)) === 0).as("variant"),
        (col("event_type") === "purchase").as("converted"))
      graft.ops.Stats.twoProportionZ(e, "variant", "converted")
    },
    // A/B replay: four integer counters, the identical left-associated
    // pooled-variance chain.
    () =>
      """WITH b AS (SELECT (user_id % 2 = 0) AS v,
                          (event_type = 'purchase') AS y
                   FROM events
                   WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
              c AS (SELECT
                      CAST(sum(CASE WHEN v THEN 1 ELSE 0 END) AS BIGINT) AS n1,
                      CAST(sum(CASE WHEN v AND y THEN 1 ELSE 0 END) AS BIGINT) AS x1,
                      CAST(sum(CASE WHEN NOT v THEN 1 ELSE 0 END) AS BIGINT) AS n2,
                      CAST(sum(CASE WHEN NOT v AND y THEN 1 ELSE 0 END) AS BIGINT) AS x2
                    FROM b),
              p AS (SELECT n1, x1, n2, x2,
                           CASE WHEN n1 > 0 THEN
                             CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE) END AS p1,
                           CASE WHEN n2 > 0 THEN
                             CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE) END AS p2,
                           CASE WHEN n1 + n2 > 0 THEN
                             CAST(x1 + x2 AS DOUBLE)
                               / CAST(n1 + n2 AS DOUBLE) END AS p_pool
                    FROM c)
         SELECT n1, x1, n2, x2, p1, p2, p1 - p2 AS lift,
                CASE WHEN n1 = 0 OR n2 = 0 OR x1 + x2 = 0
                          OR x1 + x2 = n1 + n2 THEN NULL
                     ELSE (p1 - p2)
                            / sqrt(p_pool * (1.0 - p_pool)
                                   * (1.0 / CAST(n1 AS DOUBLE)
                                      + 1.0 / CAST(n2 AS DOUBLE))) END AS z
         FROM p"""),
    QuerySpec("q_ks_test", (s, dir) => {
      // Two-sample Kolmogorov-Smirnov (Stats.ksTest): the binning-free
      // drift number next to q_drift's fixed-width TVD and
      // q_drift_eqdepth's equi-depth TVD — same second-half-vs-first
      // split, cent-scaled values, sup|ECDF diff| in exact integer
      // cross-products, one closing division (+ the scaled ks_stat
      // against the 1.36 critical line).
      val ev = t(s, dir, "events")
        .select(expr("(ts div 1000) div 86400000000").as("day"),
          round(col("value") * 100).cast(LongType).as("cents"))
      graft.ops.Stats.ksTest(
        ev.where(col("day") < 19740).select("cents"),
        ev.where(col("day") >= 19740).select("cents"), "cents")
    },
    // KS replay: distinct-value histograms per side, one cumulative
    // window over the pooled domain, the same exact cross-product sup
    // and closing division/sqrt chain.
    () =>
      """WITH e AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
                          CAST(round(value * 100) AS BIGINT) AS v
                   FROM events WHERE value IS NOT NULL),
              r AS (SELECT v, CAST(count(*) AS BIGINT) AS nr
                    FROM e WHERE day < 19740 GROUP BY v),
              c AS (SELECT v, CAST(count(*) AS BIGINT) AS nc
                    FROM e WHERE day >= 19740 GROUP BY v),
              g AS (SELECT coalesce(r.v, c.v) AS v,
                           coalesce(nr, 0) AS nr, coalesce(nc, 0) AS nc
                    FROM r FULL JOIN c ON r.v = c.v),
              t AS (SELECT CAST(sum(nr) AS BIGINT) AS n_ref,
                           CAST(sum(nc) AS BIGINT) AS n_cur FROM g),
              cw AS (SELECT CAST(sum(nr) OVER win AS BIGINT) AS cr,
                            CAST(sum(nc) OVER win AS BIGINT) AS cc
                     FROM g WINDOW win AS (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
              d0 AS (SELECT max(abs(cr * t.n_cur - cc * t.n_ref)) AS d_num,
                            any_value(t.n_ref) AS n_ref,
                            any_value(t.n_cur) AS n_cur
                     FROM cw, t)
         SELECT n_ref, n_cur, d_num,
                CASE WHEN n_ref = 0 OR n_cur = 0 THEN NULL
                     ELSE CAST(d_num AS DOUBLE)
                            / CAST(n_ref * n_cur AS DOUBLE) END AS d,
                sqrt(CAST(n_ref * n_cur AS DOUBLE)
                       / CAST(n_ref + n_cur AS DOUBLE))
                  * (CASE WHEN n_ref = 0 OR n_cur = 0 THEN NULL
                          ELSE CAST(d_num AS DOUBLE)
                                 / CAST(n_ref * n_cur AS DOUBLE) END)
                  AS ks_stat
         FROM d0"""),
    QuerySpec("q_drift", (s, dir) => {
      // Distribution-drift monitor: the event-value histogram of the
      // SECOND half of the log (by day) against the FIRST half — the
      // check a pipeline runs on each new data drop. Fixed-width bins
      // (no range discovery; novel values open new bins), per-bin L1
      // terms, and the total variation distance as an ordered FOLD of
      // the bounded bin frame (a partition-ordered sum() of doubles
      // could never hash-match — see Stats.histogramDrift's scaladoc).
      val ev = t(s, dir, "events")
        .select(expr("(ts div 1000) div 86400000000").as("day"),
          col("value"))
      graft.ops.Stats.histogramDrift(
          ev.where(col("day") < 19740).select("value"),
          ev.where(col("day") >= 19740).select("value"),
          "value", binWidth = 25.0)
        .orderBy("bin")
    },
    () =>
      """WITH e AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
                           value FROM events),
              r AS (SELECT CAST(floor(value / 25.0) AS BIGINT) AS bin,
                           count(*) AS n_ref
                    FROM e WHERE day < 19740 AND value IS NOT NULL GROUP BY 1),
              c AS (SELECT CAST(floor(value / 25.0) AS BIGINT) AS bin,
                           count(*) AS n_cur
                    FROM e WHERE day >= 19740 AND value IS NOT NULL GROUP BY 1),
              j AS (SELECT coalesce(r.bin, c.bin) AS bin,
                           coalesce(n_ref, 0) AS n_ref,
                           coalesce(n_cur, 0) AS n_cur
                    FROM r FULL JOIN c ON r.bin = c.bin),
              t AS (SELECT sum(n_ref) AS t_ref, sum(n_cur) AS t_cur FROM j),
              pb AS (SELECT bin, n_ref, n_cur,
                            CAST(n_ref AS DOUBLE) / CAST(t_ref AS DOUBLE) AS p_ref,
                            CAST(n_cur AS DOUBLE) / CAST(t_cur AS DOUBLE) AS p_cur,
                            abs(CAST(n_ref AS DOUBLE) / CAST(t_ref AS DOUBLE)
                                - CAST(n_cur AS DOUBLE) / CAST(t_cur AS DOUBLE)) AS l1_term
                     FROM j, t),
              tv AS (SELECT list_reduce([0.0] || list(l1_term ORDER BY bin),
                                        (a, b) -> a + b) * 0.5 AS tvd FROM pb)
         SELECT bin, n_ref, n_cur, p_ref, p_cur, l1_term, tvd
         FROM pb, tv ORDER BY bin"""),
    QuerySpec("q_drift_eqdepth", (s, dir) => {
      // EQUI-DEPTH drift: same ref/cur split as q_drift, but the bin
      // edges are the REFERENCE half's quantiles — nearest-rank off
      // the hash-deterministic quantile sketch — so each bin holds
      // ~1/8 of the reference mass and bulk shifts register even on
      // heavy-tailed columns where fixed-width bins put all mass in
      // one bin (StatsSpec constructs that exact miss). Values are
      // fixed-pointed at 1e-6 (the house pattern) so every edge
      // comparison is long-vs-long; the whole monitor — sketch, edges,
      // binning, ordered-fold TVD — is a pure function of the two row
      // sets and replays verbatim in the oracle.
      val ev = t(s, dir, "events")
        .select(col("event_id"),
          expr("(ts div 1000) div 86400000000").as("day"),
          floor(col("value") * 1000000.0 + 0.5).cast(LongType).as("v"))
        .where(col("v").isNotNull)
      graft.ops.Stats.histogramDriftEqDepth(
          ev.where(col("day") < 19740).select("event_id", "v"),
          ev.where(col("day") >= 19740).select("event_id", "v"),
          "event_id", "v", nBins = 8, k = 256)
        .orderBy("bin")
    },
    // Equi-depth variant: the reference half's bottom-256-by-hash
    // value sample (the q_quantile_sketch kept-set replay) yields
    // nearest-rank edges at j/8; bin(v) = #edges <= v; then the
    // identical q_drift tail (full join, proportions, TVD fold).
    () =>
      raw"""WITH e AS (SELECT event_id,
                              epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
                              CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v
                       FROM events WHERE value IS NOT NULL),
               d0 AS (SELECT v, CAST(event_id AS HUGEINT) AS z
                      FROM e WHERE day < 19740),
               ${splitmixCtesSql("d0", "v")},
               rk AS (SELECT v, row_number() OVER (ORDER BY z) AS rn FROM h5),
               sm AS (SELECT list_sort(list(v)) AS vs, count(*) AS n
                      FROM rk WHERE rn <= 256),
               ed AS (SELECT list_transform(range(1, 8),
                        j -> vs[CAST(greatest((j * n + 7) // 8, 1) AS INTEGER)]) AS edges
                      FROM sm),
               r AS (SELECT CAST(len(list_filter(edges, ee -> v >= ee)) AS BIGINT) AS bin,
                            count(*) AS n_ref
                     FROM e, ed WHERE day < 19740 GROUP BY 1),
               c AS (SELECT CAST(len(list_filter(edges, ee -> v >= ee)) AS BIGINT) AS bin,
                            count(*) AS n_cur
                     FROM e, ed WHERE day >= 19740 GROUP BY 1),
               j AS (SELECT coalesce(r.bin, c.bin) AS bin,
                            coalesce(n_ref, 0) AS n_ref,
                            coalesce(n_cur, 0) AS n_cur
                     FROM r FULL JOIN c ON r.bin = c.bin),
               t AS (SELECT sum(n_ref) AS t_ref, sum(n_cur) AS t_cur FROM j),
               pb AS (SELECT bin, n_ref, n_cur,
                             CAST(n_ref AS DOUBLE) / CAST(t_ref AS DOUBLE) AS p_ref,
                             CAST(n_cur AS DOUBLE) / CAST(t_cur AS DOUBLE) AS p_cur,
                             abs(CAST(n_ref AS DOUBLE) / CAST(t_ref AS DOUBLE)
                                 - CAST(n_cur AS DOUBLE) / CAST(t_cur AS DOUBLE)) AS l1_term
                      FROM j, t),
               tv AS (SELECT list_reduce([0.0] || list(l1_term ORDER BY bin),
                                         (a, b) -> a + b) * 0.5 AS tvd FROM pb)
          SELECT bin, n_ref, n_cur, p_ref, p_cur, l1_term, tvd
          FROM pb, tv ORDER BY bin"""),
    QuerySpec("q_validate", (s, dir) => {
      // Deequ-style constraint suite over the event log: 3 row-local
      // rules fused into ONE narrow-scan aggregate, 2 uniqueness rules
      // as separate single-distinct scans (fusing them would ride
      // q_profile's Expand scale-killer — the split is the design),
      // 1 referential rule as an un-hinted anti join. Non-vacuous both
      // ways: not_null/unique(event_id)/foreign_key pass, in_range and
      // matches_regex and unique(user_id) fail with real counts.
      import graft.ops.Validate._
      Validate.validate(t(s, dir, "events"), Seq(
          NotNull("props"),
          InRange("value", 0.0, 100.0),
          MatchesRegex("event_type", "^(view|click|purchase)$"),
          Unique("event_id"),
          Unique("user_id"),
          ForeignKey("user_id", t(s, dir, "customer"), "c_custkey"),
          // k-anonymity audit on the (user, type) quasi-identifier:
          // avg group ~13 rows at every SF, so groups under 12 exist
          // everywhere and the count is non-vacuous
          MinGroupSize(Seq("user_id", "event_type"), 12)))
        .orderBy("rule", "col_name")
    },
    () =>
      """WITH rl AS (SELECT
                       sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS v0,
                       sum(CASE WHEN value IS NOT NULL
                                 AND (value < 0.0 OR value > 100.0)
                                THEN 1 ELSE 0 END) AS v1,
                       sum(CASE WHEN event_type IS NOT NULL
                                 AND NOT regexp_matches(event_type, '^(view|click|purchase)$')
                                THEN 1 ELSE 0 END) AS v2
                     FROM events),
              rows_ AS (
                SELECT 'not_null' AS rule, 'props' AS col_name, v0 AS violations FROM rl
                UNION ALL
                SELECT 'in_range', 'value', v1 FROM rl
                UNION ALL
                SELECT 'matches_regex', 'event_type', v2 FROM rl
                UNION ALL
                SELECT 'unique', 'event_id',
                       count(event_id) - count(DISTINCT event_id) FROM events
                UNION ALL
                SELECT 'unique', 'user_id',
                       count(user_id) - count(DISTINCT user_id) FROM events
                UNION ALL
                SELECT 'foreign_key', 'user_id', count(*) FROM events
                WHERE user_id IS NOT NULL
                  AND user_id NOT IN (SELECT c_custkey FROM customer
                                      WHERE c_custkey IS NOT NULL)
                UNION ALL
                SELECT 'min_group_size', 'user_id,event_type',
                       coalesce(sum(n), 0) FROM (
                  SELECT user_id, event_type, count(*) AS n FROM events
                  GROUP BY 1, 2) WHERE n < 12)
         SELECT rule, col_name, CAST(violations AS BIGINT) AS violations,
                violations = 0 AS pass
         FROM rows_ ORDER BY rule, col_name"""),
    QuerySpec("q_corr", (s, dir) => {
      // Exact-moment Pearson correlation + OLS regression of
      // extendedprice on quantity per (returnflag, linestatus): the
      // zScoreOutliers recipe one column up — DECIMAL co-moment sums
      // (order-independent, so the hash oracle can bind), then a
      // fixed-order IEEE formula restated verbatim in the SQL. Spark's
      // built-in corr/regr_* accumulate doubles in partition order and
      // could never hash-match.
      graft.ops.Stats.corrRegression(t(s, dir, "lineitem"),
          Seq("l_returnflag", "l_linestatus"),
          "l_quantity", "l_extendedprice")
        .orderBy("l_returnflag", "l_linestatus")
    },
    // Same DECIMAL-moments recipe as q_outliers: exact sums, then the
    // identical fixed-order double formula (guards replayed too).
    () =>
      """WITH m AS (SELECT l_returnflag, l_linestatus, count(*) AS n,
                           CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sx,
                           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sy,
                           CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(28,10))) AS DOUBLE) AS sxx,
                           CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(28,10))) AS DOUBLE) AS syy,
                           CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(28,10))) AS DOUBLE) AS sxy
                    FROM lineitem
                    WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
                    GROUP BY 1, 2)
         SELECT l_returnflag, l_linestatus, n,
                CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx > 0
                      AND CAST(n AS DOUBLE) * syy - sy * sy > 0
                     THEN (CAST(n AS DOUBLE) * sxy - sx * sy)
                          / (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)
                           * sqrt(CAST(n AS DOUBLE) * syy - sy * sy)) END AS corr,
                CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx > 0
                     THEN (CAST(n AS DOUBLE) * sxy - sx * sy)
                          / (CAST(n AS DOUBLE) * sxx - sx * sx) END AS slope,
                CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx > 0
                     THEN sy / CAST(n AS DOUBLE)
                          - ((CAST(n AS DOUBLE) * sxy - sx * sy)
                             / (CAST(n AS DOUBLE) * sxx - sx * sx))
                            * (sx / CAST(n AS DOUBLE)) END AS intercept
         FROM m ORDER BY l_returnflag, l_linestatus"""),
    QuerySpec("q_profile_drift", (s, dir) => {
      // PER-COLUMN profile drift (Stats.profileDrift) — the schema-
      // level drop check: the value-level monitors (q_drift /
      // q_drift_eqdepth) watch one column's distribution; this watches
      // every column's shape at once across the same ref/cur event-log
      // split — exact n/nulls/min/max per side, KMV distinct estimate,
      // null-rate delta as one fixed-order double formula. ONE plain
      // map-side-partial aggregate per side (no Expand), #cols-row
      // melt + join; user_id's null mass makes the delta non-vacuous.
      val ev = t(s, dir, "events").select(
        col("user_id"),
        floor(col("value") * 1000000.0 + lit(0.5)).cast(LongType).as("vm"),
        expr("(ts div 1000) div 86400000000").as("day"))
      graft.ops.Stats.profileDrift(
          ev.where(col("day") < 19740), ev.where(col("day") >= 19740),
          Seq(("user_id", col("user_id")), ("v_micros", col("vm")),
            ("day", col("day"))))
        .orderBy("col_name")
    },
    // Profile-drift replay: side-labelled unpivot, ONE splitmix chain
    // carrying (side, col_name), per-cell exact stats + the KMV
    // estimator, identical null-rate formula.
    () =>
      raw"""WITH ev AS (SELECT user_id,
                               CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS vm,
                               epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
                        FROM events),
               lbl AS (SELECT *, CASE WHEN day < 19740 THEN 'ref' ELSE 'cur' END AS sd
                       FROM ev),
               up AS (SELECT sd, 'user_id' AS col_name, user_id AS v FROM lbl
                      UNION ALL SELECT sd, 'v_micros', vm FROM lbl
                      UNION ALL SELECT sd, 'day', day FROM lbl),
               d AS (SELECT DISTINCT sd, col_name, CAST(v AS HUGEINT) AS z
                     FROM up WHERE v IS NOT NULL),
               ${splitmixCtesSql("d", "sd, col_name")},
               kk AS (SELECT sd, col_name,
                             list_sort(list(CAST(z AS UBIGINT)))[1:256] AS ks
                      FROM h5 GROUP BY sd, col_name),
               e AS (SELECT sd, col_name,
                            CASE WHEN len(ks) < 256 THEN CAST(len(ks) AS BIGINT)
                                 ELSE CAST(LEAST(CAST(255 AS HUGEINT) * CAST('18446744073709551616' AS HUGEINT)
                                                   // CAST(list_max(ks) AS HUGEINT),
                                                 CAST('9223372036854775807' AS HUGEINT)) AS BIGINT)
                            END AS dist
                     FROM kk),
               st AS (SELECT sd, col_name, count(v) AS n,
                             CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls,
                             min(v) AS mn, max(v) AS mx
                      FROM up GROUP BY sd, col_name),
               j AS (SELECT r.col_name,
                            r.n AS n_ref, r.nulls AS nulls_ref, er.dist AS dist_ref,
                            r.mn AS min_ref, r.mx AS max_ref,
                            c.n AS n_cur, c.nulls AS nulls_cur, ec.dist AS dist_cur,
                            c.mn AS min_cur, c.mx AS max_cur
                     FROM st r JOIN st c ON c.col_name = r.col_name
                                        AND r.sd = 'ref' AND c.sd = 'cur'
                               JOIN e er ON er.col_name = r.col_name AND er.sd = 'ref'
                               JOIN e ec ON ec.col_name = r.col_name AND ec.sd = 'cur')
          SELECT col_name, n_ref, nulls_ref, dist_ref, min_ref, max_ref,
                 n_cur, nulls_cur, dist_cur, min_cur, max_cur,
                 CAST(nulls_cur AS DOUBLE) / CAST(n_cur + nulls_cur AS DOUBLE)
                   - CAST(nulls_ref AS DOUBLE) / CAST(n_ref + nulls_ref AS DOUBLE)
                   AS null_rate_delta
          FROM j ORDER BY col_name"""),
    QuerySpec("q_calibrated_gate", (s, dir) => {
      // Calibrated multi-signal quality gate
      // (Stats.calibratedQualityGate): every threshold read off the
      // corpus itself at a chosen percentile (hash-deterministic
      // sketch + shared interpolation) — no magic constants to rot as
      // the corpus drifts. Three fixed-point signals sketched in ONE
      // aggregate pass, thresholds broadcast, keep = all gates pass
      // (NULLs fail closed). The decision layer over q_text_stats'
      // raw signals.
      val d = t(s, dir, "documents")
      graft.ops.Stats.calibratedQualityGate(d, "doc_id",
          signals = Seq(
            "n_ws" -> TextAnalysis.whitespaceTokenCount(col("text"))
              .cast(LongType),
            "mtl_fp" -> floor(TextAnalysis.meanTokenLength(col("text")) *
              1000000.0 + lit(0.5)).cast(LongType),
            "stop_fp" -> floor(TextAnalysis.stopwordRatio(col("text")) *
              1000000.0 + lit(0.5)).cast(LongType)),
          gates = Seq(
            ("len_lo", "n_ws", 0.05, false),  // drop truncated stubs
            ("len_hi", "n_ws", 0.95, true),   // drop runaway docs
            ("mtl_hi", "mtl_fp", 0.90, true), // drop gibberish tokens
            ("stop_lo", "stop_fp", 0.10, false))) // drop listy non-prose
        .orderBy("doc_id")
    },
    // Quality-gate replay: the q_text_stats signal formulas (exact-
    // operand divisions -> bit-identical doubles -> identical
    // fixed-point longs), ONE shared doc-id hash-rank chain (all three
    // sketches keep the SAME bottom-256 rows — no per-signal NULLs in
    // this corpus), per-signal value sorts + the shared interpolation,
    // then the same fail-closed conjunction.
    () =>
      raw"""WITH s AS (SELECT doc_id,
                  CAST(len(list_filter(string_split_regex(text, '[ \t\n\x0B\f\r]+'), x -> x <> '')) AS BIGINT) AS n_ws,
                  CAST(floor((CASE WHEN len(toks) > 0
                                   THEN CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks)
                                   ELSE 0.0 END) * 1000000.0 + 0.5) AS BIGINT) AS mtl_fp,
                  CAST(floor((CASE WHEN len(toks) > 0
                                   THEN CAST(len(list_filter(toks, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','on','for','with','as','at','by'], x))) AS DOUBLE) / len(toks)
                                   ELSE 0.0 END) * 1000000.0 + 0.5) AS BIGINT) AS stop_fp
               FROM (SELECT doc_id, text,
                            list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}]+'), x -> x <> '') AS toks
                     FROM documents)),
               d0 AS (SELECT doc_id, n_ws, mtl_fp, stop_fp,
                             CAST(doc_id AS HUGEINT) AS z
                      FROM s),
               ${splitmixCtesSql("d0", "n_ws, mtl_fp, stop_fp")},
               rk AS (SELECT n_ws, mtl_fp, stop_fp,
                             row_number() OVER (ORDER BY z) AS rn
                      FROM h5),
               sm AS (SELECT list_sort(list(n_ws)) AS vs_ws,
                             list_sort(list(mtl_fp)) AS vs_mtl,
                             list_sort(list(stop_fp)) AS vs_stop,
                             CAST(count(*) AS BIGINT) AS n
                      FROM rk WHERE rn <= 256),
               th AS (SELECT ${sketchQuantileSql("vs_ws", "n", "0.05")} AS len_lo_thr,
                             ${sketchQuantileSql("vs_ws", "n", "0.95")} AS len_hi_thr,
                             ${sketchQuantileSql("vs_mtl", "n", "0.90")} AS mtl_hi_thr,
                             ${sketchQuantileSql("vs_stop", "n", "0.10")} AS stop_lo_thr
                      FROM sm)
          SELECT s.doc_id, s.n_ws, s.mtl_fp, s.stop_fp,
                 th.len_lo_thr, th.len_hi_thr, th.mtl_hi_thr, th.stop_lo_thr,
                 (CAST(s.n_ws AS DOUBLE) >= th.len_lo_thr) AS len_lo_ok,
                 (CAST(s.n_ws AS DOUBLE) <= th.len_hi_thr) AS len_hi_ok,
                 (CAST(s.mtl_fp AS DOUBLE) <= th.mtl_hi_thr) AS mtl_hi_ok,
                 (CAST(s.stop_fp AS DOUBLE) >= th.stop_lo_thr) AS stop_lo_ok,
                 (coalesce(CAST(s.n_ws AS DOUBLE) >= th.len_lo_thr, FALSE)
                  AND coalesce(CAST(s.n_ws AS DOUBLE) <= th.len_hi_thr, FALSE)
                  AND coalesce(CAST(s.mtl_fp AS DOUBLE) <= th.mtl_hi_thr, FALSE)
                  AND coalesce(CAST(s.stop_fp AS DOUBLE) >= th.stop_lo_thr, FALSE)) AS keep
          FROM s, th ORDER BY s.doc_id"""),
    QuerySpec("q_auc", (s, dir) => {
      // ROC-AUC of purchase-size as a purchase predictor
      // (Stats.rocAuc): Mann-Whitney rank-sum with average-rank tie
      // correction, exact Long arithmetic to one final division.
      // Score is the cent-scaled value (round(x*100) — the lossless
      // q_profile_sketch key), so tie blocks are engine-stable.
      val e = t(s, dir, "events").select(
        round(col("value") * 100).cast(LongType).as("score"),
        (col("event_type") === "purchase").cast(LongType).as("label"))
      graft.ops.Stats.rocAuc(e, "score", "label")
    },
    // ROC-AUC replay: distinct-score histogram, doubled average ranks
    // (2·cum_below + n + 1 per tied block) so everything is integer
    // until the one closing division.
    () =>
      """WITH b AS (SELECT CAST(round(value * 100) AS BIGINT) AS s,
                          CASE WHEN event_type = 'purchase'
                               THEN 1 ELSE 0 END AS y
                   FROM events
                   WHERE value IS NOT NULL AND event_type IS NOT NULL),
              g AS (SELECT s, CAST(count(*) AS BIGINT) AS n,
                           CAST(sum(y) AS BIGINT) AS np
                    FROM b GROUP BY s),
              r AS (SELECT n, np,
                           np * (2 * coalesce(sum(n) OVER
                             (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING), 0) + n + 1) AS r2
                    FROM g),
              a AS (SELECT CAST(sum(np) AS BIGINT) AS n_pos,
                           CAST(sum(n) - sum(np) AS BIGINT) AS n_neg,
                           CAST(sum(r2) AS BIGINT) AS sum_r2
                    FROM r)
         SELECT n_pos, n_neg,
                sum_r2 - n_pos * (n_pos + 1) AS u2,
                CAST(sum_r2 - n_pos * (n_pos + 1) AS DOUBLE)
                  / CAST(2 * n_pos * n_neg AS DOUBLE) AS auc
         FROM a"""),
    QuerySpec("q_quantile_norm", (s, dir) => {
      // Cross-source score calibration: raw length/quality thresholds
      // over-prune some sources and under-prune others; mapping each
      // doc's n_chars to its WITHIN-SOURCE percentile (empirical CDF
      // off the per-source quantile sketch — exact integer counting +
      // one divide, no interpolation) makes "top quartile of each
      // source" a single global pct >= 0.75 filter. One bounded sketch
      // aggregate, per-source samples broadcast back — the corpus
      // never shuffles (presentation sort aside).
      graft.ops.Stats.quantileNormalize(
          t(s, dir, "documents")
            .select(col("doc_id"), col("source"), col("n_chars")),
          "doc_id", "source", "n_chars", k = 256)
        .select(col("doc_id"), col("source"), col("n_chars"), col("pct"),
          (col("pct") >= 0.75).as("top_quartile"))
        .orderBy("doc_id")
    },
    // Quantile-normalization replay: per-source kept-row sample via the
    // hash-rank chain, pct = exact count of sample values <= v over the
    // sample size.
    () =>
      raw"""WITH d0 AS (SELECT source, n_chars, CAST(doc_id AS HUGEINT) AS z
                        FROM documents WHERE n_chars IS NOT NULL),
               ${splitmixCtesSql("d0", "source, n_chars")},
               rk AS (SELECT source, n_chars,
                             row_number() OVER (PARTITION BY source ORDER BY z) AS rn
                      FROM h5),
               sm AS (SELECT source, list_sort(list(n_chars)) AS vs
                      FROM rk WHERE rn <= 256 GROUP BY source),
               j AS (SELECT d.doc_id, d.source, d.n_chars,
                            CASE WHEN d.n_chars IS NOT NULL AND sm.vs IS NOT NULL THEN
                              CAST(len(list_filter(sm.vs, e -> e <= d.n_chars)) AS DOUBLE)
                                / CAST(len(sm.vs) AS DOUBLE) END AS pct
                     FROM documents d LEFT JOIN sm USING (source))
          SELECT doc_id, source, n_chars, pct, pct >= 0.75 AS top_quartile
          FROM j ORDER BY doc_id"""),
    QuerySpec("q_kappa", (s, dir) => {
      // Cohen's kappa (Stats.cohenKappa) between the langid
      // classifier's "is English" call and the corpus label — the
      // chance-corrected single number on top of q_langid_eval's full
      // confusion matrix. Exact integer confusion counts, one closing
      // division.
      val d = t(s, dir, "documents")
      graft.ops.Stats.cohenKappa(
        d.select(
          (TextAnalysis.langId(col("text")) === lit("en")).as("r1"),
          (col("lang") === lit("en")).as("r2")),
        "r1", "r2")
    },
    // LangID self-evaluation: the same classifier replay aggregated
    // into a (label, prediction) confusion matrix with per-true-class
    // shares — exact numbers because the classifier is deterministic.
    // Kappa replay: the langid chain's shared CTEs, then exact integer
    // confusion counts and the one-division kappa.
    () =>
      raw"""WITH $langScoreCtesSql,
              p AS (SELECT ($langPredCaseSql = 'en') AS r1,
                           (d.lang = 'en') AS r2
                    FROM s JOIN documents d ON d.doc_id = s.doc_id),
              f AS (SELECT r1, r2 FROM p
                    WHERE r1 IS NOT NULL AND r2 IS NOT NULL),
              cg AS (SELECT
                       CAST(sum(CASE WHEN r1 AND r2 THEN 1 ELSE 0 END) AS BIGINT) AS a,
                       CAST(sum(CASE WHEN r1 AND NOT r2 THEN 1 ELSE 0 END) AS BIGINT) AS b,
                       CAST(sum(CASE WHEN NOT r1 AND r2 THEN 1 ELSE 0 END) AS BIGINT) AS c,
                       CAST(sum(CASE WHEN NOT r1 AND NOT r2 THEN 1 ELSE 0 END) AS BIGINT) AS d
                     FROM f),
              x AS (SELECT a, b, c, d, a + b + c + d AS n,
                           (a + b) * (a + c) + (c + d) * (b + d) AS pe_num
                    FROM cg)
         SELECT n, a, b, c, d,
                CAST(a + d AS DOUBLE) / CAST(n AS DOUBLE) AS po,
                CAST(pe_num AS DOUBLE) / CAST(n * n AS DOUBLE) AS pe,
                CASE WHEN n * n = pe_num THEN NULL
                     ELSE CAST(n * (a + d) - pe_num AS DOUBLE)
                            / CAST(n * n - pe_num AS DOUBLE) END AS kappa
         FROM x"""),
    QuerySpec("q_cuped", (s, dir) => {
      // CUPED variance reduction (Stats.cuped): per-user pre/post
      // spend split by day parity, variant by user parity (the
      // q_abtest assignment); theta fit pooled over exact DECIMAL
      // moments. The var_reduction column is the headline: how much
      // experiment traffic the covariate saves.
      val e = t(s, dir, "events").select(col("user_id"),
        expr("(ts div 1000) div 86400000000").as("day"),
        round(col("value") * 100).cast(LongType).as("cents"))
      val per = e.groupBy(col("user_id")).agg(
        sum(when(pmod(col("day"), lit(2)) === 0, col("cents")).otherwise(0L))
          .as("pre"),
        sum(when(pmod(col("day"), lit(2)) === 1, col("cents")).otherwise(0L))
          .as("post"))
      graft.ops.Stats.cuped(per.withColumn("variant", pmod(col("user_id"), lit(2)) === 0),
          "variant", "pre", "post")
        .orderBy("variant")
    },
    // CUPED replay: exact DECIMAL moments, the corrRegression cast
    // idiom, identical closing expression tree.
    () =>
      """WITH e AS (SELECT user_id,
                          epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
                          CAST(round(value * 100) AS BIGINT) AS cents
                   FROM events),
              per AS (SELECT user_id,
                             (user_id % 2 = 0) AS variant,
                             CAST(sum(CASE WHEN day % 2 = 0 THEN cents ELSE 0 END) AS BIGINT) AS pre,
                             CAST(sum(CASE WHEN day % 2 = 1 THEN cents ELSE 0 END) AS BIGINT) AS post
                      FROM e GROUP BY 1, 2),
              pl AS (SELECT count(*) AS n_all,
                            -- sums here pass 2^53, where DuckDB's
                            -- direct DECIMAL->DOUBLE cast is double-
                            -- rounded; the VARCHAR bridge parses
                            -- correctly rounded, matching the JVM
                            CAST(CAST(sum(CAST(pre AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sx,
                            CAST(CAST(sum(CAST(post AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sy,
                            CAST(CAST(sum(CAST(pre * pre AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS sxx,
                            CAST(CAST(sum(CAST(pre * post AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS sxy,
                            CAST(CAST(sum(CAST(post * post AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS syy
                     FROM per),
              pv AS (SELECT variant, count(*) AS n,
                            CAST(CAST(sum(CAST(pre AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS vx,
                            CAST(CAST(sum(CAST(post AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS vy
                     FROM per GROUP BY variant),
              cl AS (SELECT variant, n, vx, vy, n_all, sx, sy,
                            CAST(n_all AS DOUBLE) * sxx - sx * sx AS denx,
                            CAST(n_all AS DOUBLE) * syy - sy * sy AS deny,
                            CAST(n_all AS DOUBLE) * sxy - sx * sy AS num
                     FROM pv, pl)
         SELECT variant, n,
                vy / CAST(n AS DOUBLE) AS mean_post,
                CASE WHEN denx > 0 THEN
                  vy / CAST(n AS DOUBLE)
                    - (num / denx) * (vx / CAST(n AS DOUBLE)
                                      - sx / CAST(n_all AS DOUBLE)) END AS mean_adj,
                CASE WHEN denx > 0 THEN num / denx END AS theta,
                CASE WHEN denx > 0 AND deny > 0
                     THEN num / (sqrt(denx) * sqrt(deny)) END AS corr,
                CASE WHEN denx > 0 AND deny > 0
                     THEN (num / (sqrt(denx) * sqrt(deny)))
                          * (num / (sqrt(denx) * sqrt(deny))) END AS var_reduction
         FROM cl ORDER BY variant"""),
    QuerySpec("q_calibration", (s, dir) => {
      // Calibration curve + ECE contributions (Stats.calibrationBins)
      // for a rate predictor: per user_id%64 cohort purchase rate fit
      // on even days (quantized to 2^20 with PURE integer arithmetic
      // — exact at any corpus size), evaluated on odd days, 20 bins.
      // Read next to q_auc: ranking vs numbers.
      val scale = 1L << 20
      val e = t(s, dir, "events").select(
        expr("(ts div 1000) div 86400000000").as("day"),
        (col("event_type") === "purchase").cast(LongType).as("y"),
        pmod(col("user_id"), lit(64)).as("g"))
      val train = e.where(pmod(col("day"), lit(2)) === 0)
        .groupBy(col("g"))
        .agg(count(lit(1)).as("cnt"), sum(col("y")).as("pos"))
        .select(col("g"), expr(s"(pos * ${scale}L) div cnt").as("score_fp"))
      val evalSide = e.where(pmod(col("day"), lit(2)) === 1)
        .join(broadcast(train), Seq("g"))
      graft.ops.Stats.calibrationBins(evalSide, "score_fp", "y", bins = 20)
        .orderBy("bin")
    },
    // Calibration replay: integer rate quantization, integer binning,
    // exact Long bin sums, the same three closing divisions.
    () =>
      """WITH e AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
                          CAST(event_type = 'purchase' AS BIGINT) AS y,
                          user_id % 64 AS g
                   FROM events),
              tr AS (SELECT g, count(*) AS cnt, sum(y) AS pos
                     FROM e WHERE day % 2 = 0 GROUP BY g),
              sc AS (SELECT g, (pos * 1048576) // cnt AS score_fp FROM tr),
              ev AS (SELECT e.y, s.score_fp
                     FROM e JOIN sc s USING (g) WHERE e.day % 2 = 1),
              ag AS (SELECT CAST(least((score_fp * 20) // 1048576, 19) AS INTEGER) AS bin,
                            CAST(count(*) AS BIGINT) AS n,
                            CAST(sum(y) AS BIGINT) AS pos,
                            CAST(sum(score_fp) AS BIGINT) AS s_fp
                     FROM ev GROUP BY 1),
              tt AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM ev)
         SELECT bin, n, pos,
                CAST(s_fp AS DOUBLE) / CAST(n * 1048576 AS DOUBLE) AS mean_pred,
                CAST(pos AS DOUBLE) / CAST(n AS DOUBLE) AS obs_rate,
                abs(CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)
                    - CAST(s_fp AS DOUBLE) / CAST(n * 1048576 AS DOUBLE)) AS gap,
                (CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE))
                  * abs(CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)
                        - CAST(s_fp AS DOUBLE) / CAST(n * 1048576 AS DOUBLE)) AS ece_part
         FROM ag, tt ORDER BY bin"""),
    QuerySpec("q_dp_count", (s, dir) => {
      // DIFFERENTIALLY-PRIVATE RELEASE (Privacy.noisyCount) — the
      // privacy member of the release toolbox: per-event-type event
      // counts with per-user contributions CLIPPED at 3 (the
      // sensitivity bound), released under the dyadic geometric
      // mechanism (two-sided Geometric(1/2) noise drawn as trailing-
      // ones counts of SplitMix64 words — the one α whose inverse-CDF
      // is pure bit arithmetic, so the draw is BIT-EXACT in any
      // engine; ε = 3·ln2 here, cap=1 would be the textbook ε=ln2
      // noisy distinct-user count). True values ride along ON PURPOSE
      // (the artifact proves the mechanism; production drops the audit
      // columns and feeds a secret salt). Scale shape: the two
      // aggregates a plain per-group count already pays + a per-group
      // scalar noise expression — no Window, no RNG state, no driver
      // work.
      Privacy.noisyCount(
        t(s, dir, "events").select(col("event_type"), col("user_id")),
        "event_type", "user_id", cap = 3, salt = 2026L)
        .orderBy("event_type")
    },
    // DP-release replay: per-user clipped counts, then the dyadic
    // geometric draw re-derived bit for bit — the group key's rolling
    // hash XOR the salt seeds TWO splitmix chains (the second XORs the
    // golden gamma), each masked to 62 bits; trailing-ones =
    // bit_count(z XOR (z+1)) - 1; noise = G1 - G2. All integer ops.
    () =>
      raw"""WITH pu AS (SELECT event_type, user_id, count(*) AS n_u
                        FROM events WHERE user_id IS NOT NULL
                        GROUP BY 1, 2),
               cg AS MATERIALIZED (SELECT event_type,
                             CAST(count(*) AS BIGINT) AS n_users,
                             CAST(sum(least(n_u, 3)) AS BIGINT) AS n_capped
                      FROM pu GROUP BY 1),
               sd0 AS MATERIALIZED (SELECT event_type, n_users, n_capped,
                             CAST(xor(CAST(${rollingHashSql("event_type")}
                                           AS UBIGINT),
                                      CAST(2026 AS UBIGINT)) AS HUGEINT)
                               AS seed
                      FROM cg),
               sd AS (SELECT event_type, n_users, n_capped, seed,
                             seed AS z
                      FROM sd0),
               ${splitmixCtesSql("sd", "event_type, n_users, n_capped, seed")},
               g1 AS (SELECT event_type, n_users, n_capped, seed,
                             CAST(CAST(z AS UBIGINT) & 4611686018427387903
                                  AS BIGINT) AS zm
                      FROM h5),
               sd2 AS (SELECT event_type,
                              CAST(xor(CAST(seed AS UBIGINT),
                                       CAST('11400714819323198485' AS UBIGINT))
                                   AS HUGEINT) AS z
                       FROM sd0),
               ${splitmixCtesSql("sd2", "event_type", pfx = "b")},
               g2 AS (SELECT event_type,
                             CAST(CAST(z AS UBIGINT) & 4611686018427387903
                                  AS BIGINT) AS zm
                      FROM bh5),
               nz AS (SELECT a.event_type, a.n_users, a.n_capped,
                             CAST((bit_count(xor(a.zm, a.zm + 1)) - 1)
                                - (bit_count(xor(b.zm, b.zm + 1)) - 1)
                                  AS BIGINT) AS noise
                      FROM g1 a JOIN g2 b USING (event_type))
          SELECT event_type, n_users, n_capped, noise,
                 n_capped + noise AS n_noisy
          FROM nz ORDER BY event_type"""),
    QuerySpec("q_dp_sum", (s, dir) => {
      // DP NOISY SUM (Privacy.noisySum) — the sum member of the
      // privacy family: per-event-type revenue (event value in CENTS —
      // quantized upstream to meet the integral contract) released
      // under clip -> quantize -> dyadic-geometric-noise. Each user's
      // per-type total clips at 4000 cents (the L1 bound), quantizes
      // to 1000-cent units (integer round-half-up), so the release is
      // ε = ceil(4000/1000)·ln2 = 4·ln2 DP; the audit columns surface
      // the quantization bias the budget/resolution dial trades away.
      // The unit folds into the noise seed, so the count released
      // alongside (q_dp_count, same salt) draws independent noise.
      val ev = t(s, dir, "events").select(col("event_type"),
        col("user_id"),
        round(col("value") * 100).cast(LongType).as("cents"))
      Privacy.noisySum(ev, "event_type", "user_id", "cents",
          userCap = 4000L, unit = 1000L, salt = 2026L)
        .orderBy("event_type")
    },
    // DP-sum replay: cents -> per-user clipped totals -> half-up unit
    // quantization in exact integer division -> the same dyadic
    // geometric chain as q_dp_count with the unit XOR-folded into the
    // seed.
    () =>
      raw"""WITH pv AS (SELECT event_type, user_id,
                               CAST(round(value * 100) AS BIGINT) AS cents
                        FROM events WHERE user_id IS NOT NULL),
               pu AS (SELECT event_type, user_id,
                             least(coalesce(sum(cents), 0), 4000) AS s_c
                      FROM pv GROUP BY 1, 2),
               qu AS (SELECT event_type, s_c,
                             (s_c * 2 + 1000) // 2000 AS q_u
                      FROM pu),
               cg AS MATERIALIZED (SELECT event_type,
                             CAST(count(*) AS BIGINT) AS n_users,
                             CAST(sum(s_c) AS BIGINT) AS sum_capped,
                             CAST(sum(q_u) AS BIGINT) AS units_true
                      FROM qu GROUP BY 1),
               sd0 AS MATERIALIZED (SELECT event_type, n_users, sum_capped,
                             units_true,
                             CAST(xor(xor(CAST(${rollingHashSql("event_type")}
                                               AS UBIGINT),
                                          CAST(2026 AS UBIGINT)),
                                      CAST(1000 AS UBIGINT)) AS HUGEINT)
                               AS seed
                      FROM cg),
               sd AS (SELECT event_type, n_users, sum_capped, units_true,
                             seed, seed AS z
                      FROM sd0),
               ${splitmixCtesSql("sd",
                 "event_type, n_users, sum_capped, units_true, seed")},
               g1 AS (SELECT event_type, n_users, sum_capped, units_true,
                             seed,
                             CAST(CAST(z AS UBIGINT) & 4611686018427387903
                                  AS BIGINT) AS zm
                      FROM h5),
               sd2 AS (SELECT event_type,
                              CAST(xor(CAST(seed AS UBIGINT),
                                       CAST('11400714819323198485' AS UBIGINT))
                                   AS HUGEINT) AS z
                       FROM sd0),
               ${splitmixCtesSql("sd2", "event_type", pfx = "b")},
               g2 AS (SELECT event_type,
                             CAST(CAST(z AS UBIGINT) & 4611686018427387903
                                  AS BIGINT) AS zm
                      FROM bh5),
               nz AS (SELECT a.event_type, a.n_users, a.sum_capped,
                             a.units_true,
                             CAST((bit_count(xor(a.zm, a.zm + 1)) - 1)
                                - (bit_count(xor(b.zm, b.zm + 1)) - 1)
                                  AS BIGINT) AS noise
                      FROM g1 a JOIN g2 b USING (event_type))
          SELECT event_type, n_users, sum_capped, units_true, noise,
                 (units_true + noise) * 1000 AS released
          FROM nz ORDER BY event_type""")
  )
}

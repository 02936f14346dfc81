package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry.t
import graft.ops.EventAnalytics

/** Event-log analytics from [[graft.ops.EventAnalytics]]. */
object EventQueries {

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_funnel", (s, dir) => {
      // Ordered windowed funnel (view -> click -> purchase, each stage
      // within 6h of the previous): ONE shuffle on user_id, per-user
      // sorted-array fold — no per-stage self-joins. The oracle replays
      // it as the equivalent cascaded min(ts)-in-window SQL. depth is
      // non-degenerate at every SF (1/2/3 all present at sf0.01).
      // Stage times surface as epoch-microsecond longs (house pattern
      // for events.ts — see t()).
      val ev = t(s, dir, "events").select(col("user_id"),
        timestamp_micros(expr("ts div 1000")).as("tt"), col("event_type"))
      EventAnalytics.funnel(ev, "user_id", "tt", "event_type",
          Seq("view", "click", "purchase"), maxGapSeconds = 6 * 3600)
        .select(col("user_id"), col("depth"),
          unix_micros(get(col("stage_ts"), lit(0))).as("t1_us"),
          unix_micros(get(col("stage_ts"), lit(1))).as("t2_us"),
          unix_micros(get(col("stage_ts"), lit(2))).as("t3_us"))
        .orderBy("user_id")
    },
    () =>
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
                    FROM events),
              s1 AS (SELECT user_id, min(ts) AS t1 FROM e
                     WHERE event_type = 'view' GROUP BY user_id),
              s2 AS (SELECT ev.user_id, min(ev.ts) AS t2 FROM e ev
                     JOIN s1 ON ev.user_id = s1.user_id
                            AND ev.ts > s1.t1
                            AND ev.ts <= s1.t1 + INTERVAL 6 HOUR
                     WHERE ev.event_type = 'click' GROUP BY ev.user_id),
              s3 AS (SELECT ev.user_id, min(ev.ts) AS t3 FROM e ev
                     JOIN s2 ON ev.user_id = s2.user_id
                            AND ev.ts > s2.t2
                            AND ev.ts <= s2.t2 + INTERVAL 6 HOUR
                     WHERE ev.event_type = 'purchase' GROUP BY ev.user_id)
         SELECT s1.user_id,
                CAST(1 + CASE WHEN t2 IS NULL THEN 0 ELSE 1 END
                       + CASE WHEN t3 IS NULL THEN 0 ELSE 1 END AS INTEGER) AS depth,
                epoch_us(t1) AS t1_us, epoch_us(t2) AS t2_us,
                epoch_us(t3) AS t3_us
         FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
         ORDER BY user_id"""),
    QuerySpec("q_gapfill", (s, dir) => {
      // Per-user daily series with gaps materialized: carry-forward +
      // trailing 7-day rolling mean over the filled grid. The heavy
      // exchange is the (user, day) pre-agg; the grid afterwards is
      // |users| x |days|. DECIMAL-routed sums keep the hash compare
      // exact (q_profile's invariant).
      val ev = t(s, dir, "events").select(col("user_id"),
        timestamp_micros(expr("ts div 1000")).as("tt"), col("value"))
      EventAnalytics.gapFillDaily(ev, "user_id", "tt", "value",
          windowDays = 7)
        .orderBy("user_id", "day")
    },
    () =>
      """WITH daily AS (SELECT user_id,
                               CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
                               sum(CAST(value AS DECIMAL(18,6))) AS dsum,
                               count(*) AS n_events
                        FROM events GROUP BY user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE)),
              span AS (SELECT user_id, min(day) AS d0, max(day) AS d1
                       FROM daily GROUP BY user_id),
              grid AS (SELECT user_id,
                              CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
                                                          CAST(d1 AS TIMESTAMP),
                                                          INTERVAL 1 DAY)) AS DATE) AS day
                       FROM span),
              f AS (SELECT g.user_id, g.day, d.dsum, d.n_events
                    FROM grid g LEFT JOIN daily d
                      ON g.user_id = d.user_id AND g.day = d.day)
         SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
                coalesce(n_events, 0) AS n_events,
                CAST(dsum AS DOUBLE) AS day_sum,
                CAST(last_value(dsum IGNORE NULLS) OVER
                       (PARTITION BY user_id ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS DOUBLE) AS carry_sum,
                CAST(sum(coalesce(dsum, 0)) OVER w7 AS DOUBLE)
                  / count(*) OVER w7 AS roll7_avg
         FROM f
         WINDOW w7 AS (PARTITION BY user_id ORDER BY day
                       ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
         ORDER BY user_id, day"""),
    QuerySpec("q_sessionize", (s, dir) => {
      // Gaps-and-islands sessionization (6h inactivity gap): lag +
      // cumulative-sum window in ONE user-key shuffle, then the session
      // summary over already-slim rows. All-integer arithmetic (epoch
      // micros), replayed verbatim by the oracle window SQL.
      val ev = t(s, dir, "events").select(col("user_id"),
        timestamp_micros(expr("ts div 1000")).as("tt"))
      EventAnalytics.sessionize(ev, "user_id", "tt", gapSeconds = 6 * 3600)
        .orderBy("user_id", "session_idx")
    },
    () =>
      """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
                    FROM events),
              g AS (SELECT user_id, us,
                           CASE WHEN lag(us) OVER w IS NULL
                                  OR us - lag(us) OVER w > 21600000000
                                THEN 1 ELSE 0 END AS is_new
                    FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
              s AS (SELECT user_id, us,
                           CAST(sum(is_new) OVER
                                  (PARTITION BY user_id ORDER BY us
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                                AS BIGINT) AS session_idx
                    FROM g)
         SELECT user_id, session_idx, count(*) AS n_events,
                min(us) AS start_us, max(us) AS end_us
         FROM s GROUP BY user_id, session_idx
         ORDER BY user_id, session_idx"""),
    QuerySpec("q_rate_spikes", (s, dir) => {
      // Trailing-window burst detector (EventAnalytics.rateSpikes) —
      // the per-DAY member of the growth family: q_trending compares
      // two fixed halves, q_decayed smooths; this flags the day a
      // user's rate jumps over its own trailing-7-day mean (absent
      // days count 0). One count aggregate + a slim count-row banded
      // self-join; lift is one exact-integer division; full tie-break
      // ordering makes the top-20 cut deterministic.
      val ev = t(s, dir, "events").select(col("user_id"),
          expr("(ts div 1000) div 86400000000").as("day"))
        .where(col("user_id").isNotNull)
      EventAnalytics.rateSpikes(ev, "user_id", "day")
        .orderBy(col("lift").desc, col("n").desc, col("user_id"),
          col("day"))
        .limit(20)
    },
    // Rate-spike replay: the identical (key, day) counts, banded
    // count-row self-join with absent days as zero, one exact-integer
    // division, same total tie-break order for the top-20 cut.
    () =>
      """WITH ev AS (SELECT user_id,
                            epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
                     FROM events WHERE user_id IS NOT NULL),
              c AS (SELECT user_id, day, CAST(count(*) AS BIGINT) AS n
                    FROM ev GROUP BY 1, 2),
              j AS (SELECT a.user_id, a.day, a.n,
                           CAST(coalesce(sum(b.n), 0) AS BIGINT) AS sum_prev
                    FROM c a LEFT JOIN c b ON b.user_id = a.user_id
                         AND b.day BETWEEN a.day - 7 AND a.day - 1
                    GROUP BY 1, 2, 3)
         SELECT user_id, day, n, sum_prev,
                CAST((n + 1) * 7 AS DOUBLE) / CAST(sum_prev + 7 AS DOUBLE) AS lift
         FROM j ORDER BY lift DESC, n DESC, user_id, day LIMIT 20"""),
    QuerySpec("q_attribution", (s, dir) => {
      // First/last-touch conversion attribution (EventAnalytics
      // .attribution): per purchase, the first and last view/click in
      // the trailing 24h window — ONE user-key exchange + sort shared
      // by both RANGE frames (fused into a single Window operator,
      // pinned), first/last picked via struct min/max in one pass (no
      // self-join, no per-conversion re-scan). NULL channel = no touch
      // in window (the tracking-health signal), non-empty both ways
      // at sf0.01.
      val ev = t(s, dir, "events").select(col("user_id"),
        timestamp_micros(expr("ts div 1000")).as("tt"),
        col("event_type"))
      EventAnalytics.attribution(ev, "user_id", "tt", "event_type",
          touchTypes = Seq("click", "view"), convType = "purchase",
          lookbackUs = 86400000000L)
        .orderBy("user_id", "conv_us")
    },
    // Attribution replay: the identical RANGE window with named-struct
    // min/max (lexicographic (t_us, ch) comparison both engines; ties
    // at equal t_us break on the channel string).
    () =>
      """WITH ev AS (SELECT user_id, event_type,
                            epoch_us(CAST(ts AS TIMESTAMP)) AS us
                     FROM events),
              wv AS (SELECT user_id, event_type, us,
                            min(CASE WHEN event_type IN ('click','view')
                                     THEN {'t_us': us, 'ch': event_type} END)
                              OVER w AS f,
                            max(CASE WHEN event_type IN ('click','view')
                                     THEN {'t_us': us, 'ch': event_type} END)
                              OVER w AS l,
                            count(CASE WHEN event_type IN ('click','view')
                                       THEN 1 END) OVER w AS nt
                     FROM ev
                     WINDOW w AS (PARTITION BY user_id ORDER BY us
                                  RANGE BETWEEN 86400000000 PRECEDING
                                            AND CURRENT ROW))
         SELECT user_id, us AS conv_us,
                (f).ch AS first_channel, (f).t_us AS first_us,
                (l).ch AS last_channel, (l).t_us AS last_us,
                nt AS n_touches
         FROM wv WHERE event_type = 'purchase'
         ORDER BY user_id, conv_us"""),
    QuerySpec("q_transitions", (s, dir) => {
      // Per-user Markov transition matrix over event types (event_id
      // breaks timestamp ties, so the sequence — and the matrix — is
      // total and deterministic): 25 (from, to) cells with exact
      // counts and row-conditional probabilities. One user-key window
      // exchange; the journey summary funnels and baskets miss.
      val ev = t(s, dir, "events").select(col("user_id"),
        expr("ts div 1000").as("us"), col("event_id"), col("event_type"))
      EventAnalytics.transitionMatrix(ev, "user_id", "us", "event_id",
          "event_type")
        .orderBy("from_type", "to_type")
    },
    () =>
      """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                           event_id, event_type FROM events),
              s AS (SELECT event_type AS from_type,
                           lead(event_type) OVER (PARTITION BY user_id
                                                  ORDER BY us, event_id) AS to_type
                    FROM e),
              tr AS (SELECT from_type, to_type, count(*) AS n FROM s
                     WHERE to_type IS NOT NULL GROUP BY 1, 2),
              tot AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from
                      FROM tr GROUP BY 1)
         SELECT tr.from_type, tr.to_type, tr.n, tot.n_from,
                CAST(tr.n AS DOUBLE) / CAST(tot.n_from AS DOUBLE) AS prob
         FROM tr JOIN tot USING (from_type)
         ORDER BY from_type, to_type"""),
    QuerySpec("q_assoc", (s, dir) => {
      // Association rules over daily (user, day) baskets of event
      // types — the Apriori 2-itemset layer: support, both directed
      // confidences, and lift from exact counts (the collocations
      // recipe on transactional data; log-free so it replays). The
      // pair scan is keyed on the basket, fanout <= 5^2 types per
      // basket; supports and the basket total broadcast back.
      val ev = t(s, dir, "events").select(col("user_id"),
        expr("(ts div 1000) div 86400000000").as("day"),
        col("event_type"))
      EventAnalytics.associationRules(ev, Seq("user_id", "day"),
          "event_type")
        .orderBy("item_a", "item_b")
    },
    () =>
      """WITH e AS (SELECT user_id,
                           epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
                           event_type FROM events),
              bi AS (SELECT DISTINCT user_id, day, event_type FROM e
                     WHERE event_type IS NOT NULL),
              nb AS (SELECT count(*) AS n_baskets FROM
                     (SELECT DISTINCT user_id, day FROM bi)),
              ic AS (SELECT event_type, count(*) AS n_item FROM bi GROUP BY 1),
              pr AS (SELECT x.event_type AS item_a, y.event_type AS item_b,
                            count(*) AS n_ab
                     FROM bi x JOIN bi y
                       ON x.user_id = y.user_id AND x.day = y.day
                      AND x.event_type < y.event_type
                     GROUP BY 1, 2)
         SELECT item_a, item_b, a.n_item AS n_a, b.n_item AS n_b, n_ab,
                nb.n_baskets,
                CAST(n_ab AS DOUBLE) / CAST(nb.n_baskets AS DOUBLE) AS support,
                CAST(n_ab AS DOUBLE) / CAST(a.n_item AS DOUBLE) AS conf_a_to_b,
                CAST(n_ab AS DOUBLE) / CAST(b.n_item AS DOUBLE) AS conf_b_to_a,
                CAST(n_ab * nb.n_baskets AS DOUBLE)
                / CAST(a.n_item * b.n_item AS DOUBLE) AS lift
         FROM pr JOIN ic a ON a.event_type = pr.item_a
                 JOIN ic b ON b.event_type = pr.item_b, nb
         ORDER BY item_a, item_b"""),
    QuerySpec("q_ewma", (s, dir) => {
      // Per-user EWMA of event values (alpha = 0.25, exactly
      // representable): the sequential fold runs over each user's
      // ts-ordered value array — one exchange, funnel's shape — and
      // both engines execute the IDENTICAL left fold, so the smoothed
      // level hash-matches without rounding.
      val ev = t(s, dir, "events").select(col("user_id"),
        expr("ts div 1000").as("us"), col("value"))
      EventAnalytics.ewmaSmooth(ev, "user_id", "us", "value",
          alpha = 0.25)
        .orderBy("user_id")
    },
    // The same left fold: list_reduce seeds with the FIRST element
    // (s1 = x1) exactly like Spark's aggregate over the tail.
    () =>
      """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                           value FROM events WHERE value IS NOT NULL),
              g AS (SELECT user_id, count(*) AS n_events,
                           list(value ORDER BY us, value) AS vs
                    FROM e GROUP BY user_id)
         SELECT user_id, n_events,
                list_reduce(vs, (acc, x) -> acc * 0.75 + x * 0.25) AS ewma
         FROM g ORDER BY user_id"""),
    QuerySpec("q_decayed", (s, dir) => {
      // Recency-weighted activity per event type: each event counts
      // 2^-(full half-lives of age), half-life 7 days against the
      // corpus's last day (19758) — stepwise decay because a per-day
      // factor is irrational and libm pow doesn't replay (the repo's
      // log/pow ban). Integer fixed-point weights summed exactly
      // (long / DECIMAL), ONE final IEEE divide — bit-identical on any
      // partitioning and engine. Values fixed-pointed at 1e-6; the
      // decayed_sum column is reported back in value units.
      val ev = t(s, dir, "events").select(col("event_type"),
        expr("(ts div 1000) div 86400000000").as("day"),
        floor(col("value") * 1000000.0 + 0.5).cast(LongType).as("v"))
      EventAnalytics.decayedAgg(ev, "event_type", "day", "v",
          refDay = 19758L, halfLifeDays = 7L)
        .select(col("event_type"), col("n_events"), col("decayed_n"),
          (col("decayed_sum") / lit(1000000.0)).as("decayed_value"))
        .orderBy("event_type")
    },
    // Decayed-activity replay: the same integer half-life buckets and
    // 2^(32-b) fixed-point weights (<< on BIGINT), exact HUGEINT sums,
    // one double divide by 2^32 (then the 1e-6 unit restore).
    () =>
      raw"""WITH e AS (SELECT event_type,
                              epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
                              CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v
                       FROM events),
               f AS (SELECT event_type, v,
                            CAST(32 - (19758 - day) // 7 AS INTEGER) AS sh
                     FROM e WHERE day IS NOT NULL AND day <= 19758
                       AND (19758 - day) // 7 < 32),
               g AS (SELECT event_type,
                            count(*) AS n_events,
                            sum(CAST(1 AS BIGINT) << sh) AS nfp,
                            sum(CAST(v AS HUGEINT) * (CAST(1 AS BIGINT) << sh)) AS sfp
                     FROM f GROUP BY event_type)
          SELECT event_type, n_events,
                 CAST(nfp AS DOUBLE) / 4294967296.0 AS decayed_n,
                 (CAST(sfp AS DOUBLE) / 4294967296.0) / 1000000.0 AS decayed_value
          FROM g ORDER BY event_type"""),
    QuerySpec("q_retention", (s, dir) => {
      // Daily purchase-cohort retention matrix: cohort users by first
      // purchase day, count actives per (cohort, day offset), rate
      // against the offset-0 cohort size. Weekly buckets are saturated
      // on this corpus (every user active every week — retention would
      // be a vacuous 1.0 everywhere); daily purchase activity is sparse
      // at every SF (98/214/311 non-trivial grid rows), so both the
      // counts AND the rates are exercised. One corpus-sized exchange
      // (the (user, day) distinct); everything after is slim.
      val ev = t(s, dir, "events")
        .where(col("event_type") === "purchase")
        .select(col("user_id"), expr("ts div 1000").as("us"))
      EventAnalytics.retentionCohorts(ev, "user_id", "us",
          bucketUs = 86400000000L)
        .orderBy("cohort", "period_offset")
    },
    () =>
      """WITH e AS (SELECT user_id,
                           epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS p
                    FROM events WHERE event_type = 'purchase'),
              a AS (SELECT DISTINCT user_id, p FROM e),
              c AS (SELECT user_id, min(p) AS cohort FROM a GROUP BY user_id),
              g AS (SELECT cohort, p - cohort AS period_offset,
                           count(*) AS n_active
                    FROM a JOIN c USING (user_id) GROUP BY 1, 2),
              s AS (SELECT cohort, n_active AS n_cohort FROM g
                    WHERE period_offset = 0)
         SELECT g.cohort, g.period_offset, g.n_active, s.n_cohort,
                CAST(g.n_active AS DOUBLE) / CAST(s.n_cohort AS DOUBLE) AS retention
         FROM g JOIN s USING (cohort)
         ORDER BY cohort, period_offset"""),
    QuerySpec("q_outliers", (s, dir) => {
      // Population z-score outliers per event_type: exact DECIMAL
      // moments broadcast back onto the narrow event scan; |z| > 3
      // keeps 18/188/1906 rows at sf0.001/0.01/0.1. All post-agg math
      // is fixed-order IEEE double, restated verbatim in the oracle.
      EventAnalytics.zScoreOutliers(t(s, dir, "events"), "event_id",
          "event_type", "value", threshold = 3.0)
        .orderBy("event_id")
    },
    () =>
      """WITH st AS (SELECT event_type, count(value) AS n,
                            CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s,
                            CAST(sum(CAST(value * value AS DECIMAL(28,10))) AS DOUBLE) AS sq
                     FROM events GROUP BY event_type)
         SELECT event_id, event_type, value,
                (value - s / n) / sqrt(sq / n - (s / n) * (s / n)) AS z
         FROM events JOIN st USING (event_type)
         WHERE abs((value - s / n) / sqrt(sq / n - (s / n) * (s / n))) > 3.0
         ORDER BY event_id"""),
    QuerySpec("q_interpolate", (s, dir) => {
      // Linear-interpolation gap fill (EventAnalytics.interpolateDaily):
      // q_gapfill's carry-forward is a step function; this draws the
      // straight line between surrounding observations. Every 3rd day
      // is knocked out deterministically so interior gaps exist at any
      // SF; spine endpoints are observed by construction, so `filled`
      // is total. Fixed-order exact-operand IEEE arithmetic — the
      // fill replays bit-for-bit.
      val ev = t(s, dir, "events")
        .select(col("event_type"),
          expr("(ts div 1000) div 86400000000").as("day"),
          round(col("value") * 100).cast(LongType).as("cents"))
        .where(pmod(col("day"), lit(3)) =!= 0)
      EventAnalytics.interpolateDaily(ev, "event_type", "day", "cents")
        .orderBy("event_type", "day")
    },
    // Interpolation replay: same spine/neighbor windows (IGNORE NULLS
    // both engines), identical parenthesized fill arithmetic.
    () =>
      """WITH e AS (SELECT event_type,
                          epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
                          CAST(round(value * 100) AS BIGINT) AS cents
                   FROM events),
              d AS (SELECT event_type AS key, day,
                           CAST(sum(cents) AS BIGINT) AS v
                    FROM e WHERE day % 3 <> 0 GROUP BY 1, 2),
              sp AS (SELECT key, min(day) AS d0, max(day) AS d1
                     FROM d GROUP BY key),
              g AS (SELECT key, unnest(range(d0, d1 + 1)) AS day FROM sp),
              j AS (SELECT g.key, g.day, d.v
                    FROM g LEFT JOIN d ON d.key = g.key AND d.day = g.day),
              wv AS (SELECT key, day, v,
                            last_value(v IGNORE NULLS) OVER wp AS vp,
                            last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER wp AS dp,
                            first_value(v IGNORE NULLS) OVER wn AS vn,
                            first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER wn AS dn
                     FROM j WINDOW
                       wp AS (PARTITION BY key ORDER BY day
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                       wn AS (PARTITION BY key ORDER BY day
                              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         SELECT key AS event_type, day, v AS observed,
                CASE WHEN v IS NOT NULL THEN CAST(v AS DOUBLE)
                     ELSE CAST(vp AS DOUBLE)
                            + CAST(vn - vp AS DOUBLE)
                              * (CAST(day - dp AS DOUBLE)
                                   / CAST(dn - dp AS DOUBLE)) END AS filled
         FROM wv ORDER BY event_type, day"""),
    QuerySpec("q_gini", (s, dir) => {
      // Gini concentration of spend across users per event type
      // (EventAnalytics.giniByGroup): the dataset-card inequality
      // number. Cent-scaled masses keep every sum exact; the rank
      // window runs over the per-user AGGREGATE partitioned by type,
      // never the event stream.
      val e = t(s, dir, "events").select(col("event_type"),
        col("user_id"), round(col("value") * 100).cast(LongType).as("cents"))
      EventAnalytics.giniByGroup(e, "event_type", "user_id", "cents")
        .select(col("grp").as("event_type"), col("n_keys"), col("total"),
          col("gini"))
        .orderBy("event_type")
    },
    // Gini replay: same per-key exact cent sums, rank window over the
    // aggregate, identical closing division.
    () =>
      """WITH pk AS (SELECT event_type AS grp, user_id AS key,
                          CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
                   FROM events GROUP BY 1, 2),
              rk AS (SELECT grp, x,
                            CAST(row_number() OVER
                              (PARTITION BY grp ORDER BY x, key) AS BIGINT)
                              * x AS ix
                     FROM pk),
              ag AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_keys,
                            CAST(sum(x) AS BIGINT) AS total,
                            CAST(sum(ix) AS BIGINT) AS sum_ix
                     FROM rk GROUP BY grp)
         SELECT grp AS event_type, n_keys, total,
                CASE WHEN total = 0 THEN NULL
                     ELSE CAST(2 * sum_ix - (n_keys + 1) * total AS DOUBLE)
                            / CAST(n_keys * total AS DOUBLE) END AS gini
         FROM ag ORDER BY event_type"""),
    QuerySpec("q_seasonal", (s, dir) => {
      // Additive seasonal decomposition of per-type daily spend
      // (EventAnalytics.seasonalDecompose): value = trend (centered
      // ±3-day RANGE-window mean) + seasonal (weekday mean minus
      // grand mean, exact-integer means) + resid — the seasonally
      // honest level alarm beside q_rate_spikes' burst ratio.
      val e = t(s, dir, "events").select(col("event_type"),
        expr("(ts div 1000) div 86400000000").as("day"),
        round(col("value") * 100).cast(LongType).as("cents"))
      EventAnalytics.seasonalDecompose(e, "event_type", "day", "cents")
        .orderBy("event_type", "day")
    },
    // Seasonal replay: same daily aggregate, RANGE window trend,
    // exact-integer weekday/grand means, fixed-order residual.
    () =>
      """WITH e AS (SELECT event_type AS key,
                          epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
                          CAST(round(value * 100) AS BIGINT) AS cents
                   FROM events),
              d AS (SELECT key, day, CAST(sum(cents) AS BIGINT) AS v
                    FROM e GROUP BY 1, 2),
              t AS (SELECT key, day, v,
                           CAST(sum(v) OVER w AS DOUBLE)
                             / CAST(count(*) OVER w AS DOUBLE) AS trend,
                           day % 7 AS wd
                    FROM d
                    WINDOW w AS (PARTITION BY key ORDER BY day
                                 RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
              wk AS (SELECT key, day % 7 AS wd,
                            CAST(sum(v) AS BIGINT) AS sw,
                            CAST(count(*) AS BIGINT) AS cw
                     FROM d GROUP BY 1, 2),
              g AS (SELECT key, CAST(sum(v) AS BIGINT) AS sg,
                           CAST(count(*) AS BIGINT) AS cg
                    FROM d GROUP BY key)
         SELECT t.key AS event_type, t.day, t.v, t.trend,
                CAST(sw AS DOUBLE) / CAST(cw AS DOUBLE)
                  - CAST(sg AS DOUBLE) / CAST(cg AS DOUBLE) AS seasonal,
                (CAST(t.v AS DOUBLE) - t.trend)
                  - (CAST(sw AS DOUBLE) / CAST(cw AS DOUBLE)
                     - CAST(sg AS DOUBLE) / CAST(cg AS DOUBLE)) AS resid
         FROM t JOIN wk ON wk.key = t.key AND wk.wd = t.wd
                JOIN g ON g.key = t.key
         ORDER BY event_type, day""")
  )
}

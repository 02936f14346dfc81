package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry.t

/** The streaming surface from [[graft.streaming.StreamOps]], run in batch
  * (`withWatermark` is a no-op there; StreamOpsSpec covers incremental
  * execution) so each result is checked against its oracle. */
object StreamQueries {

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_stream_interval", (s, dir) => {
      // The watermarked stream-stream interval join on a batch frame
      // (watermark = no-op) under q_range's oracle: same pairs, same
      // values — batch parity is the correctness story for every
      // streaming op here.
      val ev = t(s, dir, "events").select(col("event_id"), col("user_id"),
        timestamp_micros(expr("ts div 1000")).as("tt"), col("event_type"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("tt"), col("event_id"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("tt"), col("event_id").as("click_id"))
      graft.streaming.StreamOps.streamingIntervalJoin(purchases, clicks,
          "user_id", "tt", lowerSec = -3600, upperSec = 0)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("tt")).as("ts_us"),
          col("right_click_id").as("click_id"),
          unix_micros(col("right_tt")).as("click_ts_us"))
        .orderBy("event_id", "click_id")
    },
    () =>
      """WITH p AS (SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
                    FROM events WHERE event_type = 'purchase'),
              c AS (SELECT event_id AS click_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS cts
                    FROM events WHERE event_type = 'click')
         SELECT p.event_id, p.user_id, p.ts_us, c.click_id, c.cts AS click_ts_us
         FROM p JOIN c ON p.user_id = c.user_id
                      AND c.cts >= p.ts_us - 3600000000 AND c.cts <= p.ts_us
         ORDER BY p.event_id, c.click_id"""),
    QuerySpec("q_stream_outer", (s, dir) => {
      // LEFT OUTER stream-stream interval join (batch parity, like
      // q_stream_interval): purchases with NO click in their preceding
      // hour emit once with null click columns — non-vacuous both ways
      // at every SF (33 matched vs ~1950 null-extended at sf0.01). The
      // watermark + interval bound is what makes outer emission
      // decidable in true streaming (StreamOps Scaladoc).
      val ev = t(s, dir, "events").select(col("event_id"), col("user_id"),
        timestamp_micros(expr("ts div 1000")).as("tt"), col("event_type"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("tt"), col("event_id"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("tt"), col("event_id").as("click_id"))
      graft.streaming.StreamOps.streamingIntervalJoin(purchases, clicks,
          "user_id", "tt", lowerSec = -3600, upperSec = 0,
          joinType = "left_outer")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("tt")).as("ts_us"),
          col("right_click_id").as("click_id"),
          unix_micros(col("right_tt")).as("click_ts_us"))
        .orderBy(asc("event_id"), asc_nulls_first("click_id"))
    },
    () =>
      """WITH p AS (SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
                    FROM events WHERE event_type = 'purchase'),
              c AS (SELECT event_id AS click_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS cts
                    FROM events WHERE event_type = 'click')
         SELECT p.event_id, p.user_id, p.ts_us, c.click_id, c.cts AS click_ts_us
         FROM p LEFT JOIN c ON p.user_id = c.user_id
                           AND c.cts >= p.ts_us - 3600000000 AND c.cts <= p.ts_us
         ORDER BY p.event_id, c.click_id NULLS FIRST"""),
    QuerySpec("q_stream_window", (s, dir) => {
      val ev = t(s, dir, "events").select(
        timestamp_micros(expr("ts div 1000")).as("ts2"),
        col("event_type"), col("value"))
      graft.streaming.StreamOps.windowedAgg(ev, "ts2", "event_type", "value",
          windowDur = "1 hour")
        .select(unix_millis(col("win_start")).as("win_start_ms"),
          unix_millis(col("win_end")).as("win_end_ms"),
          col("event_type"), col("n"), round(col("total"), 2).as("total"))
        .orderBy("win_start_ms", "event_type")
    },
    () =>
      """SELECT epoch_ms(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP))) AS win_start_ms,
                epoch_ms(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) + INTERVAL 1 HOUR) AS win_end_ms,
                event_type, count(*) AS n, round(sum("value"), 2) AS total
         FROM events GROUP BY 1, 2, 3 ORDER BY win_start_ms, event_type"""),
    QuerySpec("q_stream_drift", (s, dir) => {
      // Batch parity of the STREAMING drift monitor
      // (StreamOps.histogramDriftStream, the q_stream_window anchor
      // recipe): per day-window of the second half of the log, the
      // value-histogram TVD against the FROZEN first half — q_drift's
      // binWidth on q_drift's split, but per arriving window instead
      // of pooled. Runs the streaming op itself on a batch frame
      // (EliminateEventTimeWatermark strips the watermark; the chained
      // window aggregations and the ascending-bin L1 fold execute
      // identically), so the oracle anchors the exact arithmetic the
      // stream serves.
      val ev = t(s, dir, "events").select(
        timestamp_micros(expr("ts div 1000")).as("ts2"),
        expr("(ts div 1000) div 86400000000").as("day"), col("value"))
      graft.streaming.StreamOps.histogramDriftStream(
          ev.where(col("day") < 19740).select("value"),
          ev.where(col("day") >= 19740).select(col("ts2"), col("value")),
          "ts2", "value", binWidth = 25.0, windowDuration = "1 day",
          watermarkDelay = "0 seconds")
        .select(unix_millis(col("win_start")).as("win_start_ms"),
          col("t_cur"), col("n_novel_bins"), col("tvd"))
        .orderBy("win_start_ms")
    },
    // Streaming drift-monitor replay: ref bins from the frozen first
    // half, per day-window cur bins from the second, full-outer per-
    // window bin frame, the SAME per-bin L1 terms and ascending-bin
    // 0.0-seeded fold * 0.5, novel = cur bins the ref never saw.
    () =>
      raw"""WITH e AS MATERIALIZED (SELECT CAST(ts AS TIMESTAMP) AS t,
                     epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
                     "value" AS v FROM events),
              rb AS MATERIALIZED (SELECT CAST(floor(v / 25.0) AS BIGINT) AS bin,
                     CAST(count(*) AS BIGINT) AS n_ref
                   FROM e WHERE day < 19740 AND v IS NOT NULL GROUP BY 1),
              rt AS (SELECT CAST(sum(n_ref) AS BIGINT) AS t_ref FROM rb),
              cb AS MATERIALIZED (SELECT
                     epoch_ms(time_bucket(INTERVAL '1 day', t)) AS win_start_ms,
                     CAST(floor(v / 25.0) AS BIGINT) AS bin,
                     CAST(count(*) AS BIGINT) AS n_cur
                   FROM e WHERE day >= 19740 AND v IS NOT NULL GROUP BY 1, 2),
              ctot AS (SELECT win_start_ms, CAST(sum(n_cur) AS BIGINT) AS t_cur
                   FROM cb GROUP BY 1),
              allb AS (SELECT w.win_start_ms, b.bin
                   FROM (SELECT DISTINCT win_start_ms FROM cb) w, rb b
                   UNION
                   SELECT win_start_ms, bin FROM cb),
              terms AS (SELECT a.win_start_ms, a.bin,
                     abs(COALESCE(rb.n_ref, 0) / CAST(rt.t_ref AS DOUBLE) -
                         COALESCE(cb.n_cur, 0) / CAST(ctot.t_cur AS DOUBLE)) AS l1,
                     CASE WHEN rb.bin IS NULL AND cb.n_cur IS NOT NULL
                          THEN 1 ELSE 0 END AS novel
                   FROM allb a
                   LEFT JOIN rb ON rb.bin = a.bin
                   LEFT JOIN cb ON cb.win_start_ms = a.win_start_ms
                                AND cb.bin = a.bin
                   JOIN ctot ON ctot.win_start_ms = a.win_start_ms
                   CROSS JOIN rt),
              ag AS (SELECT win_start_ms,
                     CAST(sum(novel) AS BIGINT) AS n_novel_bins,
                     list_reduce([CAST(0 AS DOUBLE)] || list(l1 ORDER BY bin),
                       (x, y) -> x + y) * 0.5 AS tvd
                   FROM terms GROUP BY 1)
         SELECT ctot.win_start_ms, ctot.t_cur, ag.n_novel_bins, ag.tvd
         FROM ctot JOIN ag USING (win_start_ms) ORDER BY win_start_ms"""),
    QuerySpec("q_stream_ks", (s, dir) => {
      // Batch parity of the STREAMING KS monitor (StreamOps.ksTestStream
      // — the q_stream_drift recipe for the binning-free statistic):
      // per day-window of the second half, sup|ECDF diff| vs the frozen
      // first half in exact Long cross-products. DOLLAR-quantized, not
      // q_ks_test's cents: the pooled-distinct projection is O(n²) per
      // window and loudly capped at 4096 — cents run ~6.6k distinct at
      // sf0.01 (the cap's own documented remedy is to quantize coarser;
      // this registration IS that remedy, with q_ks_test keeping the
      // fine-grained pooled number).
      val ev = t(s, dir, "events").select(
        timestamp_micros(expr("ts div 1000")).as("ts2"),
        expr("(ts div 1000) div 86400000000").as("day"),
        round(col("value")).cast(LongType).as("dollars"))
      graft.streaming.StreamOps.ksTestStream(
          ev.where(col("day") < 19740).select("dollars"),
          ev.where(col("day") >= 19740).select(col("ts2"), col("dollars")),
          "ts2", "dollars", windowDuration = "1 day",
          watermarkDelay = "0 seconds")
        .select(unix_millis(col("win_start")).as("win_start_ms"),
          col("n_ref"), col("n_cur"), col("d_num"), col("d"),
          col("ks_stat"))
        .orderBy("win_start_ms")
    },
    // Streaming KS replay: dollar-quantized values, per-window full
    // join against the frozen ref distribution, window cumsums, the
    // same exact-Long d_num max and closing d / ks_stat chains.
    () =>
      raw"""WITH e AS MATERIALIZED (SELECT CAST(ts AS TIMESTAMP) AS t,
                     epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
                     CAST(round(value) AS BIGINT) AS v
                   FROM events WHERE value IS NOT NULL),
              r AS MATERIALIZED (SELECT v, CAST(count(*) AS BIGINT) AS nr
                   FROM e WHERE day < 19740 GROUP BY v),
              rt AS (SELECT CAST(sum(nr) AS BIGINT) AS n_ref FROM r),
              c AS MATERIALIZED (SELECT
                     epoch_ms(time_bucket(INTERVAL '1 day', t)) AS w,
                     v, CAST(count(*) AS BIGINT) AS nc
                   FROM e WHERE day >= 19740 GROUP BY 1, 2),
              ctot AS (SELECT w, CAST(sum(nc) AS BIGINT) AS n_cur
                   FROM c GROUP BY 1),
              g AS (SELECT a.w, a.v,
                     coalesce(r.nr, 0) AS nr, coalesce(c.nc, 0) AS nc
                   FROM (SELECT w.w, r.v FROM (SELECT DISTINCT w FROM c) w, r
                         UNION
                         SELECT w, v FROM c) a
                   LEFT JOIN r ON r.v = a.v
                   LEFT JOIN c ON c.w = a.w AND c.v = a.v),
              cw AS (SELECT w,
                     CAST(sum(nr) OVER win AS BIGINT) AS cr,
                     CAST(sum(nc) OVER win AS BIGINT) AS cc
                   FROM g WINDOW win AS (PARTITION BY w ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
              d0 AS (SELECT cw.w,
                     max(abs(cr * ctot.n_cur - cc * rt.n_ref)) AS d_num
                   FROM cw JOIN ctot ON ctot.w = cw.w CROSS JOIN rt
                   GROUP BY cw.w)
         SELECT d0.w AS win_start_ms, rt.n_ref, ctot.n_cur, d0.d_num,
                CASE WHEN rt.n_ref = 0 OR ctot.n_cur = 0 THEN NULL
                     ELSE CAST(d0.d_num AS DOUBLE)
                            / CAST(rt.n_ref * ctot.n_cur AS DOUBLE) END AS d,
                sqrt(CAST(rt.n_ref * ctot.n_cur AS DOUBLE)
                       / CAST(rt.n_ref + ctot.n_cur AS DOUBLE))
                  * (CASE WHEN rt.n_ref = 0 OR ctot.n_cur = 0 THEN NULL
                          ELSE CAST(d0.d_num AS DOUBLE)
                                 / CAST(rt.n_ref * ctot.n_cur AS DOUBLE) END)
                  AS ks_stat
         FROM d0 JOIN ctot ON ctot.w = d0.w CROSS JOIN rt
         ORDER BY win_start_ms"""),
    QuerySpec("q_stream_session", (s, dir) => {
      val ev = t(s, dir, "events").select(
        timestamp_micros(expr("ts div 1000")).as("ts2"), col("user_id"))
      graft.streaming.StreamOps.sessionAgg(ev, "ts2", "user_id",
          gap = "4 hours")
        .select(unix_millis(col("sess_start")).as("sess_start_ms"),
          unix_millis(col("sess_end")).as("sess_end_ms"),
          col("user_id"), col("n"))
        .orderBy("user_id", "sess_start_ms")
    },
    () =>
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS t FROM events),
              o AS (SELECT user_id, t,
                           CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t) >= INTERVAL 4 HOUR
                                THEN 1 ELSE 0 END AS brk
                    FROM e),
              g AS (SELECT user_id, t,
                           sum(brk) OVER (PARTITION BY user_id ORDER BY t ROWS UNBOUNDED PRECEDING) AS grp
                    FROM o)
         SELECT epoch_ms(min(t)) AS sess_start_ms,
                epoch_ms(max(t) + INTERVAL 4 HOUR) AS sess_end_ms,
                user_id, count(*) AS n
         FROM g GROUP BY user_id, grp ORDER BY user_id, sess_start_ms"""),
    QuerySpec("q_stream_enrich", (s, dir) => {
      // Stream-static enrichment (the remaining streaming join mode
      // next to stream-stream): the SAME enrichWithDim call runs
      // unchanged on a readStream frame — proven incrementally with an
      // unmatched-key null case in StreamOpsSpec; this batch run is
      // the oracle-checked side. The dim slims to the probed columns
      // BEFORE the broadcast; the stream side never shuffles until the
      // post-enrichment rollup (pinned).
      val ev = t(s, dir, "events").select(col("user_id"), col("event_type"))
      // the FULL dim goes in: Catalyst prunes the unused dim_ columns
      // back through enrichWithDim's select to the scan (pinned), so
      // the op needs no caller-side slimming to stay narrow
      val dim = t(s, dir, "customer")
      graft.streaming.StreamOps.enrichWithDim(ev, dim, "user_id", "c_custkey")
        .groupBy(col("dim_c_mktsegment").as("segment"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("segment"), col("event_type"))
    },
    () =>
      """SELECT c_mktsegment AS segment, event_type, count(*) AS n
         FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
         GROUP BY 1, 2 ORDER BY segment NULLS FIRST, event_type""")
  )
}

package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry.t
import graft.ops.Layout
import OracleSql.splitmixCtesSql

/** Data-layout indexes and zone maps from [[graft.ops.Layout]]. */
object LayoutQueries {

  /** DuckDB replay of [[graft.ops.Layout.hilbertIndex]]: `order` CTE
    * rounds hb1..hbN over prefix CTE `hb0` (carry..., x, y, d=0 as
    * BIGINT) — the same xy2d reflect+swap rounds the Spark side runs
    * as chained projections. */
  private def hilbertCtesSql(order: Int, carry: String): String = {
    val n = 1L << order
    (0 until order).map { i =>
      val s = 1L << (order - 1 - i)
      val rx = s"(CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END)"
      val ry = s"(CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END)"
      s"""hb${i + 1} AS (SELECT $carry,
         |       d + CAST(${s * s} AS BIGINT) * xor(3 * $rx, $ry) AS d,
         |       CASE WHEN $ry = 0 THEN CASE WHEN $rx = 1 THEN ${n - 1} - y ELSE y END ELSE x END AS x,
         |       CASE WHEN $ry = 0 THEN CASE WHEN $rx = 1 THEN ${n - 1} - x ELSE x END ELSE y END AS y
         |       FROM hb$i)""".stripMargin
    }.mkString(",\n")
  }

  /** DuckDB replay of [[graft.ops.Layout.spreadBitsExpr]] applied to two
    * columns `sx`, `sy` of CTE `from` (carrying `carry` through): the
    * five shift-or-mask Morton spread steps in BIGINT — inputs < 2^31,
    * so every intermediate stays positive. Yields CTEs zs1..zs5. */
  private def spreadCtesSql(from: String, carry: String): String = {
    val masks = Seq(
      16 -> 281470681808895L, 8 -> 71777214294589695L,
      4 -> 1085102592571150095L, 2 -> 3689348814741910323L,
      1 -> 6148914691236517205L)
    masks.zipWithIndex.map { case ((sh, m), i) =>
      val src = if (i == 0) from else s"zs$i"
      s"""zs${i + 1} AS (SELECT $carry, (sx | (sx << $sh)) & $m AS sx,
         |                     (sy | (sy << $sh)) & $m AS sy FROM $src)""".stripMargin
    }.mkString(",\n")
  }

  /** 3-D twin of [[spreadCtesSql]]: the five stride-3 spread steps
    * (Layout.steps3's shift/mask pairs) over columns `sx`,`sy`,`sz` —
    * inputs < 2^21, every intermediate stays positive in BIGINT.
    * Yields CTEs z3s1..z3s5. */
  private def spread3CtesSql(from: String, carry: String): String = {
    val masks = Seq(
      32 -> 8725724278095871L, 16 -> 8725728556220671L,
      8 -> 1157144660301377551L, 4 -> 1207822528635744451L,
      2 -> 1317624576693539401L)
    masks.zipWithIndex.map { case ((sh, m), i) =>
      val src = if (i == 0) from else s"z3s$i"
      s"""z3s${i + 1} AS (SELECT $carry, (sx | (sx << $sh)) & $m AS sx,
         |                      (sy | (sy << $sh)) & $m AS sy,
         |                      (sz | (sz << $sh)) & $m AS sz FROM $src)""".stripMargin
    }.mkString(",\n")
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_range_bucket", (s, dir) => {
      // Deterministic balanced range bucketing (the single-column
      // sorted-write primitive): 16 buckets over order totalprice
      // (fixed-pointed to cents), boundaries from the hash-
      // deterministic quantile sketch — the replayable alternative to
      // repartitionByRange's nondeterministic reservoir sample. The
      // audit aggregate proves both layout properties in the output:
      // n per bucket ~ |orders|/16 (balance) and hi(b) <= lo(b+1)
      // (order partition).
      val o = t(s, dir, "orders").select(col("o_orderkey"),
        floor(col("o_totalprice") * 100.0 + 0.5).cast(LongType).as("v"))
      Layout.rangeBucketByQuantiles(o, "o_orderkey", "v",
          nBuckets = 16, k = 1024)
        .groupBy(col("bucket").cast(LongType).as("bucket"))
        .agg(count(lit(1)).as("n"), min(col("v")).as("lo"),
          max(col("v")).as("hi"))
        .orderBy("bucket")
    },
    () =>
      raw"""WITH o AS (SELECT o_orderkey,
                              CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS v
                       FROM orders),
               d0 AS (SELECT v, CAST(o_orderkey AS HUGEINT) AS z
                      FROM o WHERE v IS NOT NULL),
               ${splitmixCtesSql("d0", "v")},
               rk AS (SELECT v, row_number() OVER (ORDER BY z) AS rn FROM h5),
               sm AS (SELECT list_sort(list(v)) AS vs, count(*) AS n
                      FROM rk WHERE rn <= 1024),
               ed AS (SELECT list_transform(range(1, 16),
                        j -> vs[CAST(greatest((j * n + 15) // 16, 1) AS INTEGER)]) AS edges
                      FROM sm)
          SELECT CAST(len(list_filter(edges, ee -> v >= ee)) AS BIGINT) AS bucket,
                 count(*) AS n, min(v) AS lo, max(v) AS hi
          FROM o, ed GROUP BY 1 ORDER BY bucket"""),
    QuerySpec("q_zonemap", (s, dir) => {
      // ZONE-MAP PRUNING AUDIT — the measured payoff of the layout
      // family: 64 simulated write units (files) of orders under two
      // layouts — ingestion order (bucketed by orderkey ranges) vs
      // value-clustered (rangeBucketByQuantiles on price cents) — each
      // file's min/max envelope of the price column, then the files a
      // band predicate (~10% of rows) cannot skip. Clustered reads a
      // band-sized slice; natural reads EVERY file — the scan
      // amplification number that justifies a 100 TB rewrite, computed
      // before paying for it. Both bucketings share the id-hash kept
      // set, so one sketch pass feeds both edge arrays in the oracle.
      val o = t(s, dir, "orders").select(col("o_orderkey"),
        floor(col("o_totalprice") * 100.0 + 0.5).cast(LongType).as("v"))
      val lo = 20000000L
      val hi = 25000000L
      def audit(layout: String, valueCol: String) = Layout.pruneAudit(
          Layout.zonemapStats(
            Layout.rangeBucketByQuantiles(o, "o_orderkey", valueCol,
              nBuckets = 64, k = 1024),
            "bucket", "v"),
          lo, hi)
        .withColumn("layout", lit(layout))
      val matched = o.agg(
        sum(when(col("v").between(lo, hi), 1L).otherwise(0L))
          .as("rows_matched"))
      audit("clustered", "v").unionByName(audit("natural", "o_orderkey"))
        .crossJoin(broadcast(matched))
        .select(col("layout"), col("n_files"), col("files_read"),
          col("rows_scanned"), col("rows_matched"))
        .orderBy("layout")
    },
    // Range-bucket layout: the q_drift_eqdepth edge replay (bottom-1024
    // sample by o_orderkey hash, nearest-rank 16-quantile edges) and
    // the per-bucket audit aggregate.
    // Zone-map audit replay: ONE sketch pass (retention is id-hash
    // only, shared by both layouts) feeds two 63-edge arrays; per-file
    // min/max envelopes of v, then the band-overlap fold per layout.
    () =>
      raw"""WITH o AS (SELECT o_orderkey AS ok,
                              CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS v
                       FROM orders),
               d0 AS (SELECT ok, v, CAST(ok AS HUGEINT) AS z FROM o),
               ${splitmixCtesSql("d0", "ok, v")},
               rk AS (SELECT ok, v, row_number() OVER (ORDER BY z) AS rn FROM h5),
               sm AS (SELECT list_sort(list(ok)) AS oks, list_sort(list(v)) AS vs,
                             count(*) AS n
                      FROM rk WHERE rn <= 1024),
               ed AS (SELECT list_transform(range(1, 64),
                        j -> oks[CAST(greatest((j * n + 63) // 64, 1) AS INTEGER)]) AS eok,
                             list_transform(range(1, 64),
                        j -> vs[CAST(greatest((j * n + 63) // 64, 1) AS INTEGER)]) AS ev
                      FROM sm),
               bk AS (SELECT o.ok, o.v,
                             len(list_filter(ed.eok, ee -> o.ok >= ee)) AS bn,
                             len(list_filter(ed.ev, ee -> o.v >= ee)) AS bc
                      FROM o, ed),
               stn AS (SELECT bn, count(*) AS n_rows, min(v) AS flo, max(v) AS fhi
                       FROM bk GROUP BY bn),
               stc AS (SELECT bc, count(*) AS n_rows, min(v) AS flo, max(v) AS fhi
                       FROM bk GROUP BY bc),
               m AS (SELECT CAST(sum(CASE WHEN v BETWEEN 20000000 AND 25000000
                                          THEN 1 ELSE 0 END) AS BIGINT) AS rows_matched
                     FROM o),
               an AS (SELECT 'natural' AS layout, CAST(count(*) AS BIGINT) AS n_files,
                             CAST(sum(CASE WHEN fhi >= 20000000 AND flo <= 25000000
                                           THEN 1 ELSE 0 END) AS BIGINT) AS files_read,
                             CAST(sum(CASE WHEN fhi >= 20000000 AND flo <= 25000000
                                           THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned
                      FROM stn),
               ac AS (SELECT 'clustered' AS layout, CAST(count(*) AS BIGINT) AS n_files,
                             CAST(sum(CASE WHEN fhi >= 20000000 AND flo <= 25000000
                                           THEN 1 ELSE 0 END) AS BIGINT) AS files_read,
                             CAST(sum(CASE WHEN fhi >= 20000000 AND flo <= 25000000
                                           THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned
                      FROM stc)
          SELECT layout, n_files, files_read, rows_scanned, rows_matched
          FROM (SELECT * FROM ac UNION ALL SELECT * FROM an), m
          ORDER BY layout"""),
    QuerySpec("q_zorder", (s, dir) => {
      // Z-order layout audit: Morton-interleave (user_id, hour) and
      // aggregate per z-bucket (z >> 12 = the two dims' high bits
      // interleaved): every bucket provably bounds BOTH dimensions
      // (max-min < 64 each) — the property that makes a table WRITTEN
      // in zValue order prune parquet row groups for predicates on
      // EITHER column, where a plain sort serves only its leading
      // column. Pure codegen'd bit arithmetic (no UDF), one count
      // shuffle; the oracle replays the identical shift/mask cascade
      // in BIGINT.
      t(s, dir, "events")
        .select(col("user_id"), expr("ts div 3600000000000").as("hr"))
        .withColumn("z", Layout.zValue(col("user_id"), col("hr")))
        .withColumn("bucket", call_function("shiftright", col("z"), lit(12)))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          min("user_id").as("min_user"), max("user_id").as("max_user"),
          min("hr").as("min_hr"), max("hr").as("max_hr"))
        .orderBy("bucket")
    },
    () =>
      raw"""WITH e AS (SELECT user_id, epoch_us(ts) // 3600000000 AS hr,
                              user_id AS sx,
                              epoch_us(ts) // 3600000000 AS sy
                       FROM events),
               ${spreadCtesSql("e", "user_id, hr")},
               z AS (SELECT user_id, hr, (sx | (sy << 1)) AS z FROM zs5)
          SELECT z >> 12 AS bucket, count(*) AS n,
                 min(user_id) AS min_user, max(user_id) AS max_user,
                 min(hr) AS min_hr, max(hr) AS max_hr
          FROM z GROUP BY 1 ORDER BY bucket"""),
    QuerySpec("q_zorder3", (s, dir) => {
      // 3-D Morton audit, the q_zorder recipe one dim up (the practical
      // lakehouse ceiling — Layout.zValue3's scaladoc): interleave
      // (user_id, day, event_id%1024) with the stride-3 spread and show
      // every z>>15 bucket bounds ALL THREE dims (each within 2^5 of
      // grid width). Same pure bit arithmetic, one count shuffle; the
      // oracle replays the 5-step spread cascade for all three inputs.
      t(s, dir, "events")
        .select(col("user_id"), expr("ts div 86400000000000").as("day"),
          (col("event_id") % 1024).as("vb"))
        .withColumn("z",
          Layout.zValue3(col("user_id"), col("day"), col("vb")))
        .withColumn("bucket", call_function("shiftright", col("z"), lit(15)))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          min("user_id").as("min_user"), max("user_id").as("max_user"),
          min("day").as("min_day"), max("day").as("max_day"),
          min("vb").as("min_vb"), max("vb").as("max_vb"))
        .orderBy("bucket")
    },
    () =>
      raw"""WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
                              event_id % 1024 AS vb,
                              user_id AS sx,
                              epoch_us(ts) // 86400000000 AS sy,
                              event_id % 1024 AS sz
                       FROM events),
               ${spread3CtesSql("e", "user_id, day, vb")},
               z AS (SELECT user_id, day, vb,
                            (sx | (sy << 1) | (sz << 2)) AS z FROM z3s5)
          SELECT z >> 15 AS bucket, count(*) AS n,
                 min(user_id) AS min_user, max(user_id) AS max_user,
                 min(day) AS min_day, max(day) AS max_day,
                 min(vb) AS min_vb, max(vb) AS max_vb
          FROM z GROUP BY 1 ORDER BY bucket"""),
    QuerySpec("q_hilbert", (s, dir) => {
      // Hilbert-curve layout audit, the q_zorder twin on the better
      // curve: index (user_id, hour) at order 20, bucket by h >> 12,
      // and show every bucket bounds BOTH dimensions — without
      // Morton's diagonal seam jumps (consecutive Hilbert indexes are
      // always grid-adjacent). 20 chained projections of built-in
      // bitwise/CASE exprs (state cross-references forbid one Column
      // tree), all inside whole-stage codegen; one count shuffle; the
      // oracle replays the same rounds as a CTE chain.
      val e = t(s, dir, "events")
        .select(col("user_id"), expr("ts div 3600000000000").as("hr"))
      Layout.hilbertIndex(e, "user_id", "hr", order = 20, outCol = "h")
        .withColumn("bucket", call_function("shiftright", col("h"), lit(12)))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          min("user_id").as("min_user"), max("user_id").as("max_user"),
          min("hr").as("min_hr"), max("hr").as("max_hr"))
        .orderBy("bucket")
    },
    () =>
      raw"""WITH e AS (SELECT user_id, epoch_us(ts) // 3600000000 AS hr FROM events),
              hb0 AS (SELECT user_id, hr, CAST(user_id AS BIGINT) AS x,
                             CAST(hr AS BIGINT) AS y, CAST(0 AS BIGINT) AS d
                      FROM e),
              ${hilbertCtesSql(20, "user_id, hr")}
         SELECT d >> 12 AS bucket, count(*) AS n,
                min(user_id) AS min_user, max(user_id) AS max_user,
                min(hr) AS min_hr, max(hr) AS max_hr
         FROM hb20 GROUP BY 1 ORDER BY bucket""")
  )
}

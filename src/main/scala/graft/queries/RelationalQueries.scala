package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry.t
import graft.ops

/** Spark-superset relational operators: aggregates, joins, windows,
  * grouping sets, pivots, as-of / range / salted joins, and the
  * recursive and correlated SQL surface. */
object RelationalQueries {

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q1_agg", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("sum_disc"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    () =>
      """SELECT l_returnflag, l_linestatus,
                round(sum(l_quantity), 2) AS sum_qty,
                round(sum(l_extendedprice), 2) AS sum_base,
                round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc,
                count(*) AS cnt
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus"""),
    QuerySpec("q_join_agg", (s, dir) => {
      val orders = t(s, dir, "orders")
      val customer = broadcast(t(s, dir, "customer"))
      orders.join(customer, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(round(sum(col("o_totalprice")), 2).as("rev"),
          count(lit(1)).as("n"))
        .orderBy("c_mktsegment")
    },
    () =>
      """SELECT c_mktsegment, round(sum(o_totalprice), 2) AS rev, count(*) AS n
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment"""),
    QuerySpec("q_topk_orders", (s, dir) => {
      t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(10)
    },
    () =>
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"),
    QuerySpec("q_window", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          row_number().over(w).as("rn"))
        .where(col("rn") <= 2)
        .orderBy("o_custkey", "rn")
    },
    () =>
      """SELECT o_custkey, o_orderkey, CAST(rn AS INTEGER) AS rn FROM (
           SELECT o_custkey, o_orderkey,
                  row_number() OVER (PARTITION BY o_custkey
                                     ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders) WHERE rn <= 2 ORDER BY o_custkey, rn"""),
    QuerySpec("q_setops", (s, dir) => {
      // Heavy-user sets (>= 14 events of the type) so BOTH the EXCEPT and
      // the INTERSECT branch return rows at every SF — a set-op that always
      // returned empty would fail this hash, unlike the old all-users shape
      // where every user had every event_type and EXCEPT was vacuously [].
      // ONE conditional aggregation feeds all four set-op operands: the
      // branches' scan+shuffle+agg subplans are identical, so exchange
      // reuse runs them once; per-side aggregates would scan events twice.
      val counts = t(s, dir, "events")
        .where(col("event_type").isin("purchase", "error"))
        .groupBy(col("user_id"))
        .agg(count(when(col("event_type") === "purchase", 1)).as("np"),
          count(when(col("event_type") === "error", 1)).as("ne"))
      val hp = counts.where(col("np") >= 14).select(col("user_id"))
      val he = counts.where(col("ne") >= 14).select(col("user_id"))
      hp.except(he).withColumn("side", lit("only_purchase"))
        .unionByName(hp.intersect(he).withColumn("side", lit("both")))
        .select(col("side"), col("user_id"))
        .orderBy("side", "user_id")
    },
    () =>
      """WITH cnt AS (SELECT user_id,
                            count(*) FILTER (WHERE event_type = 'purchase') AS np,
                            count(*) FILTER (WHERE event_type = 'error') AS ne
                     FROM events WHERE event_type IN ('purchase', 'error')
                     GROUP BY 1),
              hp AS (SELECT user_id FROM cnt WHERE np >= 14),
              he AS (SELECT user_id FROM cnt WHERE ne >= 14)
         SELECT 'only_purchase' AS side, user_id
         FROM (SELECT user_id FROM hp EXCEPT SELECT user_id FROM he)
         UNION ALL
         SELECT 'both' AS side, user_id
         FROM (SELECT user_id FROM hp INTERSECT SELECT user_id FROM he)
         ORDER BY side, user_id"""),
    QuerySpec("q_rollup", (s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    },
    () =>
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""),
    QuerySpec("q_star_join", (s, dir) => {
      // Multi-way star join over the otherwise-unused dimension chain
      // (region <- nation <- customer) hanging off the orders fact. The
      // tiny dims are broadcast explicitly; the fact joins customer on
      // the shuffle, then picks up nation/region map-side with no
      // further exchange — the canonical 100 TB star shape (at scale
      // AQE would also demote customer to broadcast where it fits).
      // Aggregates are exact: counts + max (value copy), no float sums.
      val o = t(s, dir, "orders").select(col("o_custkey"), col("o_totalprice"))
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      o.join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_orders"),
          countDistinct(col("c_custkey")).as("n_customers"),
          max(col("o_totalprice")).as("max_price"))
        .orderBy("r_name", "n_name")
    },
    () =>
      """SELECT r_name, n_name, count(*) AS n_orders,
                count(DISTINCT c_custkey) AS n_customers,
                max(o_totalprice) AS max_price
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name ORDER BY r_name, n_name"""),
    QuerySpec("q_json", (s, dir) => {
      // JSON functions over the events.props payload column (§2.3: the
      // reference has none — Avro decoding is the serde's job; Spark's
      // JSON surface is a free superset). get_json_object is a codegen'd
      // path expression; the extract + cast stay in the narrow pre-agg
      // scan, so the only shuffle is the groupBy. Integer-valued k sums
      // exactly.
      t(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy("event_type")
    },
    () =>
      """SELECT event_type, count(*) AS n,
                CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
                min(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
                max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
         FROM events GROUP BY event_type ORDER BY event_type"""),
    QuerySpec("q_trending", (s, dir) => {
      // RISING heavy hitters — the monitoring twin of q_heavy_hitters
      // (absolute mass) and q_drift (whole-distribution shift): which
      // KEYS grew the most between the event-log halves? Laplace-
      // smoothed ratio (n_cur+1)/(n_ref+1) — one exact double division
      // of long counts, so new keys (ref=0) rank high but bounded, and
      // the oracle replays it bit-for-bit. Shape: per-key counts per
      // side ride ONE shuffle with map-side partials (conditional
      // sums, no second scan), then a bounded TakeOrderedAndProject —
      // no global sort, nothing corpus-sized past the aggregate.
      val ev = t(s, dir, "events").select(col("user_id"),
        expr("(ts div 1000) div 86400000000").as("day"))
        .where(col("user_id").isNotNull)
      ev.groupBy(col("user_id"))
        .agg(
          sum(when(col("day") < 19740, 1L).otherwise(0L)).as("n_ref"),
          sum(when(col("day") >= 19740, 1L).otherwise(0L)).as("n_cur"))
        .withColumn("lift",
          (col("n_cur") + lit(1L)).cast(DoubleType) /
            (col("n_ref") + lit(1L)).cast(DoubleType))
        .orderBy(col("lift").desc, col("n_cur").desc, col("user_id"))
        .limit(20)
    },
    () =>
      """WITH ev AS (SELECT user_id,
                            epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
                     FROM events WHERE user_id IS NOT NULL),
              c AS (SELECT user_id,
                           CAST(sum(CASE WHEN day < 19740 THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
                           CAST(sum(CASE WHEN day >= 19740 THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
                    FROM ev GROUP BY user_id)
         SELECT user_id, n_ref, n_cur,
                CAST(n_cur + 1 AS DOUBLE) / CAST(n_ref + 1 AS DOUBLE) AS lift
         FROM c ORDER BY lift DESC, n_cur DESC, user_id LIMIT 20"""),
    QuerySpec("q_semi_anti", (s, dir) => {
      // Explicit LEFT SEMI / LEFT ANTI surface (§2.3 joins list) — the
      // curation pipelines use anti joins internally, but no query
      // exercised the operators directly. The right side is HIGH-VALUE
      // orders (> 400k) so both branches return rows at every SF (20 /
      // 202 / 1997 anti rows at sf0.001/0.01/0.1) — against all orders
      // the anti side is empty and the check would be as vacuous as the
      // old q_setops. One orders projection feeds both sides (exchange
      // reuse, like q_setops); the pushed o_totalprice filter reaches
      // the parquet scan.
      val custs = t(s, dir, "customer").select(col("c_custkey"))
      val orderKeys = t(s, dir, "orders")
        .where(col("o_totalprice") > 400000).select(col("o_custkey"))
      custs.join(orderKeys, col("c_custkey") === col("o_custkey"), "left_semi")
        .withColumn("side", lit("with_orders"))
        .unionByName(
          custs.join(orderKeys, col("c_custkey") === col("o_custkey"), "left_anti")
            .withColumn("side", lit("no_orders")))
        .select(col("side"), col("c_custkey"))
        .orderBy("side", "c_custkey")
    },
    () =>
      """SELECT 'with_orders' AS side, c_custkey FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o
                       WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
         UNION ALL
         SELECT 'no_orders' AS side, c_custkey FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
         ORDER BY side, c_custkey"""),
    QuerySpec("q_cube", (s, dir) => {
      // Full grouping-sets lattice (rollup's superset): every subtotal
      // combination in ONE pass — partial aggregation expands grouping
      // ids map-side, so it shuffles once like a plain groupBy. sum_qty
      // is exact: TPC-H quantities are integer-valued doubles, so the
      // sum is order-independent (same invariant q1_agg relies on).
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"), sum(col("l_quantity")).as("sum_qty"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    },
    () =>
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
                sum(l_quantity) AS sum_qty
         FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""),
    QuerySpec("q_win_frame", (s, dir) => {
      // Window FRAMES + analytic offsets (q_window covers only ranking):
      // per customer in o_orderkey order, the previous order's price
      // (lag) and the running 3-row peak (rows between 2 preceding and
      // current). Exact value copies/comparisons — no float
      // accumulation — so the hash compare is sound. One hash shuffle
      // on o_custkey + one in-partition sort, same scale shape as
      // q_window.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"),
          max(col("o_totalprice")).over(w.rowsBetween(-2, 0)).as("peak3"),
          count(lit(1)).over(w.rowsBetween(-2, 0)).as("n3"))
        .orderBy("o_custkey", "o_orderkey")
    },
    () =>
      """SELECT o_custkey, o_orderkey,
                lag(o_totalprice, 1) OVER w AS prev_price,
                max(o_totalprice) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS peak3,
                count(*) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS n3
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
         ORDER BY o_custkey, o_orderkey"""),
    QuerySpec("q_distinct", (s, dir) => {
      t(s, dir, "customer").select(col("c_mktsegment"), col("c_nationkey"))
        .distinct().orderBy("c_mktsegment", "c_nationkey")
    },
    () =>
      "SELECT DISTINCT c_mktsegment, c_nationkey FROM customer ORDER BY c_mktsegment, c_nationkey"),
    QuerySpec("q_histogram", (s, dir) => {
      // Fixed-width histogram (50k bins over order totals): bin id is
      // pure row-level arithmetic, so this is ONE partial+final count
      // shuffle — no range discovery pass, no sort until presentation.
      // floor(x/50000) on doubles is IEEE-exact cross-engine.
      t(s, dir, "orders")
        .select(floor(col("o_totalprice") / 50000.0).cast(IntegerType).as("bin"))
        .groupBy(col("bin")).agg(count(lit(1)).as("n"))
        .withColumn("lo", (col("bin") * 50000L).cast(LongType))
        .select(col("bin"), col("lo"), col("n"))
        .orderBy("bin")
    },
    () =>
      """SELECT CAST(floor(o_totalprice / 50000.0) AS INTEGER) AS bin,
                CAST(CAST(floor(o_totalprice / 50000.0) AS INTEGER) AS BIGINT) * 50000 AS lo,
                count(*) AS n
         FROM orders GROUP BY 1, 2 ORDER BY bin"""),
    QuerySpec("q_profile", (s, dir) => {
      // Column profiling (the data-quality pre-flight): count / nulls /
      // exact distinct / min / max / sum for each lineitem measure, ONE
      // row per column. Single scan: all metrics compute in one global
      // aggregate (Spark expands the multi-distinct into one Expand
      // pass), then the 1-row wide frame melts via stack — vs the
      // naive per-column loop that scans the fact table k times.
      // sums route through DECIMAL(18,4) and back to DOUBLE: decimal
      // accumulation is exact and order-independent, so the value is
      // identical whatever partition order Spark or DuckDB sums in
      // (a raw double sum is order-sensitive in the last ulp).
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val aggs = cols.flatMap { c =>
        Seq(count(col(c)).as(s"${c}_n"),
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"),
          countDistinct(col(c)).as(s"${c}_distinct"),
          min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max"),
          sum(col(c).cast(DecimalType(18, 4))).cast(DoubleType).as(s"${c}_sum"))
      }
      val wide = t(s, dir, "lineitem").agg(aggs.head, aggs.tail: _*)
      val stackExpr = cols.map(c =>
        s"'$c', ${c}_n, ${c}_nulls, ${c}_distinct, ${c}_min, ${c}_max, ${c}_sum")
        .mkString(s"stack(${cols.length}, ", ", ", ")")
      wide.select(expr(
          s"$stackExpr AS (col_name, n, n_nulls, n_distinct, min_v, max_v, sum_v)"))
        .orderBy("col_name")
    },
    () =>
      """SELECT * FROM (
           SELECT 'l_quantity' AS col_name, count(l_quantity) AS n,
                  CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
                  count(DISTINCT l_quantity) AS n_distinct,
                  min(l_quantity) AS min_v, max(l_quantity) AS max_v,
                  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_v FROM lineitem
           UNION ALL
           SELECT 'l_extendedprice', count(l_extendedprice),
                  CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                  count(DISTINCT l_extendedprice),
                  min(l_extendedprice), max(l_extendedprice),
                  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) FROM lineitem
           UNION ALL
           SELECT 'l_discount', count(l_discount),
                  CAST(sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                  count(DISTINCT l_discount),
                  min(l_discount), max(l_discount),
                  CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) FROM lineitem
           UNION ALL
           SELECT 'l_tax', count(l_tax),
                  CAST(sum(CASE WHEN l_tax IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                  count(DISTINCT l_tax),
                  min(l_tax), max(l_tax),
                  CAST(sum(CAST(l_tax AS DECIMAL(18,4))) AS DOUBLE) FROM lineitem)
         ORDER BY col_name"""),
    QuerySpec("q_outer_join", (s, dir) => {
      // Explicit FULL OUTER surface (inner/semi/anti/broadcast are
      // covered elsewhere). Sides chosen so all THREE match classes are
      // non-empty at every SF (left_only/right_only/both = 7/71/59 at
      // sf0.001, 87/728/570 at sf0.01, 953/7011/5992 at sf0.1): high-
      // balance customers vs per-custkey high-value order aggregates.
      // Scale note: a full outer CANNOT broadcast either side (null
      // extension needs both sides complete per key), so the right
      // shape is exactly this — filter + pre-aggregate BOTH sides
      // before one key shuffle; both filters push to the parquet scans.
      val hc = t(s, dir, "customer").where(col("c_acctbal") > 5000)
        .select(col("c_custkey"), col("c_acctbal"))
      val ho = t(s, dir, "orders").where(col("o_totalprice") > 400000)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_big"), max(col("o_totalprice")).as("max_price"))
      hc.join(ho, col("c_custkey") === col("o_custkey"), "full_outer")
        .select(coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
          when(col("c_custkey").isNull, "right_only")
            .when(col("o_custkey").isNull, "left_only")
            .otherwise("both").as("side"),
          col("c_acctbal"), col("n_big"), col("max_price"))
        .orderBy("custkey")
    },
    () =>
      """WITH hc AS (SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 5000),
              ho AS (SELECT o_custkey, count(*) AS n_big, max(o_totalprice) AS max_price
                     FROM orders WHERE o_totalprice > 400000 GROUP BY o_custkey)
         SELECT coalesce(c_custkey, o_custkey) AS custkey,
                CASE WHEN c_custkey IS NULL THEN 'right_only'
                     WHEN o_custkey IS NULL THEN 'left_only'
                     ELSE 'both' END AS side,
                c_acctbal, n_big, max_price
         FROM hc FULL OUTER JOIN ho ON c_custkey = o_custkey
         ORDER BY custkey"""),
    QuerySpec("q_grouping_sets", (s, dir) => {
      // Explicit GROUPING SETS — an ARBITRARY subtotal list, of which
      // cube/rollup are the lattice special cases: per-returnflag and
      // per-linestatus subtotals only (no grand total, no pair cells —
      // a shape neither rollup nor cube can produce). Still one pass:
      // map-side Expand + partial aggregation, one shuffle, like
      // q_cube. NULL in the other column is the subtotal marker.
      t(s, dir, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"), sum(col("l_quantity")).as("sum_qty"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    },
    () =>
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
                sum(l_quantity) AS sum_qty
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
         ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""),
    QuerySpec("q_pivot", (s, dir) => {
      // PIVOT with an EXPLICIT value list: per-user event-type counts
      // as wide columns. Spark plans it two-phase — a fine-keyed
      // (user_id, event_type) count with map-side partials, then a
      // slim pivot-first reshuffle on user_id — so only pre-aggregated
      // rows ever move twice. Omitting the values makes pivot() run a
      // corpus-wide distinct ACTION first to discover the columns — a
      // needless extra full pass at 100 TB. Missing cells: Spark pivot
      // yields null where the FILTER-aggregate oracle yields 0, so
      // coalesce pins the contract to 0.
      val types = Seq("click", "error", "purchase", "signup", "view")
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .select(col("user_id") +: types.map(ty =>
          coalesce(col(ty), lit(0L)).as(ty)): _*)
        .orderBy("user_id")
    },
    () =>
      """SELECT user_id,
                count(*) FILTER (WHERE event_type = 'click') AS "click",
                count(*) FILTER (WHERE event_type = 'error') AS "error",
                count(*) FILTER (WHERE event_type = 'purchase') AS "purchase",
                count(*) FILTER (WHERE event_type = 'signup') AS "signup",
                count(*) FILTER (WHERE event_type = 'view') AS "view"
         FROM events GROUP BY user_id ORDER BY user_id"""),
    QuerySpec("q_unpivot", (s, dir) => {
      // UNPIVOT/melt: wide measure columns -> long (ids, measure, val)
      // triples, the inverse reshape of q_pivot. A narrow per-row
      // Expand — no shuffle until the final presentation sort.
      t(s, dir, "lineitem")
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")),
          "measure", "val")
        .orderBy("l_orderkey", "l_linenumber", "measure")
    },
    () =>
      """SELECT l_orderkey, l_linenumber, measure, val FROM (
           SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS val FROM lineitem
           UNION ALL SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
           UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
           UNION ALL SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem)
         ORDER BY l_orderkey, l_linenumber, measure"""),
    QuerySpec("q_skew_join", (s, dir) => {
      // Salted skew join vs the plain-SQL join oracle: the salt spreads
      // hot keys across reducers and must lose/duplicate NOTHING — the
      // value-level hash against an unsalted join proves exactly that.
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val customer = t(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
      ops.SkewJoin.saltedJoin(orders, customer, "o_custkey", saltFactor = 8)
        .select(col("o_orderkey"), col("o_custkey"), col("c_mktsegment"),
          round(col("o_totalprice"), 2).as("price"))
        .orderBy("o_orderkey")
    },
    () =>
      """SELECT o_orderkey, o_custkey, c_mktsegment, round(o_totalprice, 2) AS price
         FROM orders JOIN customer ON o_custkey = c_custkey
         ORDER BY o_orderkey"""),
    QuerySpec("q_asof", (s, dir) => {
      // As-of join (Spark has no native ASOF; DuckDB does -> oracle):
      // each purchase aligned to the user's latest click at-or-before
      // it. Right side pre-aggregated to unique (user, ts) instants.
      val ev = t(s, dir, "events").select(col("event_id"), col("user_id"),
        expr("ts div 1000").as("ts"), col("event_type"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"))
      val clicks = ev.where(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("click_id"))
      ops.AsOfJoin.asOf(purchases, clicks, "user_id", "ts")
        .select(col("event_id"), col("user_id"), col("ts").as("ts_us"),
          col("right_click_id").as("click_id"),
          col("right_ts").as("click_ts_us"))
        .orderBy("event_id")
    },
    () =>
      """WITH p AS (SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
                    FROM events WHERE event_type = 'purchase'),
              c AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS cts, max(event_id) AS click_id
                    FROM events WHERE event_type = 'click' GROUP BY 1, 2)
         SELECT p.event_id, p.user_id, p.ts_us, c.click_id, c.cts AS click_ts_us
         FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts_us >= c.cts
         ORDER BY p.event_id"""),
    QuerySpec("q_asof_tolerance", (s, dir) => {
      // The tolerance variant under a DuckDB ASOF + conditional-void
      // oracle: matches older than 1h void to null (the as-of match is
      // the NEWEST candidate, so an out-of-tolerance match means NO
      // candidate qualifies). Non-vacuous both ways at every SF: most
      // purchases' latest click is older than the hour (voided), a few
      // are inside it (kept). Same plan shape as q_asof — the guard is
      // a projection, no extra exchange (pinned for bucketedAsOf).
      val ev = t(s, dir, "events").select(col("event_id"), col("user_id"),
        expr("ts div 1000").as("ts"), col("event_type"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"))
      val clicks = ev.where(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("click_id"))
      ops.AsOfJoin.asOf(purchases, clicks, "user_id", "ts",
          tolerance = Some(3600000000L)) // 1h of microseconds
        .select(col("event_id"), col("user_id"), col("ts").as("ts_us"),
          col("right_click_id").as("click_id"),
          col("right_ts").as("click_ts_us"))
        .orderBy("event_id")
    },
    () =>
      """WITH p AS (SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
                    FROM events WHERE event_type = 'purchase'),
              c AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS cts, max(event_id) AS click_id
                    FROM events WHERE event_type = 'click' GROUP BY 1, 2)
         SELECT p.event_id, p.user_id, p.ts_us,
                CASE WHEN c.cts >= p.ts_us - 3600000000 THEN c.click_id END AS click_id,
                CASE WHEN c.cts >= p.ts_us - 3600000000 THEN c.cts END AS click_ts_us
         FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts_us >= c.cts
         ORDER BY p.event_id"""),
    QuerySpec("q_bucketed_asof", (s, dir) => {
      // The hot-key-safe as-of variant under the SAME DuckDB ASOF
      // oracle as q_asof: identical output is the operator's whole
      // contract, so the driver's hash gate enforces it per round.
      val ev = t(s, dir, "events").select(col("event_id"), col("user_id"),
        expr("ts div 1000").as("ts"), col("event_type"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"))
      val clicks = ev.where(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("click_id"))
      ops.AsOfJoin.bucketedAsOf(purchases, clicks, "user_id", "ts",
          bucketWidth = 3600000000L) // 1h of microseconds per bucket
        .select(col("event_id"), col("user_id"), col("ts").as("ts_us"),
          col("right_click_id").as("click_id"),
          col("right_ts").as("click_ts_us"))
        .orderBy("event_id")
    },
    () =>
      """WITH p AS (SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
                    FROM events WHERE event_type = 'purchase'),
              c AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS cts, max(event_id) AS click_id
                    FROM events WHERE event_type = 'click' GROUP BY 1, 2)
         SELECT p.event_id, p.user_id, p.ts_us, c.click_id, c.cts AS click_ts_us
         FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts_us >= c.cts
         ORDER BY p.event_id"""),
    QuerySpec("q_range", (s, dir) => {
      // Interval join: clicks within the hour BEFORE each purchase
      // (binned implementation — hot users spread over time buckets).
      val ev = t(s, dir, "events").select(col("event_id"), col("user_id"),
        expr("ts div 1000").as("ts"), col("event_type"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
      ops.RangeJoin.intervalJoin(purchases, clicks, "user_id", "ts",
          lower = -3600000000L, upper = 0L)
        .select(col("event_id"), col("user_id"), col("ts").as("ts_us"),
          col("right_click_id").as("click_id"),
          col("right_ts").as("click_ts_us"))
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
    QuerySpec("q_rank_suite", (s, dir) => {
      // The remaining ranking/analytic window functions (lead,
      // first_value, ntile, percent_rank, cume_dist) in ONE window
      // spec: same partition + order for all five, so Spark plans a
      // single Exchange + Sort feeding every function (pinned) instead
      // of one sort per function family. The order key is made total
      // with o_orderkey, so ntile boundaries and percent_rank are
      // deterministic and the oracle replays them exactly; the doubles
      // are small-integer divisions — IEEE-identical cross-engine.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders").where(col("o_totalprice") > 400000)
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
          lead(col("o_totalprice"), 1).over(w).as("next_price"),
          first(col("o_orderkey")).over(w).as("first_key"),
          ntile(4).over(w).cast(LongType).as("quartile"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cum_dist"))
        .orderBy("o_orderpriority", "o_orderkey")
    },
    () =>
      """SELECT o_orderpriority, o_orderkey, o_totalprice,
                lead(o_totalprice, 1) OVER w AS next_price,
                first_value(o_orderkey) OVER w AS first_key,
                ntile(4) OVER w AS quartile,
                percent_rank() OVER w AS pct_rank,
                cume_dist() OVER w AS cum_dist
         FROM orders WHERE o_totalprice > 400000
         WINDOW w AS (PARTITION BY o_orderpriority
                      ORDER BY o_totalprice DESC, o_orderkey)
         ORDER BY o_orderpriority, o_orderkey"""),
    QuerySpec("q_exists", (s, dir) => {
      // Correlated subqueries through the SQL surface: EXISTS (Catalyst
      // rewrites to a LEFT SEMI join — no per-row re-execution) and a
      // correlated scalar COUNT subquery (rewritten to a pre-aggregated
      // LEFT OUTER join with the empty-group count-bug guard). Both
      // decorrelate to ONE pass over the filtered orders side; the
      // oracle runs the identical SQL.
      t(s, dir, "customer").createOrReplaceTempView("g_customer")
      t(s, dir, "orders").createOrReplaceTempView("g_orders")
      s.sql("""SELECT c_custkey, c_acctbal,
                      CAST((SELECT count(*) FROM g_orders o
                            WHERE o.o_custkey = c.c_custkey
                              AND o.o_totalprice > 300000) AS BIGINT) AS n_big
               FROM g_customer c
               WHERE c_acctbal > 9000
                 AND EXISTS (SELECT 1 FROM g_orders o
                             WHERE o.o_custkey = c.c_custkey
                               AND o.o_totalprice > 300000)
               ORDER BY c_custkey""")
    },
    () =>
      """SELECT c_custkey, c_acctbal,
                CAST((SELECT count(*) FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 300000) AS BIGINT) AS n_big
         FROM customer c
         WHERE c_acctbal > 9000
           AND EXISTS (SELECT 1 FROM orders o
                       WHERE o.o_custkey = c.c_custkey
                         AND o.o_totalprice > 300000)
         ORDER BY c_custkey""")
  )
}

package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry.t
import graft.ops.Merge

/** Upserts, snapshots and incremental joins and aggregates from
  * [[graft.ops.Merge]]. */
object MergeQueries {

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_incr_agg", (s, dir) => {
      // Incremental aggregate maintenance (Merge.incrementalCountSum):
      // fold an insert/delete change feed into a per-customer
      // (count, DECIMAL sum) snapshot touching only |keys| + |changes|
      // rows — never the history. Base = orders with key%4 != 3;
      // feed inserts the %4==3 slice and deletes the %8==1 slice
      // (a guaranteed subset of the base). The oracle is an
      // INDEPENDENT full recompute over the surviving rows (%8 != 1)
      // — it never sees the incremental machinery, so parity proves
      // the maintenance algebra, not a replay of it.
      val o = t(s, dir, "orders")
      val dec = DecimalType(28, 4)
      val base = o.where(pmod(col("o_orderkey"), lit(4)) =!= 3)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(dec)).cast(dec).as("s"))
      val feed = o.where(pmod(col("o_orderkey"), lit(4)) === 3)
        .select(lit("I").as("op"), col("o_custkey"), col("o_totalprice"))
        .unionByName(o.where(pmod(col("o_orderkey"), lit(8)) === 1)
          .select(lit("D").as("op"), col("o_custkey"),
            col("o_totalprice")))
      Merge.incrementalCountSum(base, feed, Seq("o_custkey"), "op",
          "o_totalprice")
        .select(col("o_custkey"), col("n"),
          col("s").cast(DoubleType).as("total"))
        .orderBy("o_custkey")
    },
    // Incremental-agg oracle: an INDEPENDENT recompute over the rows
    // that survive the feed (base minus deletes plus inserts =
    // %8 != 1) — not a replay of the maintenance algebra.
    () =>
      """SELECT o_custkey, CAST(count(*) AS BIGINT) AS n,
                CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(28,4)))
                     AS DECIMAL(28,4)) AS DOUBLE) AS total
         FROM orders
         WHERE o_orderkey % 8 <> 1
         GROUP BY o_custkey
         ORDER BY o_custkey"""),
    QuerySpec("q_merge_upsert", (s, dir) => {
      // CDC MERGE (Merge.applyChanges): fold a change batch into the
      // customer snapshot — updates (new name/balance from order
      // totals), deletes (custkey % 13), and inserts (shifted new
      // keys) in one call. All three outcome classes non-empty, plus
      // untouched customers (those without orders). The snapshot is
      // never shuffled: update/delete decide map-side under a
      // broadcast of the batch, the insert residue is a tiny-vs-tiny
      // anti join — vs the naive FULL OUTER that shuffles the whole
      // snapshot (cannot broadcast either side).
      val agg = t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(round(sum(col("o_totalprice")), 2).as("chg"))
      val upd = agg.select(col("o_custkey").as("c_custkey"),
        when(col("o_custkey") % 13 === 0, "D").otherwise("U").as("op"),
        concat(lit("cust_upd_"), col("o_custkey").cast(StringType)).as("c_name"),
        col("chg").as("c_acctbal"))
      val ins = agg.where(col("o_custkey") % 17 === 0)
        .select((col("o_custkey") + 1000000L).as("c_custkey"),
          lit("U").as("op"),
          concat(lit("cust_new_"), col("o_custkey").cast(StringType)).as("c_name"),
          col("chg").as("c_acctbal"))
      val snapshot = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      Merge.applyChanges(snapshot, upd.unionByName(ins), "c_custkey", "op")
        .orderBy("c_custkey")
    },
    () =>
      """WITH agg AS (SELECT o_custkey, round(sum(o_totalprice), 2) AS chg
                      FROM orders GROUP BY o_custkey),
              ch AS (SELECT o_custkey AS k,
                            CASE WHEN o_custkey % 13 = 0 THEN 'D' ELSE 'U' END AS op,
                            'cust_upd_' || CAST(o_custkey AS VARCHAR) AS nm, chg
                     FROM agg
                     UNION ALL
                     SELECT o_custkey + 1000000, 'U',
                            'cust_new_' || CAST(o_custkey AS VARCHAR), chg
                     FROM agg WHERE o_custkey % 17 = 0),
              kept AS (SELECT s.c_custkey,
                              CASE WHEN c.op = 'U' THEN c.nm ELSE s.c_name END AS c_name,
                              CASE WHEN c.op = 'U' THEN c.chg ELSE s.c_acctbal END AS c_acctbal
                       FROM customer s LEFT JOIN ch c ON c.k = s.c_custkey
                       WHERE c.op IS NULL OR c.op <> 'D'),
              ins AS (SELECT c.k AS c_custkey, c.nm AS c_name, c.chg AS c_acctbal
                      FROM ch c LEFT JOIN customer s ON s.c_custkey = c.k
                      WHERE c.op = 'U' AND s.c_custkey IS NULL)
         SELECT * FROM kept UNION ALL SELECT * FROM ins ORDER BY c_custkey"""),
    QuerySpec("q_merge_compact", (s, dir) => {
      // The full CDC chain: a RAW feed with many changes per key
      // (every order is a change event against its customer) compacts
      // last-wins by event order (Merge.compactLastWins — one hash
      // aggregate, winner rides the buffer as a struct max; no Window
      // sort) and then folds into the snapshot via the same broadcast
      // merge as q_merge_upsert. Feed keys all exist in the snapshot
      // (orders FK), so this exercises update/delete/untouched;
      // q_merge_upsert covers the insert leg.
      val feed = t(s, dir, "orders").select(
        col("o_custkey").as("c_custkey"),
        col("o_orderkey").as("ts"),
        when(col("o_orderkey") % 11 === 0, "D").otherwise("U").as("op"),
        concat(lit("ord_"), col("o_orderkey").cast(StringType)).as("c_name"),
        col("o_totalprice").as("c_acctbal"))
      val compacted = Merge.compactLastWins(feed, "c_custkey", "ts")
      val snapshot = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      Merge.applyChanges(snapshot, compacted.drop("ts"), "c_custkey", "op")
        .orderBy("c_custkey")
    },
    () =>
      """WITH feed AS (SELECT o_custkey AS k, o_orderkey AS ts,
                             CASE WHEN o_orderkey % 11 = 0 THEN 'D' ELSE 'U' END AS op,
                             'ord_' || CAST(o_orderkey AS VARCHAR) AS nm,
                             o_totalprice AS bal
                      FROM orders),
              lastc AS (SELECT k, op, nm, bal FROM (
                          SELECT *, row_number() OVER (PARTITION BY k ORDER BY ts DESC) AS rn
                          FROM feed)
                        WHERE rn = 1),
              kept AS (SELECT s.c_custkey,
                              CASE WHEN c.op = 'U' THEN c.nm ELSE s.c_name END AS c_name,
                              CASE WHEN c.op = 'U' THEN c.bal ELSE s.c_acctbal END AS c_acctbal
                       FROM customer s LEFT JOIN lastc c ON c.k = s.c_custkey
                       WHERE c.op IS NULL OR c.op <> 'D')
         SELECT * FROM kept ORDER BY c_custkey"""),
    QuerySpec("q_snapshot_diff", (s, dir) => {
      // Snapshot DIFF (Merge.snapshotDiff) — the CDC family's inverse
      // direction: old = the customer snapshot, new = q_merge_upsert's
      // merged result; the diff must recover exactly the EFFECTIVE
      // changes (updates that landed, deletes, inserts), one row per
      // touched key with the per-column change set. One full-outer key
      // join — the floor for an unordered keyed diff — over slim
      // pre-projected rows; unchanged keys (customers without orders)
      // emit nothing, so output is change-sized, not snapshot-sized.
      val agg = t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(round(sum(col("o_totalprice")), 2).as("chg"))
      val upd = agg.select(col("o_custkey").as("c_custkey"),
        when(col("o_custkey") % 13 === 0, "D").otherwise("U").as("op"),
        concat(lit("cust_upd_"), col("o_custkey").cast(StringType)).as("c_name"),
        col("chg").as("c_acctbal"))
      val ins = agg.where(col("o_custkey") % 17 === 0)
        .select((col("o_custkey") + 1000000L).as("c_custkey"),
          lit("U").as("op"),
          concat(lit("cust_new_"), col("o_custkey").cast(StringType)).as("c_name"),
          col("chg").as("c_acctbal"))
      val oldSnap = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      val newSnap = Merge.applyChanges(oldSnap, upd.unionByName(ins),
        "c_custkey", "op")
      Merge.snapshotDiff(oldSnap, newSnap, "c_custkey",
          Seq("c_name", "c_acctbal"))
        .select(col("c_custkey"), col("change_type"),
          concat_ws(",", col("changed_cols")).as("changed_cols"))
        .orderBy("c_custkey")
    },
    // Diff replay: rebuild q_merge_upsert's merged snapshot, full-outer
    // it against the old one, null-safe per-column compare.
    () =>
      """WITH agg AS (SELECT o_custkey, round(sum(o_totalprice), 2) AS chg
                      FROM orders GROUP BY o_custkey),
              ch AS (SELECT o_custkey AS k,
                            CASE WHEN o_custkey % 13 = 0 THEN 'D' ELSE 'U' END AS op,
                            'cust_upd_' || CAST(o_custkey AS VARCHAR) AS nm, chg
                     FROM agg
                     UNION ALL
                     SELECT o_custkey + 1000000, 'U',
                            'cust_new_' || CAST(o_custkey AS VARCHAR), chg
                     FROM agg WHERE o_custkey % 17 = 0),
              kept AS (SELECT s.c_custkey,
                              CASE WHEN c.op = 'U' THEN c.nm ELSE s.c_name END AS c_name,
                              CASE WHEN c.op = 'U' THEN c.chg ELSE s.c_acctbal END AS c_acctbal
                       FROM customer s LEFT JOIN ch c ON c.k = s.c_custkey
                       WHERE c.op IS NULL OR c.op <> 'D'),
              ins AS (SELECT c.k AS c_custkey, c.nm AS c_name, c.chg AS c_acctbal
                      FROM ch c LEFT JOIN customer s ON s.c_custkey = c.k
                      WHERE c.op = 'U' AND s.c_custkey IS NULL),
              newsnap AS (SELECT * FROM kept UNION ALL SELECT * FROM ins),
              j AS (SELECT o.c_custkey AS ok, n.c_custkey AS nk,
                           o.c_name AS onm, n.c_name AS nnm,
                           o.c_acctbal AS ob, n.c_acctbal AS nb
                    FROM customer o FULL OUTER JOIN newsnap n
                      ON o.c_custkey = n.c_custkey),
              d AS (SELECT coalesce(ok, nk) AS c_custkey,
                           CASE WHEN ok IS NULL THEN 'added'
                                WHEN nk IS NULL THEN 'removed'
                                WHEN (onm IS DISTINCT FROM nnm)
                                  OR (ob IS DISTINCT FROM nb) THEN 'changed'
                           END AS change_type,
                           CASE WHEN ok IS NULL OR nk IS NULL THEN ''
                                ELSE array_to_string(list_filter(
                                       [CASE WHEN onm IS DISTINCT FROM nnm THEN 'c_name' END,
                                        CASE WHEN ob IS DISTINCT FROM nb THEN 'c_acctbal' END],
                                       x -> x IS NOT NULL), ',') END AS changed_cols
                    FROM j)
         SELECT c_custkey, change_type, changed_cols FROM d
         WHERE change_type IS NOT NULL ORDER BY c_custkey"""),
    QuerySpec("q_pit_join", (s, dir) => {
      // Point-in-time enrichment (the leakage-safe feature join): each
      // view/click event joins the user's purchase-state version valid
      // AT THE EVENT'S OWN TIMESTAMP — purchases open versions, error
      // events act as deletes (tombstones): an event between a delete
      // and the next purchase gets NULLs + dim_live=false, never a
      // resurrected stale version; a user with no history yet gets
      // dim_live NULL. The change feed is compacted to one row per
      // (user, us) by struct-max (event_id-deterministic winner), the
      // as-of union trick does the temporal match in ONE slim
      // shuffle+sort — no interval range join. Genuine interleaving at
      // every SF (both sides share the live event time axis).
      val ev = t(s, dir, "events").select(col("event_id"), col("user_id"),
        expr("ts div 1000").as("us"), col("event_type"), col("value"))
      val changes = ev
        .where(col("event_type").isin("purchase", "error"))
        .groupBy(col("user_id"), col("us"))
        .agg(max(struct(col("event_id"), col("event_type"), col("value")))
          .as("w"))
        .select(col("user_id"), col("us"),
          when(col("w.event_type") === "purchase", lit("U"))
            .otherwise(lit("D")).as("op"),
          col("w.value").as("dim_value"),
          col("w.event_id").as("dim_version"))
      val left = ev
        .where(col("event_type").isin("view", "click") &&
          col("user_id") <= 300)
        .select(col("event_id"), col("user_id"), col("us"))
      graft.ops.Merge.pointInTimeJoin(left, changes, "user_id", "us", "op")
        .orderBy("event_id")
    },
    // Point-in-time join replay: compact the purchase/error feed to one
    // change per (user, us) with the event_id-max winner, match each
    // view/click to the latest change at-or-before its us, and express
    // tombstone semantics through the op of the matched version.
    () =>
      raw"""WITH e AS (SELECT event_id, user_id,
                              epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                              event_type, value
                       FROM events),
               ch AS (SELECT user_id, us, op, dim_value, dim_version FROM (
                        SELECT user_id, us,
                               CASE WHEN event_type = 'purchase' THEN 'U'
                                    ELSE 'D' END AS op,
                               value AS dim_value, event_id AS dim_version,
                               row_number() OVER (PARTITION BY user_id, us
                                                  ORDER BY event_id DESC) AS rn
                        FROM e WHERE event_type IN ('purchase', 'error'))
                      WHERE rn = 1),
               lv AS (SELECT event_id, user_id, us FROM e
                      WHERE event_type IN ('view', 'click') AND user_id <= 300),
               m AS (SELECT event_id, vus, op, dim_value, dim_version FROM (
                       SELECT l.event_id, c.us AS vus, c.op,
                              c.dim_value, c.dim_version,
                              row_number() OVER (PARTITION BY l.event_id
                                                 ORDER BY c.us DESC) AS rn
                       FROM lv l JOIN ch c
                         ON c.user_id = l.user_id AND c.us <= l.us)
                     WHERE rn = 1)
          SELECT l.event_id, l.user_id, l.us,
                 m.vus AS right_us,
                 CASE WHEN m.op = 'U' THEN m.dim_value END AS right_dim_value,
                 CASE WHEN m.op = 'U' THEN m.dim_version END AS right_dim_version,
                 CASE WHEN m.op IS NULL THEN NULL
                      ELSE m.op = 'U' END AS right_dim_live
          FROM lv l LEFT JOIN m ON m.event_id = l.event_id
          ORDER BY l.event_id"""),
    QuerySpec("q_scd2", (s, dir) => {
      // SCD2 dimension history (Merge.scd2Intervals): every order is a
      // version of its customer's state; each becomes a validity
      // interval closed by the key's next change (open + is_current on
      // the latest). o_orderkey is the version ts — unique per key, so
      // "next" is well-defined (the op's documented contract). ONE key
      // exchange + one partition sort for the single lead window.
      // Output trimmed to customers 1-200 to keep the artifact small;
      // the filter pushes to the parquet scan BELOW the window (key-
      // predicate pushdown through a key-partitioned window is safe).
      val feed = t(s, dir, "orders")
        .where(col("o_custkey") <= 200)
        .select(col("o_custkey"), col("o_orderkey").as("valid_from"),
          col("o_totalprice").as("price"))
      Merge.scd2Intervals(feed, "o_custkey", "valid_from")
        .select(col("o_custkey"), col("valid_from"), col("valid_to"),
          col("is_current"), col("price"))
        .orderBy("o_custkey", "valid_from")
    },
    () =>
      """SELECT o_custkey, o_orderkey AS valid_from,
                lead(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS valid_to,
                lead(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) IS NULL AS is_current,
                o_totalprice AS price
         FROM orders WHERE o_custkey <= 200
         ORDER BY o_custkey, valid_from"""),
    QuerySpec("q_join_incr", (s, dir) => {
      // INCREMENTAL JOIN-VIEW MAINTENANCE (Merge.joinViewDelta/
      // joinViewRetract) — the JOIN member of the incremental-artifact
      // family, by the classic delta rule: a stored view A⋈B grows by
      // exactly ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB, so the old⋈old leg — the only
      // one whose cost grows with history — is never re-executed;
      // retraction retires view rows by anti-join on the source row
      // ids the view carries (the price of retractability, paid at
      // view definition). Orders/lineitem halves stand in for two
      // nightly snapshots per side.
      //
      // THE ORACLE IS THE PROOF (round-20: the q_join_agg_incr
      // pattern, replacing two in-query from-scratch joins + four
      // exceptAll legs that cost 5-9s of board time): DuckDB computes
      // the from-scratch join of the FULL corpus and of the SURVIVING
      // corpus per priority, and equality of the released (count,
      // DECIMAL sum) rows — n_view/sum_fold off the FOLDED view,
      // n_view_retracted/sum_extprice off the RETRACTED view — is
      // exactly fold == scratch and fold∘retract == scratch. MergeSpec
      // keeps the full multiset exceptAll law in-engine.
      val dec = DecimalType(28, 4)
      val a = t(s, dir, "orders").select(col("o_orderkey").as("okey"),
        col("o_custkey"), col("o_orderpriority"))
      // the b-row id is (okey, linenumber, price-in-CENTS): the
      // synthetic data duplicates line numbers within an order, so the
      // price disambiguates — carried as an exact BIGINT, never the
      // raw DOUBLE (float equality in an identity key invites
      // representation drift — round-19 ADVICE fix), with triple
      // uniqueness ASSERTED below rather than assumed
      val b = t(s, dir, "lineitem").select(col("l_orderkey").as("okey"),
        col("l_linenumber"),
        round(col("l_extendedprice") * 100).cast(LongType).as("cents"),
        col("l_extendedprice"))
      val bId = Seq("okey", "l_linenumber", "cents")
      val dupIds = b.groupBy(bId.map(col): _*)
        .agg(count(lit(1)).as("__n")).where(col("__n") > 1)
        .agg(count(lit(1)).as("__ndup"))
      val aOld = a.where(pmod(col("okey"), lit(2)) === 0)
      val dA = a.where(pmod(col("okey"), lit(2)) === 1)
      val bOld = b.where(pmod(col("l_linenumber"), lit(2)) === 0)
      val dB = b.where(pmod(col("l_linenumber"), lit(2)) === 1)
      // the folded view feeds TWO consumers (its own stats + the
      // retraction input): cache() computes it once, LAZILY at first
      // use — the r19 eager localCheckpoint pin materialized the view
      // into block storage at query construction and billed MORE than
      // the recompute it saved (r19 watch item); Bench unpersists
      // between queries
      val folded = aOld.join(bOld, Seq("okey"))
        .unionByName(Merge.joinViewDelta(aOld, dA, bOld, dB, Seq("okey")))
        .cache()
      val stats1 = folded.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_view"),
          sum(col("l_extendedprice").cast(dec)).cast(dec).as("sf"))
      val rmA = a.where(pmod(col("okey"), lit(5)) === 0).select("okey")
      // the removed SET is the same as plain ln=3 filtering because
      // every ln=3 row is tombstoned
      val rmB = b.where(col("l_linenumber") === 3)
        .select(bId.map(col): _*)
      val retracted = Merge.joinViewRetract(folded, rmA, Seq("okey"),
        rmB, bId)
      val stats2 = retracted.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_view_retracted"),
          sum(col("l_extendedprice").cast(dec)).cast(dec).as("sp"))
      stats1.join(stats2, Seq("o_orderpriority"))
        // the row-id contract holds by ASSERTION, not assumption: a
        // fixture regeneration that ever duplicated the triple would
        // fail HERE with a remedy, never silently under-retract
        .crossJoin(broadcast(dupIds))
        .where(assert_true(col("__ndup") === 0,
          concat(col("__ndup").cast(StringType),
            lit(" duplicated (okey, linenumber, cents) lineitem " +
              "triples — the b-row tombstone id is no longer unique; " +
              "add a real surrogate key to the fixture"))).isNull)
        .select(col("o_orderpriority"), col("n_view"),
          col("sf").cast(DoubleType).as("sum_fold"),
          col("n_view_retracted"),
          col("sp").cast(DoubleType).as("sum_extprice"))
        .orderBy("o_orderpriority")
    },
    // Join-view replay: BOTH paths rebuilt independently — the folded
    // view as the four-leg union (old⋈old ∪ the three delta legs),
    // the reference as one direct join — then multiset-diffed per
    // priority (EXCEPT ALL both ways); retraction re-derived as plain
    // filtering of the source tables.
    // Join-view replay, ORACLE-IS-THE-PROOF (round 20): the from-scratch
    // join-aggregates of the FULL corpus (what the folded view must
    // contain) and the SURVIVING corpus (what the retracted view must
    // contain) — equality of (count, DECIMAL sum) per priority against
    // the Spark side's maintained views IS fold == scratch and
    // fold∘retract == scratch, with no exceptAll overhead on either
    // side; MergeSpec pins the full multiset law in-engine.
    () =>
      raw"""WITH a AS (SELECT o_orderkey AS okey, o_orderpriority
                       FROM orders),
               b AS (SELECT l_orderkey AS okey, l_linenumber,
                            l_extendedprice
                     FROM lineitem),
               st AS (SELECT o_orderpriority,
                             CAST(count(*) AS BIGINT) AS n_view,
                             CAST(sum(CAST(l_extendedprice
                                           AS DECIMAL(28, 4)))
                                  AS DOUBLE) AS sum_fold
                      FROM a JOIN b USING (okey) GROUP BY 1),
               st2 AS (SELECT o_orderpriority,
                              CAST(count(*) AS BIGINT) AS n_view_retracted,
                              CAST(sum(CAST(l_extendedprice
                                            AS DECIMAL(28, 4)))
                                   AS DOUBLE) AS sum_extprice
                       FROM (SELECT * FROM a WHERE okey % 5 <> 0) a2
                       JOIN (SELECT * FROM b WHERE l_linenumber <> 3) b2
                       USING (okey)
                       GROUP BY 1)
          SELECT st.o_orderpriority, st.n_view, st.sum_fold,
                 st2.n_view_retracted, st2.sum_extprice
          FROM st JOIN st2 USING (o_orderpriority)
          ORDER BY o_orderpriority"""),
    QuerySpec("q_left_join_incr", (s, dir) => {
      // LEFT-JOIN VIEW MAINTENANCE (Merge.leftJoinMatchCounts/
      // leftJoinCountsFold/leftJoinViewChanges/leftJoinViewRetract) —
      // the OUTER half of the join member: a LEFT view is not
      // maintainable from the delta legs alone because null-extended
      // rows must disappear on a left row's FIRST match and reappear
      // when its LAST match retracts; the counting algorithm (Gupta/
      // Mumick/Subrahmanian 1993) keeps a slim (left-id, n) artifact
      // whose 0-transitions drive the null-row changes. Orders LEFT
      // lineitem, B split by line-number parity, so single-line orders
      // sit null-extended in the old view and gain their first match
      // on fold (the 0 -> >0 transition), ~1.7% of orders never match
      // (permanent nulls), and the takedown removes EVERY line of the
      // %11 orders (the >0 -> 0 re-null transition) plus the ln=6
      // lines (partial, no transition). Null accounting surfaced per
      // priority.
      //
      // THE ORACLE IS THE PROOF (round-20: the q_join_agg_incr
      // pattern): DuckDB computes the from-scratch LEFT joins of the
      // full and the surviving corpus per priority, and equality of
      // the released (count, null-count, DECIMAL sum) rows — taken off
      // the FOLDED and the RETRACTED views respectively — is exactly
      // fold == scratch and fold∘retract == scratch; the null counts
      // are the discriminating signal for the counting algorithm (a
      // mishandled 0-transition moves n_nulls/n_nulls_retracted). The
      // two in-query scratch LEFT joins + four exceptAll legs this
      // replaces were 6-9s of board time; MergeSpec keeps the full
      // multiset exceptAll law in-engine.
      val dec = DecimalType(28, 4)
      val a = t(s, dir, "orders").select(col("o_orderkey").as("okey"),
        col("o_custkey"), col("o_orderpriority"))
      // b-row id = (okey, linenumber, price-in-CENTS) as an exact
      // BIGINT — never the raw DOUBLE (round-19 ADVICE fix), with
      // uniqueness asserted below (the synthetic data duplicates line
      // numbers within an order; the price disambiguates)
      val b = t(s, dir, "lineitem").select(col("l_orderkey").as("okey"),
        col("l_linenumber"),
        round(col("l_extendedprice") * 100).cast(LongType).as("cents"),
        col("l_extendedprice"))
      val bId = Seq("okey", "l_linenumber", "cents")
      val dupIds = b.groupBy(bId.map(col): _*)
        .agg(count(lit(1)).as("__n")).where(col("__n") > 1)
        .agg(count(lit(1)).as("__ndup"))
      val aOld = a.where(pmod(col("okey"), lit(2)) === 0)
      val dA = a.where(pmod(col("okey"), lit(2)) === 1)
      val bOld = b.where(pmod(col("l_linenumber"), lit(2)) === 0)
      val dB = b.where(pmod(col("l_linenumber"), lit(2)) === 1)
      val k = Seq("okey")
      val viewOld = aOld.join(bOld, k, "left")
      // multi-consumer frames are cache()d — computed once, LAZILY at
      // first use; the r19 eager localCheckpoint pins materialized
      // into block storage at query construction and billed MORE than
      // the recompute they saved (r19 watch item). counts0 feeds the
      // change feed AND the counts fold; changes is referenced twice
      // (its D keys and its I rows). view1 is consumed ONCE since r21
      // (the retraction leg reads the counts artifact, not the view)
      // so it is no longer cached. Bench unpersists between queries.
      val counts0 = Merge.leftJoinMatchCounts(aOld, bOld, k, k).cache()
      val changes = Merge.leftJoinViewChanges(counts0, aOld, dA, bOld,
        dB, k, k).cache()
      val view1 = viewOld
        .join(changes.where(col("__op") === "D").select("okey")
          .distinct(), k, "left_anti")
        .select(viewOld.columns.map(col): _*)
        .unionByName(changes.where(col("__op") === "I").drop("__op")
          .select(viewOld.columns.map(col): _*))
      val stats1 = view1.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_view"),
          sum(when(col("l_linenumber").isNull, 1L).otherwise(0L))
            .as("n_nulls"),
          sum(col("l_extendedprice").cast(dec)).cast(dec).as("sf"))
      // RETRACTED STATS OFF THE COUNTS ARTIFACT, NEVER THE VIEW (r21 —
      // the family's named lever, VERDICT r20 item 8): the released
      // numbers are per-priority (count, null-count, DECIMAL sum), and
      // by the maintained invariants (view1 == A ⟕ B; counts1 == each
      // left's true match count — both transitively proven by this
      // query's own from-scratch oracle) every retraction effect is a
      // slim DELTA off stats1:
      //   - a removed LEFT row takes max(n, 1) view rows with it (its
      //     matches, or its one null extension when n = 0) and its
      //     matches' price mass (rmA ⋈ B);
      //   - a removed B row of a SURVIVING left takes exactly one
      //     matched row (b-row ids are unique — asserted below) and
      //     its price;
      //   - a surviving left whose matches ALL retired re-enters
      //     null-extended: +1 row, +1 null, no price (the counting
      //     algorithm's 0-transition, read off counts1 == __rn).
      // All arithmetic exact (integer counts; DECIMAL(28,4) sums are
      // associative), so the released rows are bit-identical to
      // aggregating the materialized retracted view — which no longer
      // exists in the plan: the retraction leg reads counts1 + the
      // pruned base scans only. leftJoinViewRetract itself stays the
      // library's view-maintenance verb (MergeSpec proves it
      // in-engine); this query releases stats, so it rides the slim
      // artifact instead (the Gupta/Mumick counting discipline).
      val counts1 = Merge.leftJoinCountsFold(counts0, aOld, dA, bOld,
        dB, k, k).cache() // read by the removed-left AND zeroed legs
      val aRm = a.where(pmod(col("okey"), lit(7)) === 0)
      val rmBRows = b.where(pmod(col("okey"), lit(11)) === 0 ||
        col("l_linenumber") === 6)
      val aRmStats = aRm.join(counts1, Seq("okey"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(greatest(col("n"), lit(1L))).as("rm_a_rows"),
          sum(when(col("n") === 0L, 1L).otherwise(0L)).as("rm_a_nulls"))
      val aRmPrice = aRm.join(b, Seq("okey"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("l_extendedprice").cast(dec)).as("rm_a_price"))
      val rmBStats = rmBRows
        .join(aRm.select("okey"), Seq("okey"), "left_anti")
        .join(a, Seq("okey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("rm_b_rows"),
          sum(col("l_extendedprice").cast(dec)).as("rm_b_price"))
      // tombstones dedupe by b-row id before counting (the
      // leftJoinViewRetract replay contract), then zeroed = surviving
      // lefts whose full count retired tonight
      val zeroed = a
        .join(rmBRows.select((k ++ bId).distinct.map(col): _*).distinct()
            .groupBy(col("okey")).agg(count(lit(1)).as("__rn")),
          Seq("okey"))
        .join(aRm.select("okey"), Seq("okey"), "left_anti")
        .join(counts1, Seq("okey"))
        .where(col("n") === col("__rn"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("z"))
      val zeroDec = lit(0).cast(dec)
      stats1
        .join(aRmStats, Seq("o_orderpriority"), "left")
        .join(aRmPrice, Seq("o_orderpriority"), "left")
        .join(rmBStats, Seq("o_orderpriority"), "left")
        .join(zeroed, Seq("o_orderpriority"), "left")
        .withColumn("n_view_retracted",
          col("n_view") - coalesce(col("rm_a_rows"), lit(0L)) -
            coalesce(col("rm_b_rows"), lit(0L)) + coalesce(col("z"), lit(0L)))
        .withColumn("n_nulls_retracted",
          col("n_nulls") - coalesce(col("rm_a_nulls"), lit(0L)) +
            coalesce(col("z"), lit(0L)))
        .withColumn("sp",
          (col("sf") - coalesce(col("rm_a_price"), zeroDec) -
            coalesce(col("rm_b_price"), zeroDec)).cast(dec))
        // the row-id contract holds by ASSERTION, not assumption
        .crossJoin(broadcast(dupIds))
        .where(assert_true(col("__ndup") === 0,
          concat(col("__ndup").cast(StringType),
            lit(" duplicated (okey, linenumber, cents) lineitem " +
              "triples — the b-row tombstone id is no longer unique; " +
              "add a real surrogate key to the fixture"))).isNull)
        .select(col("o_orderpriority"), col("n_view"), col("n_nulls"),
          col("sf").cast(DoubleType).as("sum_fold"),
          col("n_view_retracted"), col("n_nulls_retracted"),
          col("sp").cast(DoubleType).as("sum_extprice"))
        .orderBy("o_orderpriority")
    },
    // Left-join-view replay, ORACLE-IS-THE-PROOF (round 20): the
    // from-scratch LEFT joins of the FULL corpus (what the folded view
    // must contain) and the SURVIVING corpus (post-retraction) per
    // priority — the (count, null-count, DECIMAL sum) equality IS
    // fold == scratch and fold∘retract == scratch, and the null counts
    // discriminate the counting algorithm's 0-transitions (a stale
    // null kept or a re-null missed moves them); MergeSpec pins the
    // full multiset law in-engine.
    () =>
      raw"""WITH a AS (SELECT o_orderkey AS okey, o_orderpriority
                       FROM orders),
               b AS (SELECT l_orderkey AS okey, l_linenumber,
                            l_extendedprice
                     FROM lineitem),
               st AS (SELECT o_orderpriority,
                             CAST(count(*) AS BIGINT) AS n_view,
                             CAST(sum(CASE WHEN l_linenumber IS NULL
                                      THEN 1 ELSE 0 END) AS BIGINT)
                               AS n_nulls,
                             CAST(sum(CAST(l_extendedprice
                                           AS DECIMAL(28, 4)))
                                  AS DOUBLE) AS sum_fold
                      FROM a LEFT JOIN b USING (okey) GROUP BY 1),
               st2 AS (SELECT o_orderpriority,
                              CAST(count(*) AS BIGINT) AS n_view_retracted,
                              CAST(sum(CASE WHEN l_linenumber IS NULL
                                       THEN 1 ELSE 0 END) AS BIGINT)
                                AS n_nulls_retracted,
                              CAST(sum(CAST(l_extendedprice
                                            AS DECIMAL(28, 4)))
                                   AS DOUBLE) AS sum_extprice
                       FROM (SELECT * FROM a WHERE okey % 7 <> 0) a2
                       LEFT JOIN (SELECT * FROM b
                                  WHERE okey % 11 <> 0
                                    AND l_linenumber <> 6) b2
                       USING (okey)
                       GROUP BY 1)
          SELECT st.o_orderpriority, st.n_view, st.n_nulls, st.sum_fold,
                 st2.n_view_retracted, st2.n_nulls_retracted,
                 st2.sum_extprice
          FROM st JOIN st2 USING (o_orderpriority)
          ORDER BY o_orderpriority"""),
    QuerySpec("q_join_agg_incr", (s, dir) => {
      // AGGREGATE-OVER-JOIN MAINTENANCE (Merge.joinAggFold/
      // joinAggRetract) — the composition of the round's two
      // incremental halves: maintain revenue-per-priority over
      // orders⋈lineitem WITHOUT ever materializing the joined view.
      // The fold pushes the three delta-rule legs (ΔA⋈B ∪ A⋈ΔB ∪
      // ΔA⋈ΔB) straight into the (count, DECIMAL sum) artifact as
      // signed contributions; the retraction derives the removed view
      // rows from the tombstones (rmA⋈B ∪ (A∖rmA)⋈rmB — a row removed
      // on both sides counts once) and feeds them as deletes. The
      // old⋈old join never re-executes, no view is stored, and the
      // maintained state is |priorities| rows. THE ORACLE IS THE
      // PROOF: DuckDB computes the from-scratch join-aggregate of the
      // surviving corpus — equality of the released rows IS
      // fold+retract == from-scratch (no exceptAll overhead on the
      // board; MergeSpec pins the same law in-engine, PlanSpec pins
      // the absent old⋈old leg).
      val dec = DecimalType(28, 4)
      val a = t(s, dir, "orders").select(col("o_orderkey").as("okey"),
        col("o_custkey"), col("o_orderpriority"))
      val b = t(s, dir, "lineitem").select(col("l_orderkey").as("okey"),
        col("l_linenumber"),
        round(col("l_extendedprice") * 100).cast(LongType).as("cents"),
        col("l_extendedprice"))
      val bId = Seq("okey", "l_linenumber", "cents")
      val aOld = a.where(pmod(col("okey"), lit(2)) === 0)
      val dA = a.where(pmod(col("okey"), lit(2)) === 1)
      val bOld = b.where(pmod(col("l_linenumber"), lit(2)) === 0)
      val dB = b.where(pmod(col("l_linenumber"), lit(2)) === 1)
      val base = aOld.join(bOld, Seq("okey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast(dec)).cast(dec).as("s"))
      val folded = Merge.joinAggFold(base, aOld, dA, bOld, dB,
        Seq("okey"), Seq("o_orderpriority"), "l_extendedprice")
      val rmA = a.where(pmod(col("okey"), lit(5)) === 0).select("okey")
      val rmB = b.where(col("l_linenumber") === 3)
        .select(bId.map(col): _*)
      Merge.joinAggRetract(folded, a, rmA, Seq("okey"), b, rmB, bId,
          Seq("okey"), Seq("o_orderpriority"), "l_extendedprice")
        .select(col("o_orderpriority"), col("n"),
          col("s").cast(DoubleType).as("sum_extprice"))
        .orderBy("o_orderpriority")
    },
    // Aggregate-over-join replay: the oracle IS the proof — it
    // computes the from-scratch join-aggregate of the SURVIVING
    // corpus directly, so equality with the Spark side's
    // fold-then-retract maintenance chain is exactly the
    // "incremental == from-scratch" claim (DECIMAL(28,4) sums on both
    // sides, cast to double only for rendering).
    () =>
      raw"""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CAST(l_extendedprice AS DECIMAL(28, 4)))
                      AS DOUBLE) AS sum_extprice
          FROM (SELECT o_orderkey AS okey, o_orderpriority FROM orders
                WHERE o_orderkey % 5 <> 0) a
          JOIN (SELECT l_orderkey AS okey, l_extendedprice FROM lineitem
                WHERE l_linenumber <> 3) b USING (okey)
          GROUP BY 1 ORDER BY 1""")
  )
}

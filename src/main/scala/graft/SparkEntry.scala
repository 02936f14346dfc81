package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.pipeline.Pipeline
import graft.queries._

/** Driver contract — one [[graft.queries.QuerySpec]] per implemented
  * operator from SURVEY.md §2 plus the LLM-data-pipeline extensions.
  * Each spec holds the query's Spark build next to its DuckDB oracle
  * SQL, in one file per operator family under `graft/queries/`;
  * [[benchQueries]] is the one run-order list over them.
  *
  * Conventions shared by query and oracle (the driver hash-compares):
  *  - identical column NAMES and TYPES on both sides (counts cast to
  *    BIGINT, explode positions to INTEGER);
  *  - deterministic total ORDER: every query ends in an orderBy over a
  *    unique key, mirrored by ORDER BY in the SQL;
  *  - aggregate doubles rounded (row-level double arithmetic is IEEE-
  *    identical across engines and stays unrounded).
  */
object SparkEntry {

  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame = {
    // events.ts has shipped in two generations: TIMESTAMP(NANOS), which
    // Spark 4 rejects by default (PARQUET_TYPE_ILLEGAL) and reads as a
    // nanos BIGINT under the nanosAsLong escape hatch, and
    // TIMESTAMP(MICROS), which reads as TIMESTAMP_NTZ. The whole query
    // surface and every oracle replay are written against the nanos-long
    // form (`ts div 1000` == DuckDB's epoch_us(ts) either way: the ns
    // read truncates identically on both engines, and micros*1000 is
    // exact), so normalize to it here, at the single read boundary.
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // The NTZ->epoch cast below (and every time-typed oracle replay) is
    // only correct when the session renders naive timestamps as UTC.
    // Every shipped entry point (Main/Bench/Verify) sets this at build
    // time; enforcing it HERE pins the invariant at the same single
    // read boundary for any future caller, instead of silently
    // shifting epochs under a stray local-tz session.
    s.conf.set("spark.sql.session.timeZone", "UTC")
    val df = s.read.parquet(s"$dir/$name.parquet")
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(TimestampNTZType) | Some(TimestampType) =>
        // session tz is UTC at every entry point, so the NTZ cast picks
        // the same instant DuckDB's naive-as-UTC epoch_us does
        df.withColumn("ts",
          unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case _ => df
    }
  }

  /** Flagship: a real multi-step pipeline over events (decode JSON props
    * -> filter -> map -> project), compiled to fused Catalyst
    * filter/project nodes. Driver smoke-checks rows > 0 on sf0.001. */
  def entry(spark: SparkSession): DataFrame = {
    val ev = t(spark, "/root/testdata/sf0.001", "events")
      .select("event_id", "event_type", "props", "value") // prune ts (nanos)
    val frame = ev.select(col("event_id").as("key"),
      struct(col("event_type"), col("props"), col("value")).as("value"))
    Pipeline()
      .filter((_, v) => v.getField("event_type") =!= "error")
      .mapValues(v => struct(
        v.getField("event_type").as("event_type"),
        get_json_object(v.getField("props"), "$.k").try_cast(LongType).as("k"),
        v.getField("value").as("value")))
      .filter((_, v) => v.getField("k").isNotNull)
      .map((k, v) => (k, struct(
        upper(v.getField("event_type")).as("event_type"),
        (v.getField("k") * 2).as("k2"),
        v.getField("value").as("value"))))
      .compile(frame)
  }

  /** Observed round schedules of the iterative graph ops, recorded by
    * the query runs in THIS JVM. [[oracleSql]] is a `def` and Verify
    * dumps it AFTER running every query, so the unrolled q_kcore,
    * q_ktruss, q_sssp, q_coreness and q_curate_coreness oracles derive
    * their depth from the very run being compared instead of a hand pin
    * that rots at a new scale factor (each keeps its sf0.01 pin only as
    * the fallback when its query did not run here, e.g. a spot-check of
    * a different query). Every generated unroll ALSO carries an in-SQL
    * error() convergence assertion, so even a wrong fallback fails
    * loudly and self-diagnosably, never as a silent parity mismatch.
    *
    * Each query invocation records into a FRESH buffer and PUBLISHES
    * the completed run through an AtomicReference (the oracles read the
    * reference) — so a concurrent second invocation can only replace a
    * coherent snapshot with another coherent snapshot, never interleave
    * clears and appends into a wrong unroll depth, and the volatile
    * store gives cross-thread visibility when the recording and reading
    * threads differ. */
  private[graft] object Observed {
    final class Recorder {
      private val ref =
        new java.util.concurrent.atomic.AtomicReference[Seq[Int]](Nil)
      /** Run `f` with a fresh buffer; publish its final contents. */
      def record[A](
          f: scala.collection.mutable.ArrayBuffer[Int] => A): A = {
        val buf = scala.collection.mutable.ArrayBuffer.empty[Int]
        val out = f(buf)
        ref.set(buf.toList)
        out
      }
      def get: Seq[Int] = ref.get()
    }
    val kcore = new Recorder
    val ktruss = new Recorder
    val sssp = new Recorder
    val corenessPhases = new Recorder
    val corenessGatePhases = new Recorder
  }

  // ======================================================== registry

  /** Every registered query, family by family (one file per family
    * under `graft/queries/`). Adding a query means one [[QuerySpec]] in
    * its family's `specs` and its name in [[benchQueries]]. */
  val specs: Seq[QuerySpec] = Seq(
    ChainQueries.specs,
    SerdeQueries.specs,
    RelationalQueries.specs,
    EventQueries.specs,
    StatsQueries.specs,
    StreamQueries.specs,
    DedupQueries.specs,
    TextQueries.specs,
    SimilarityQueries.specs,
    MultimodalQueries.specs,
    GraphQueries.specs,
    SketchQueries.specs,
    SamplingQueries.specs,
    LayoutQueries.specs,
    MergeQueries.specs,
    LinkageQueries.specs).flatten

  /** Each query's Spark build by name. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(q => q.name -> q.build).toMap

  /** DuckDB equivalents over the same parquet tables — ALL queries are
    * oracled, including the approximate ANN/near-dup family: an
    * approximate result is still a DETERMINISTIC function of its seeded
    * parameters, so "recall < 1 vs ground truth" never blocks a replay.
    * q_ann_lsh / q_embed_neardup embed the seeded planes in the SQL
    * as exact double literals, so the full candidates-then-rerank
    * pipeline replays deterministically; q_ann_ivf replays k-means
    * training itself. q_dedup_minhash IS oracled (its confirm stage
    * outputs exact n-gram Jaccard, and LSH recall is 1 on
    * this corpus — verified against all-pairs ground truth), and
    * q_dedup_simhash IS oracled (Charikar chunking is a COMPLETE
    * candidate generator for hamming <= d by pigeonhole, so the output
    * equals deterministic all-pairs hamming <= d over FNV-based
    * fingerprints, reproduced in mod-2^64 HUGEINT/UBIGINT SQL).
    *
    * A `def`, not a `val`: the [[Observed]]-derived oracles must be
    * rendered after their queries have run. */
  def oracleSql: Map[String, String] =
    specs.map(q => q.name -> q.oracle()).toMap

  /** The specs named in `names`, or every spec when `names` is empty, in
    * [[benchQueries]] order. An unknown name is refused: a typo would
    * otherwise run nothing and let a spot check or a subset board pass
    * vacuously. */
  def select(names: Seq[String]): Seq[QuerySpec] = {
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.mkString(", ")}")
    val byName = specs.map(q => q.name -> q).toMap
    benchQueries.filter(n => names.isEmpty || names.contains(n)).map(byName)
  }

  /** Headline queries Bench runs at sf0.1 (the heavy relational + LLM +
    * streaming-surface ops; Bench forces full evaluation via the noop
    * sink and reports one cold pass and a median-of-3 warm regime per
    * query). Every operator family with a non-trivial plan is here —
    * including the round-5 additions (cluster dedup, LSH ANN, bucketed
    * as-of, stream-stream interval join, packing, skew join, scrub,
    * mixing), so no expensive operator's cost is invisible to the
    * driver's bench. It is also the run order of Verify, PlanDump and
    * QueryProfile ([[select]]).
    *
    * Round-over-round note: trailing blocks are per-round additions
    * (round 8 widened 26 -> 34, round 9 -> 69) — compare per-query or
    * over the shared prefix, not headline-to-headline across rounds. */
  def benchQueries: Seq[String] = Seq(
    "q1_agg", "q_join_agg", "q_window", "q_topk_orders", "q_chain",
    "q_dedup_exact", "q_dedup_minhash", "q_text_stats", "q_ann_brute",
    "q_multimodal_meta", "q_stream_window", "q_stream_session",
    "q_vocab", "q_repetition", "q_ann_ivf", "q_quantize",
    "q_asof", "q_range",
    "q_cluster_dedup", "q_ann_lsh", "q_bucketed_asof", "q_stream_interval",
    "q_pack", "q_skew_join", "q_scrub", "q_mix",
    // round 8
    "q_winnow", "q_winnow_contamination", "q_star_join", "q_cube",
    "q_win_frame", "q_setops", "q_semi_anti", "q_json",
    // round 9
    "q_pivot", "q_unpivot", "q_topk_per_group", "q_tfidf", "q_ngrams",
    "q_outer_join", "q_grouping_sets", "q_chunk", "q_stream_outer",
    "q_histogram", "q_profile",
    "q_funnel", "q_gapfill", "q_outliers", "q_bm25", "q_kmv_distinct",
    "q_sessionize", "q_inverted", "q_cms", "q_bloom_join",
    "q_rank_suite", "q_sample", "q_zorder", "q_diversity",
    "q_sample_stratified", "q_quantile_sample", "q_stream_enrich",
    "q_exists", "q_novelty", "q_quality_gate", "q_semdedup",
    "q_stream_contamination", "q_cluster_sample", "q_reachability",
    "q_ann_recall", "q_sample_weighted", "q_fuzzy_match", "q_pagerank",
    "q_coreset", "q_mix_temperature", "q_hilbert",
    // round 10
    "q_profile_sketch", "q_ann_recall_tuned", "q_pagerank_dangling",
    "q_heavy_hitters", "q_merge_upsert", "q_merge_compact", "q_scd2",
    "q_collocations", "q_serde_confluent",
    // round 10: full coverage — every registered query is benched, so
    // the artifact adjudicates ALL of them (the parity/serde rows are
    // cheap scans, but "cheap" is now measured, not assumed)
    "q_filter", "q_map", "q_mapvalues", "q_drop_cast", "q_distinct",
    "q_rollup", "q_scalar_funcs", "q_projection",
    "q_serde_long", "q_serde_string", "q_serde_avro", "q_serde_void",
    "q_time_iso2unix", "q_time_unix2iso",
    "q_asof_tolerance", "q_len_stats", "q_lang_fingerprint", "q_split",
    "q_contamination", "q_curate", "q_curate_clusters",
    "q_dedup_rows", "q_dedup_clusters", "q_dedup_simhash",
    "q_embed_neardup", "q_frame_offsets", "q_multimodal_ann",
    "q_retention", "q_setsim", "q_zorder3", "q_corr",
    "q_sample_weighted_stratified", "q_kmv_resemblance", "q_validate",
    "q_cluster_dedup_best", "q_drift", "q_ewma",
    "q_pagerank_personalized", "q_assoc", "q_transitions",
    "q_quantile_sketch", "q_drift_eqdepth", "q_ann_ivf_int8",
    "q_range_bucket", "q_kmv_setops", "q_pit_join", "q_outliers_robust",
    "q_skipgram", "q_quantile_norm", "q_containment",
    "q_pagerank_weighted", "q_join_size", "q_decayed", "q_langid_eval",
    "q_rolling_distinct",
    // round 12
    "q_snapshot_diff", "q_split_leakfree", "q_semantic_contamination",
    "q_linkage_fs", "q_zonemap", "q_label_prop", "q_quota_mix",
    "q_profile_drift", "q_attribution", "q_trending", "q_winsorize",
    "q_span_dedup", "q_hits", "q_hard_negatives", "q_eval_carve",
    "q_hybrid_retrieval", "q_dataset_card", "q_distinct_cube",
    // round 13
    "q_lm_score", "q_dsir", "q_triangles",
    // round 14
    "q_gopher_rep", "q_moore_lewis", "q_kcore", "q_ktruss",
    "q_rolling_quantiles", "q_calibrated_gate", "q_rate_spikes",
    "q_bootstrap_ci", "q_link_pred", "q_modularity", "q_auc",
    "q_distinctive_terms", "q_kappa", "q_gini", "q_luhn_scrub",
    "q_ann_pq", "q_ks_test", "q_incr_agg", "q_interpolate", "q_abtest",
    "q_sssp", "q_benford", "q_normalize", "q_linkage_em",
    "q_bpe", "q_bpe_encode", "q_pca", "q_pca_project", "q_cuped",
    "q_calibration", "q_simpson", "q_seasonal", "q_url_norm",
    "q_oov", "q_hll",
    // round 15
    "q_ann_ivfpq", "q_coreness", "q_hll_setops", "q_multimodal_neardup",
    // round 16
    "q_ann_ivfpq_residual", "q_hll_incremental", "q_curate_coreness",
    "q_pack_chunks", "q_stream_drift", "q_stream_ks", "q_embed_shift",
    "q_dedup_incr", "q_cluster_incr",
    // round 17
    "q_ann_incr", "q_cms_incr", "q_bloom_incr", "q_pagerank_incr",
    "q_bpe_local", "q_dataset_card_tokens", "q_mix_tokens", "q_bm25_incr",
    "q_screen_incr",
    // round 18: the deletion/retraction + compaction half of the
    // incremental-artifact story, plus the quantile persistence member
    "q_cms_retract", "q_lsh_retract", "q_dedup_retract",
    "q_winnow_retract", "q_quantile_incr", "q_quantile_retract", "q_bm25_retract", "q_ann_upsert",
    "q_ann_compact", "q_sample_incr", "q_sample_retract", "q_dp_count",
    "q_dp_sum", "q_join_incr", "q_left_join_incr",
    // round 19: replay idempotency, artifact provenance, and the
    // aggregate-over-join composition
    "q_join_agg_incr")
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{EventOps, Generated, GraphOps, MediaOps, QueryDef, Relational, Relational2, SketchOps, StreamOps, TextOps, VectorOps}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * The query surface is assembled from the operator modules; each entry
  * pairs a Spark implementation with a DuckDB-oracle SQL twin (where the
  * op is expressible in portable SQL — see QueryDef).
  */
object SparkEntry {

  /** Queries whose registered fn serves a per-(session, dir) RESULT
    * memo, live-load memo, one-shot-stream memo, or cross-run artifact
    * on repeat invocation — their WARM bench number measures a readout,
    * not the pipeline (the honest build cost is the COLD number).
    * Bench emits the flag into bench_detail.json and tools/benchcmp.py
    * grades these queries' COLD for build-path regressions (round-15
    * verdict #2 / advice #1: warm-focused tripwires lost visibility
    * the moment a build was memoized).
    *
    * Audit criterion (checked against each fn's top level): the body is
    * a getOrElseUpdate readout of a result-frame TrieMap (q52/t03/t16/
    * t22/t34/t58/t62/v02/v38/m10/p04/the s-family one-shot streams), an
    * orderBy over such a memo (t02/t13/t42/m09), a liveMemo'd Derby
    * load (g07–g10/g13–g15/g18/g19/g21), a memoized write-then-read
    * table op (q49/q55/q57), or a checkpointed score frame (p01/p07).
    * Queries that re-run real per-pass work over memoized INPUT state
    * (t36/t43/t48/t49/t57/t63/v01/v24/v25, s01–s05/s10/s17–s19) are
    * deliberately NOT flagged — their warm IS the pipeline cost. */
  val memoServed: Set[String] = Set(
    "p01_pagerank", "p04_label_propagation", "p07_personalized_pagerank",
    "p12_lp_delta_accounting",
    "q49_cow_upsert", "q51_basket_rules", "q52_fuzzy_blocked_match",
    "q55_mor_time_travel", "q57_mor_compaction",
    "t02_minhash_signatures", "t03_lsh_near_dup_pairs", "t13_simhash_near_dup",
    "t16_dup_clusters", "t22_token_budget_select", "t34_cc_star_clusters",
    "t42_stopword_quality", "t58_curation_waterfall", "t62_trained_quality_scorer",
    "t67_delta_dedup", "t68_index_roll", "t69_band_roll_roll",
    "t70_band_reap", "t71_nightly_maintenance", "t72_reaped_delta_dedup",
    "v02_cosine_near_dup_pairs", "v38_ivf_compaction_rebuild",
    "v43_ann_persisted_index", "v44_ann_index_roll", "v45_ann_rolled_serve",
    "v46_ann_roll_roll", "v47_ann_reap", "v48_ann_reaped_serve",
    "m07_chunk_near_dup", "m09_chunk_simhash_pairs", "m10_media_dup_clusters",
    "g07_jdbc_roundtrip", "g08_armed_wave_load", "g09_armed_full_catalog",
    "g10_deferred_fk_link", "g13_merge_upsert", "g14_schema_evolution",
    "g15_idempotent_sink", "g18_transactional_rollback",
    "g19_optimistic_concurrency", "g21_partitioned_readback_audit",
    "s06_stream_jdbc_sink", "s07_stream_restart_sessions", "s08_stream_near_dup",
    "s09_stream_decontaminate", "s11_stream_quality_gate",
    "s12_stream_sketch_maintenance", "s13_stream_chunk_census",
    "s14_stream_retrieval_score", "s15_stream_semantic_decontam",
    "s16_stream_index_maintenance", "s20_stream_view_maintenance",
    "s21_stream_late_accounting", "s22_stream_source_quota",
    "s23_stream_left_outer", "s24_stream_hll_distinct", "s25_stream_cusum_drift",
    "s26_stream_cdc_ingest", "s27_stream_compaction_trigger",
    "s28_stream_hist_quantiles", "s29_stream_edge_maintenance",
    "s30_stream_sequence_packing", "s31_stream_incremental_cc",
    "s32_stream_capped_adjacency", "s33_stream_trained_gate",
    "s34_stream_bpe_census")

  /** All registered operators of the engine. */
  val all: Map[String, QueryDef] = {
    val raw =
      Relational.defs ++ Relational2.defs ++ TextOps.defs ++ VectorOps.defs ++
        EventOps.defs ++ Generated.defs ++ MediaOps.defs ++ StreamOps.defs ++
        SketchOps.defs ++ GraphOps.defs
    val unknown = memoServed.diff(raw.keySet)
    require(unknown.isEmpty, s"memoServed names not registered: $unknown")
    raw.map { case (k, v) => k -> v.withMemo(memoServed(k)) }
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.revenueByNation(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map { case (k, v) => k -> v.fn }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops, and for
    * an oracle whose input is missing — that one is reported on stderr
    * with its reason and fails only its own query. */
  def oracleSql: Map[String, String] =
    all.flatMap { case (k, v) =>
      try v.oracle.map(k -> _)
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[oracle] $k: no oracle SQL: $e")
        None
      }
    }
}

"""Query/oracle registry.

Every operator the engine claims is registered here as a named query
``(spark, sf_dir) -> DataFrame`` together with (when SQL-expressible) a
DuckDB oracle string over the same parquet tables.  The driver's
correctness loop (CORRECTNESS_r{N}.json) and the local test suite both
iterate this registry — an operator without a registry entry does not
exist as far as the gates are concerned.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


class Registry:
    def __init__(self) -> None:
        self.queries: dict[str, QueryFn] = {}
        self.oracles: dict[str, str] = {}
        #: teaching-variant name -> the production twin to run at scale.
        #: Entries here are oracle-exact baselines KNOWN to have a scale
        #: cliff (single-partition window, fixed LSH planes, full-corpus
        #: regex); anything routing production traffic must use the twin.
        self.prod_twins: dict[str, str] = {}

    def query(self, name: str, oracle: str | None = None,
              prod_twin: str | None = None):
        """Decorator registering a query and, optionally, its DuckDB twin.

        Queries with no oracle get the driver's weaker rows-only check;
        keep those to genuinely non-SQL-expressible ops (ML LSH models,
        stateful streaming, pandas-UDF plumbing).

        ``prod_twin`` visibly marks a query as the oracle-exact TEACHING
        variant of a scale-safe production query — e.g. the
        single-partition NTILE form of RFM whose twin is the
        approx-percentile broadcast form.  `api.py query list` prints
        the marker so the non-scalable form can't be mistaken for the
        pattern to copy.
        """

        def deco(fn: QueryFn) -> QueryFn:
            if name in self.queries:
                raise ValueError(f"duplicate query name {name!r}")
            self.queries[name] = fn
            if oracle is not None:
                self.oracles[name] = " ".join(oracle.split())
            if prod_twin is not None:
                self.prod_twins[name] = prod_twin
            return fn

        return deco

    def merge(self, *others: "Registry") -> "Registry":
        for other in others:
            for name, fn in other.queries.items():
                if name in self.queries:
                    raise ValueError(f"duplicate query name {name!r}")
                self.queries[name] = fn
            self.oracles.update(other.oracles)
            self.prod_twins.update(other.prod_twins)
        return self


# Round in which the driver's capped attestation window last PASSed each
# query (hash_match in CORRECTNESS_r{N}.json).  Two jobs:
#
# 1. Membership = DRIVER_PASSED: oracle-backed queries NOT here are
#    never-attested and float to the front of the window (tier 1).
# 2. The round stamp drives the post-coverage ROLLING REGRESSION GATE:
#    with every oracle-backed query attested at least once (235/235
#    after round 5), each round's ~50-slot window re-attests (a) queries
#    whose implementation changed this round (ROUND_TOUCHED below),
#    then (b) the LEAST-recently-attested names — so the full corpus
#    re-proves itself against the DuckDB oracle every ~5 rounds instead
#    of the window re-running an arbitrary fixed 50.
#
# Maintain per round: bump entries that re-attest, add new passes, and
# record implementation changes in ROUND_TOUCHED.
DRIVER_ATTESTED_ROUND: dict[str, int] = {
    # round 1 (CORRECTNESS_r01.json):
    "agg_count_distinct": 7, "agg_cube": 7, "agg_grouping_sets": 7,
    "agg_percentiles": 7, "agg_pivot": 7, "agg_rollup": 7,
    "events_cohort_retention": 1, "events_funnel": 7,
    "events_resample_gapfill": 7, "events_sessionize": 8,
    "filter_pushdown_range": 6, "flagship_revenue": 6, "join_asof":
    7, "join_broadcast_dim": 7, "join_full_outer": 7,
    "join_inner_equi": 6, "join_left_anti": 7, "join_left_outer": 7,
    "join_left_semi": 7, "join_range_binned": 7,
    "join_range_residual": 7, "join_right_outer": 7,
    "join_salted_skew": 7, "join_theta_bnl": 7, "pricing_summary": 6, "sample_deterministic": 7, "set_except": 7, "set_except_all":
    8, "set_intersect": 7, "set_union_all": 7, "set_union_distinct":
    8, "sort_topk": 7, "sql_correlated_subquery": 7,
    "sql_scalar_subquery": 8, "tpch_q10_returned_topk": 1,
    "tpch_q14_promo": 7, "tpch_q18_big_orders": 8,
    "tpch_q3_topk_revenue": 8, "tpch_q4_order_priority": 8,
    "tpch_q5_local_volume": 1, "window_lag_lead": 7,
    "window_nth_first_last": 8, "window_percent_dist": 7,
    "window_range_frame": 8, "window_ranking": 7,
    "window_running_frame": 7,
    # round 2 (CORRECTNESS_r02.json):
    "dedup_containment": 8, "dedup_content_hash": 2,
    "dedup_cross_corpus": 8, "dedup_decontaminate": 2,
    "dedup_embedding_cosine": 2, "dedup_embedding_cosine_scaled": 2,
    "dedup_exact": 2, "dedup_fuzzy_names": 2,
    "dedup_keep_best_quality": 8, "dedup_minhash_lsh": 8,
    "dedup_ngram_jaccard": 8, "dedup_simhash": 8,
    "dedup_simhash_hamming": 8, "mix_weighted_sources": 2,
    "pipeline_prepare_corpus": 2, "text_anonymize_keys": 2,
    "text_chunk_fixed": 2, "text_chunk_overlap": 2,
    "text_fingerprint": 8, "text_gopher_rules": 2, "text_lang_id":
    2, "text_lang_rebalance": 2, "text_normalize": 2,
    "text_pii_redact": 2, "text_quality_score": 2,
    "text_rarity_score": 2, "text_repeated_passages": 2,
    "text_repetition_ratio": 2, "text_scrub_passages": 2,
    "text_source_blocklist": 2, "text_tfidf": 2, "text_token_stats":
    2, "text_top_terms": 2, "text_vocab_unk": 2,
    "tpch_q19_disjunctive": 2, "tpch_q20_excess_shippers": 2,
    "tpch_q21_sole_returned": 2, "tpch_q22_idle_customers": 2,
    "tpch_q2_min_cost_supplier": 2,
    # round 3 (CORRECTNESS_r03.json):
    "agg_histogram_equiwidth": 3, "agg_unpivot": 3,
    "conditional_case_nullif": 3, "events_item_cooccurrence": 8,
    "events_markov_transitions": 3, "events_rfm_segments": 3,
    "flagship_revenue_bucketed": 3, "ingest_jsonl_quarantine": 3,
    "ingest_schema_inference": 3, "ingest_schema_inference_sampled":
    3, "json_extract_props": 3, "json_from_json_struct": 3,
    "mix_temperature_sampled": 3, "multimodal_frame_energy": 6,
    "multimodal_frame_explode": 6, "multimodal_media_features": 6,
    "multimodal_phash_dedup": 8, "multimodal_resize_pool": 7,
    "multimodal_scene_cuts": 6, "multimodal_silence_trim": 6,
    "quality_audit_constraints": 3, "quality_winsorize": 3,
    "scalar_array_funcs": 3, "scalar_bitwise_funcs": 3,
    "scalar_date_funcs": 3, "scalar_hof_funcs": 3,
    "scalar_map_funcs": 3, "scalar_math_funcs": 3,
    "scalar_string_funcs": 3, "scd2_validity_windows": 3,
    "sim_ann_lsh": 3, "sim_ann_multitable": 8, "sim_cosine_topk": 3,
    "sim_dim_stats": 3, "sim_ivf_topk": 8, "sim_label_centroids": 3,
    "sim_lsh_buckets": 3, "sim_topk_incremental": 3,
    "sim_vector_quantize": 3, "sink_merge_upsert": 3,
    "text_code_detect": 3, "text_inverted_index": 3,
    "text_pack_sequences": 3, "tpch_q12_priority_lines": 3,
    "tree_normalize_events": 3, "tree_path_ops": 3,
    "tree_subtree_sizes": 3, "udf_grouped_topn": 3,
    "udf_pandas_scalar": 3, "url_project_id_parse": 3,
    # round 4 (CORRECTNESS_r04.json):
    "agg_countmin_sketch": 4, "agg_heavy_hitters": 4,
    "agg_mode_per_group": 4, "agg_regression_exact": 4,
    "agg_string_agg": 4, "dedup_cross_corpus_cosine": 4,
    "dedup_minhash_estimate_audit": 8, "events_anomaly_mad": 4,
    "events_attribution_linear": 6, "events_funnel_windowed": 4,
    "events_moving_median": 4, "events_rfm_scaled": 4,
    "events_sliding_distinct": 4, "events_top_sequences": 4,
    "ingest_schema_evolution": 4, "join_asof_forward": 4,
    "join_asof_nearest": 4, "join_asof_tolerance": 4,
    "join_bloom_prefilter": 4, "join_shuffle_hash_hint": 4,
    "layout_zorder": 4, "mix_token_budget_select": 4,
    "multimodal_phash_hamming": 8, "quality_benford": 4,
    "quality_column_profile": 4, "quality_drift_chi2": 4,
    "quality_referential_integrity": 4, "quality_skew_report": 4,
    "sample_stratified_topk": 4, "sim_centroid_drift": 4,
    "sim_contrastive_triplets": 4, "sim_dim_truncation_recall": 4,
    "sim_norm_anomaly": 4, "sink_snapshot_diff": 8,
    "stream_daily_active": 4, "stream_stateful_user_totals": 4,
    "stream_stream_join": 4, "stream_window_session": 4,
    "stream_window_sliding": 4, "stream_window_tumbling": 4,
    "text_adaptive_length_filter": 4, "text_bigram_collocations": 4,
    "text_bigram_surprisal": 4, "text_bpe_encode": 8,
    "text_bpe_merges": 8, "text_char_entropy": 6, "text_span_dedup":
    4, "text_span_scrub": 4, "text_surprisal_score": 4,
    "window_streaks": 4,
    # round 5 (CORRECTNESS_r05.json):
    "agg_bitmap_distinct": 5, "agg_entropy_by_group": 6,
    "agg_median_twolevel": 5, "agg_skew_kurtosis_exact": 5,
    "agg_weighted_median": 5, "dedup_minhash_audit_sampled": 8,
    "events_activity_concentration": 5, "events_adoption_curve": 5,
    "events_audience_overlap": 8, "events_bot_rate_gate": 5,
    "events_changepoint_cusum": 5, "events_cohort_ltv": 5,
    "events_dau_wau_stickiness": 5, "events_ewma_daily": 5,
    "events_forecast_backtest": 5, "events_funnel_conversion_time":
    5, "events_seasonality_profile": 5,
    "events_session_gap_histogram": 5, "events_trending_topk": 5,
    "graph_degree_distribution": 8, "graph_triangle_count": 8,
    "join_interval_overlap": 5, "join_scd2_pointintime": 5,
    "layout_compact_small_files": 5, "mix_epoch_repeat_plan": 5,
    "quality_corpus_datasheet": 5, "quality_dup_rate_by_source": 5,
    "quality_ks_test": 5, "quality_label_balance": 5,
    "quality_monotonic_id_audit": 6, "quality_null_completeness": 5,
    "quality_outlier_iqr": 5, "sim_knn_label_vote": 5,
    "sql_exists_not_exists": 5, "stream_bot_alerts": 5,
    "stream_watermark_audit": 5, "text_char_entropy_scaled": 6,
    "text_ngram_novelty": 8, "tpch_q11_value_share": 5,
    "tpch_q13_order_distribution": 5, "tpch_q15_top_supplier": 5,
    "tpch_q16_supplier_variety": 5, "tpch_q17_small_qty_revenue": 5,
    "tpch_q6_forecast": 5, "tpch_q7_volume_shipping": 5,
    "tpch_q8_market_share": 5, "tpch_q9_profit": 5,
    "window_max_drawdown": 5, "window_open_intervals": 5,
    "window_order_gaps": 5,
    # round 6 (CORRECTNESS_r06.json, first attestation):
    "agg_bitmap_distinct_merge": 6, "agg_histogram_equidepth": 6,
    "dedup_cluster_size_profile": 6, "dedup_clusters": 8,
    "dedup_editdist_neighborhood": 8, "dedup_source_overlap": 8,
    "events_attribution_position": 6, "events_diff_in_means": 6,
    "events_markov_stationary": 7, "events_sample_ratio_mismatch": 6,
    "events_survival_table": 6, "events_trend_slope_theilsen": 6,
    "graph_connected_components": 8, "graph_pagerank": 8,
    "ingest_text_log_parse": 7, "layout_partitioned_prune": 6,
    "multimodal_phash_cluster": 8, "quality_candidate_keys": 6,
    "quality_chi2_independence": 6, "quality_psi_drift": 6,
    "quality_split_leakage_audit": 6, "sim_gram_matrix": 6,
    "sim_mmr_diverse_topk": 6, "stream_dim_join": 6, "text_vocab_growth": 8,
    "window_interval_merge": 6, "window_rolling_regression": 6,
    # round 7 (CORRECTNESS_r07.json, first attestation):
    "dedup_editdist_sampled": 8, "dedup_entity_resolution": 7,
    "mix_budget_apportion": 8, "window_order_gaps_twolevel": 7,
    # round 8 (CORRECTNESS_r08.json, first attestation):
    "dedup_containment_prefix": 8, "dedup_entity_clusters": 8,
    "dedup_entity_clusters_sampled": 8, "dedup_entity_resolution_em": 8,
    "dedup_entity_resolution_sampled": 8, "dedup_jaccard_prefix": 8,
    "events_cuped_adjustment": 8, "quality_score_calibration": 8,
    "sample_weighted_reservoir": 8, "text_zipf_slope": 8,
}

DRIVER_PASSED = frozenset(DRIVER_ATTESTED_ROUND)


# Queries whose *implementation* (or oracle) changed in a round AFTER
# their last attestation — these jump to the front of the next driver
# window (regression risk beats staleness).  Cleared per name once the
# window re-attests it (i.e. when its DRIVER_ATTESTED_ROUND catches up).
ROUND_TOUCHED: dict[str, int] = {
    # Round-8 stamps whose names re-attested inside the round-8 window
    # (CORRECTNESS_r08.json) were cleared when DRIVER_ATTESTED_ROUND
    # caught up.  Audit note for future rounds: two of the cleared
    # round-8 labels described rewrites that were MEASURED AND REJECTED
    # at the 100x decade, not applied — events_item_cooccurrence kept
    # its capped self-join and sink_snapshot_diff kept its full-outer
    # SMJ; the round-8 touch on both was docstring-recorded rejection
    # evidence only (commit 58e2772, OPTIMIZATION_r08.md).
    #
    # rows-only audit stamps (window ordering never sees tier-3 names;
    # their correctness pins are the pytest replays, re-run green after
    # each rewrite): xxhash twins ride the round-8 content-keyed scratch
    # reroute; agg_approx_quantile_audit moved to array-form percentile
    # accumulators; dedup_semantic_kmeans to in-row argmin assignment.
    "dedup_cross_corpus_xxhash": 8,
    "dedup_minhash_xxhash": 8,
    "agg_approx_quantile_audit": 8,
    "dedup_semantic_kmeans": 8,
    # round 9 OPTIMIZATION pass — results identical (full oracle loop
    # re-run after every change), plans changed:
    # graph_pagerank: single-task int64 fixed-point kernel for
    # <= 1M-edge graphs (the min_label_components two-regime
    # discipline); distributed loop kept for scale.
    "graph_pagerank": 9,
    # events_audience_overlap: NULL-user baskets emit size markers
    # only, never intersection pairs (ADVICE r8 latent divergence —
    # matches the oracle's NULL-blind self-join; pinned by
    # test_audience_overlap_null_users).
    "events_audience_overlap": 9,
    # rows-only audit stamp (tier 3 — window ordering never sees it;
    # pins are the test_plans twin-identity + cap-determinism tests):
    # dedup_cross_corpus_cosine_arrow — deterministic per-bucket
    # candidate cap (VERDICT r8 item 7).
    "dedup_cross_corpus_cosine_arrow": 9,
    # round 8, MISSED STAMP repaired in round 9 (VERDICT r8 item 5):
    # commit ac23ea4 memoized the (c_name, nat, seg) attribute relation
    # consumed by dedup_entity_resolution's scorer — its plan changed
    # after its round-7 attestation but the stamp was forgotten, so it
    # never jumped the round-8 window.  The other ac23ea4 consumers
    # (sampled scorer, EM fit, both closures) DID re-attest in r8.
    "dedup_entity_resolution": 8,
}


# Oracle-backed queries that have NEVER been inside a driver window.
# Empty since round 5 (CORRECTNESS_r05 closed the last 17); kept as a
# constant because the lints in tests/test_oracle.py pin the window
# head to it whenever it is non-empty.  If a future round adds more
# oracle-backed queries than fit the window, repoint this at the
# overflow.
ATTEST_BACKLOG = frozenset()


# Registration order is driver-visible: the correctness loop walks
# ``queries()`` in insertion order and caps how many it attests per
# round (~50).  ``build_registry`` orders: (0) the never-attested
# backlog; (1) other never-attested oracle-backed queries (new this
# round); (2) already-attested queries — implementation-touched first,
# then least-recently-attested (the rolling regression gate); (3)
# rows-only queries, which only get the weaker row-count check.
QUERY_MODULES = (
    "firebase_realtime_database_backup_spark.operators.tpch",
    "firebase_realtime_database_backup_spark.operators.dedup",
    "firebase_realtime_database_backup_spark.operators.text",
    "firebase_realtime_database_backup_spark.operators.similarity",
    "firebase_realtime_database_backup_spark.functions.scalar",
    "firebase_realtime_database_backup_spark.operators.multimodal",
    "firebase_realtime_database_backup_spark.sources.ingest",
    "firebase_realtime_database_backup_spark.operators.relational",
    "firebase_realtime_database_backup_spark.streaming.windows",
    "firebase_realtime_database_backup_spark.streaming.stateful",
)


def build_registry(warn=None) -> "Registry":
    """Assemble the full engine registry from every query module.

    ``warn`` is called with a message per module that fails to import —
    degrade to the queries that do load, but NEVER silently: a missing
    module would otherwise just shrink the correctness surface without
    a trace."""
    merged = Registry()
    for modname in QUERY_MODULES:
        try:
            mod = __import__(modname, fromlist=["REG"])
            merged.merge(mod.REG)
        except ImportError as exc:
            if warn is not None:
                warn(f"query module {modname} failed to import: {exc}")
    # Stable re-order (module priority preserved within each tier):
    # oracle-backed never-driver-passed first, then oracle-backed
    # already-passed, then rows-only.
    reg = Registry()
    reg.prod_twins.update(merged.prod_twins)

    def order_key(item):
        name, _ = item
        idx = insertion.get(name, 0)
        if name not in merged.oracles:
            return (3, 0, 0, idx)            # rows-only: last, stable
        if name not in DRIVER_PASSED:
            if name in ATTEST_BACKLOG:
                return (0, 0, 0, idx)        # never-attested backlog
            return (1, 0, 0, idx)            # other never-attested
        # Rolling regression gate over the attested corpus:
        # round-touched queries first (newest touch first), then
        # least-recently-attested.
        touched = ROUND_TOUCHED.get(name, 0)
        attested = DRIVER_ATTESTED_ROUND[name]
        if touched > attested:
            return (2, 0, -touched, idx)
        return (2, 1, attested, idx)

    insertion = {name: i for i, name in enumerate(merged.queries)}
    for name, fn in sorted(merged.queries.items(), key=order_key):
        reg.queries[name] = fn
        if name in merged.oracles:
            reg.oracles[name] = merged.oracles[name]
    return reg

"""Query registry: every operator from SURVEY.md §2 as a named query.

Each query is a ``(spark, sf_dir) -> DataFrame`` callable plus (when the
semantics are ANSI-SQL-expressible) a DuckDB oracle SQL string over the same
parquet tables. The driver harness (``__spark_entry__.py``) runs both and
compares row count + schema + order-insensitive value hash, so:

- alias every computed column identically in both,
- aggregate doubles through decimal (functions.numeric) for order
  independence,
- never emit a value that depends on non-deterministic order (bare
  first/last, ties in window ORDER BY, limits without a total order).
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

REGISTRY: "dict[str, Query]" = {}

_MODULES = (
    "relational",
    "tpch",
    "aggregates",
    "windows",
    "setops",
    "scalar_funcs",
    "llm_text",
    "llm_dedup",
    "llm_vectors",
    "llm_multimodal",
    "llm_sampling",
    "llm_curation",
    "llm_scoring",
    "engine4",
    "udfs",
    "streaming_batch",
    "replication_pipeline",
    "sources_sinks",
    "analytics_ext",
    "analytics_ext2",
    "analytics_ext3",
    "analytics_ext4",
    "analytics_ext5",
)

# Presentation order for the registry. The external correctness harness
# samples a fixed-size (50-row) prefix of the registry each round, so the
# prefix rotates to whatever most needs a fresh CORRECTNESS row:
#
#   1. queries whose IMPLEMENTATION was rewritten since their last driver
#      row (``_RESAMPLE_FIRST``) — a rewrite invalidates the old row's
#      evidence, so it outranks mere staleness (r12 verdict item 1: 12 of
#      13 r12-rewritten query paths had only builder-side oracle evidence
#      because the stalest-first window happened not to contain them);
#   2. never-sampled oracle-bearing queries (none remain as of r11 —
#      every oracle-bearing query, 307/307, has a green driver row);
#   3. re-samples, STALEST FIRST — ordered by the round in which each
#      query last received a driver row (``_LAST_SAMPLED_ROUND``, the
#      union of CORRECTNESS_r01..r13.json), then family order. A static
#      prefix would re-verify the same 50 queries forever while r1-era
#      rows age; stalest-first keeps every row's latest verification
#      recent as rounds accumulate.
#
# Queries added in r12 or later must arrive "defer-sample"-tagged for one
# round (they sort to the very back until the tag is dropped, after which
# they lead the window as never-sampled).

# Oracle-bearing queries whose implementation changed after their last
# driver CORRECTNESS row: they lead the next sample window so the driver
# re-verifies the NEW implementation (builder-side qtime --oracle runs
# cover them meanwhile, but driver ground truth is the gate). Drop a name
# from this tuple once the corresponding CORRECTNESS_rNN row lands green
# and its _LAST_SAMPLED_ROUND entry is bumped. Order within the tuple =
# order in the window.
_RESAMPLE_FIRST: "tuple[str, ...]" = (
    # rebuilt on the single replication transform (on_error argument)
    # and the shared registry propagation of plan_replication:
    "replication_dlq_routing",
    "replication_batch_roundtrip",
    "replication_stream_roundtrip",
    # r13: scans rebalanced (catalog.load_table rebalance_on=) with no
    # driver row since:
    "agg_corr",
    "agg_count_distinct",
    "agg_moment_stats",
    "agg_multiple_regression",
    "agg_pricing_summary",
    "agg_regression",
    "agg_skew_kurtosis",
    "dedup_contamination_check",
    # dedup_semantic_prune was rebalanced too but is rows-only (no
    # oracle), so a window slot cannot produce a hash row for it.
    "text_boilerplate_coverage",
    "vec_label_centroid_classify",
)
_LAST_SAMPLED_ROUND: "dict[str, int]" = {
    # --- last sampled in round 1 ---
    "fn_hash_spark_native": 1,
    # --- last sampled in round 3 ---
    "sort_partition_local": 3,
    # --- last sampled in round 4 ---
    "agg_approx_count_distinct": 4,
    # --- last sampled in round 5 ---
    "dedup_embedding_cosine": 5,
    "dedup_exact": 5,
    "dedup_exact_keep_first": 5,
    "dedup_simhash": 5,
    "pipeline_corpus_curation": 5,
    "sample_hash_fraction": 5,
    "sample_stratified_rates": 5,
    "split_train_val_test": 5,
    "text_bpe_token_count": 5,
    "text_langid_eval": 5,
    "text_pii_redaction": 5,
    "udf_apply_in_pandas": 5,
    "udf_grouped_agg_pandas": 5,
    "udf_pandas_cosine": 5,
    "udf_scalar_python": 5,
    "udf_udtf_words": 5,
    "vec_cosine_pairs_exact": 5,
    "vec_knn_query": 5,
    "vec_norms": 5,
    # --- last sampled in round 6 ---
    "agg_boolean_median": 6,
    "agg_entropy": 6,
    "agg_histogram_buckets": 6,
    "agg_histogram_equidepth": 6,
    "agg_regression": 6,
    "agg_winsorized_mean": 6,
    "mm_audio_downsample": 6,
    "mm_audio_features": 6,
    "mm_frame_dedup": 6,
    "mm_video_frame_stats": 6,
    "sort_global_range": 6,
    "tpch_q11_important_stock": 6,
    "tpch_q16_part_supplier_relationship": 6,
    "tpch_q20_potential_promotion": 6,
    "tpch_q21_waiting_suppliers": 6,
    "tpch_q2_min_cost_supplier": 6,
    "tpch_q9_product_type_profit": 6,
    "win_nth_value": 6,
    # --- last sampled in round 7 ---
    "agg_bitmap_distinct": 7,
    "agg_mode_deterministic": 7,
    "dedup_line_rewrite": 7,
    "fn_aes_roundtrip": 7,
    "fn_array_setops": 7,
    "fn_bitwise": 7,
    "fn_datetime_extra": 7,
    "fn_datetime_make": 7,
    "fn_encode_decode": 7,
    "fn_json_tuple": 7,
    "fn_map_explode": 7,
    "fn_map_higher_order": 7,
    "fn_null_semantics": 7,
    "fn_string_extra": 7,
    "fn_struct_ops": 7,
    "fn_to_json": 7,
    "fn_try_arithmetic": 7,
    "fn_url_parse": 7,
    "graph_clustering_coefficient": 7,
    "graph_degree_stats": 7,
    "graph_triangle_count": 7,
    "join_fuzzy_name_match": 7,
    "rag_chunk_overlap": 7,
    "sample_domain_mixture": 7,
    "sample_reservoir_per_group": 7,
    "sink_scd2_dimension": 7,
    "sink_zorder_layout": 7,
    "source_parquet_merge_schema": 7,
    "source_python_datasource": 7,
    "source_xml_roundtrip": 7,
    "stat_crosstab": 7,
    "text_char_entropy": 7,
    "text_collocations_pmi": 7,
    "text_gopher_quality_gate": 7,
    "text_rare_token_ratio": 7,
    "ts_ewma_per_user": 7,
    "ts_zscore_anomaly": 7,
    "udf_apply_in_arrow": 7,
    "udf_map_in_arrow": 7,
    "vec_lsh_pairs": 7,
    "vec_matryoshka_recall": 7,
    "vec_quantize_int8": 7,
    "vec_two_stage_rerank": 7,
    # --- last sampled in round 8 ---
    "agg_approx_top_k": 8,
    "agg_generalized_means": 8,
    "agg_incremental_refresh": 8,
    "agg_listagg_top_names": 8,
    "agg_multiple_regression": 8,
    "agg_weighted_median": 8,
    "events_ab_test_lift": 8,
    "events_cumulative_users": 8,
    "events_dow_hour_heatmap": 8,
    "events_funnel_windowed": 8,
    "events_inter_arrival_stats": 8,
    "events_top_paths": 8,
    "graph_bipartite_copurchase": 8,
    "join_asof_tolerance": 8,
    "join_interval_overlap": 8,
    "join_null_safe_eq": 8,
    "join_scd2_point_in_time": 8,
    "mm_image_phash_dedup": 8,
    "sample_weighted_priority": 8,
    "setop_union_by_name": 8,
    "source_avro_container": 8,
    "sql_cache_table": 8,
    "sql_distribute_sort_by": 8,
    "sql_not_in_null_aware": 8,
    "sql_order_by_all": 8,
    "sql_pivot_clause": 8,
    "sql_unpivot_clause": 8,
    "stat_chi2_independence": 8,
    "stat_ks_test": 8,
    "stat_welch_ttest": 8,
    "stream_dynamic_session_window": 8,
    "text_keyword_topk": 8,
    "text_length_gini": 8,
    "text_ngram_topk": 8,
    "text_readability": 8,
    "text_zipf_fit": 8,
    "ts_autocorrelation": 8,
    "ts_cusum_drift": 8,
    "ts_hampel_outliers": 8,
    "ts_holt_linear": 8,
    "ts_linear_interpolate": 8,
    "ts_max_drawdown": 8,
    "ts_rolling_median": 8,
    "ts_seasonal_baseline": 8,
    "vec_hamming_topk": 8,
    "vec_pair_distance_histogram": 8,
    "win_time_range_frame": 8,
    # --- last sampled in round 9 ---
    "cdc_snapshot_diff": 9,
    "dq_expectations": 9,
    "dq_k_anonymity": 9,
    "events_survival_km": 9,
    "fn_array": 9,
    "fn_json_from_json": 9,
    "fn_map": 9,
    "fn_math": 9,
    "graph_kcore_peel_rounds": 9,
    "graph_labelprop_min_rounds": 9,
    "mba_association_rules": 9,
    "mm_audio_vad_segments": 9,
    "mm_image_histogram_dedup": 9,
    "pareto_frontier_parts": 9,
    "profile_table_columns": 9,
    "sample_weighted_reservoir": 9,
    "sketch_bottomk_verified": 9,
    "sketch_cms_verified": 9,
    "sketch_hll_verified": 9,
    "source_time_travel": 9,
    "stat_benford_law": 9,
    "stat_cuped_adjusted": 9,
    "stat_diff_in_diff": 9,
    "stat_mannwhitney_u": 9,
    "stat_psi_drift": 9,
    "stat_qq_deciles": 9,
    "stat_theil_sen_trend": 9,
    "ts_snaive_backtest": 9,
    # --- last sampled in round 10 ---
    "ml_kmeans_fixed_point": 10,
    "vec_ivf_verified": 10,
    "vec_mmr_fixed_steps": 10,
    "vec_pq_adc_verified": 10,
    # --- last sampled in round 11 ---
    "agg_observe_metrics": 11,
    "dedup_contamination_check": 11,
    "dedup_incremental_batch": 11,
    "dedup_span_rewrite": 11,
    "dedup_url_canonical": 11,
    "events_activity_streaks": 11,
    "events_attribution_last_touch": 11,
    "events_cohort_retention": 11,
    "events_dau_wau_mau": 11,
    "events_funnel_conversion": 11,
    "events_markov_transitions": 11,
    "events_pattern_regex": 11,
    "events_rfm_segmentation": 11,
    "events_sessionize_batch": 11,
    "events_time_to_convert": 11,
    "fn_collation_lcase": 11,
    "fn_lateral_column_alias": 11,
    "fn_variant_json": 11,
    "join_runtime_bloom_filter": 11,
    "pack_sequences_chunks": 11,
    "pipeline_filter_funnel": 11,
    "replication_batch_roundtrip": 11,
    "replication_dlq_routing": 11,
    "replication_evolved_consumer": 11,
    "replication_stream_roundtrip": 11,
    "sample_language_temperature": 11,
    "sample_token_budget": 11,
    "shuffle_shard_assign": 11,
    "sql_group_by_all_offset": 11,
    "sql_language_udf": 11,
    "sql_parameterized_identifier": 11,
    "sql_pipe_syntax": 11,
    "sql_recursive_month_series": 11,
    "sql_session_variables": 11,
    "stream_dedup_keyed": 11,
    "stream_session_window": 11,
    "stream_sliding_window": 11,
    "stream_tumbling_window": 11,
    "text_boilerplate_coverage": 11,
    "text_bpe_encode_verified": 11,
    "text_lm_perplexity": 11,
    "tpch_q3_shipping_priority": 11,
    "ts_resample_gapfill": 11,
    "ts_rollup_hierarchy": 11,
    "udf_udtf_table_arg": 11,
    "vec_ann_recall_verified": 11,
    "vec_label_centroid_classify": 11,
    "vec_random_projection": 11,
    # --- last sampled in round 12 ---
    "agg_arg_minmax": 12,
    "agg_collect_sorted": 12,
    "agg_conditional": 12,
    "agg_corr": 12,
    "agg_count_distinct": 12,
    "agg_cube": 12,
    "agg_distinct_rows": 12,
    "agg_grouping_sets": 12,
    "agg_minmax": 12,
    "agg_moment_stats": 12,
    "agg_percentiles": 12,
    "agg_pivot": 12,
    "agg_pricing_summary": 12,
    "agg_rollup": 12,
    "agg_skew_kurtosis": 12,
    "fn_datetime": 12,
    "fn_explode_posexplode": 12,
    "fn_hash": 12,
    "fn_json": 12,
    "fn_string_basic": 12,
    "fn_string_regex_split": 12,
    "setop_except": 12,
    "setop_except_all": 12,
    "setop_intersect": 12,
    "setop_intersect_all": 12,
    "setop_union_all": 12,
    "setop_union_distinct": 12,
    "sort_topk_global": 12,
    "sql_scalar_subquery": 12,
    "tpch_q10_returned_items": 12,
    "tpch_q12_late_shipments": 12,
    "tpch_q13_customer_distribution": 12,
    "tpch_q14_promo_revenue": 12,
    "tpch_q15_top_supplier": 12,
    "tpch_q17_small_quantity_revenue": 12,
    "tpch_q18_large_volume_customer": 12,
    "tpch_q19_discounted_revenue": 12,
    "tpch_q22_idle_customers": 12,
    "tpch_q4_order_priority": 12,
    "tpch_q6_forecast_revenue": 12,
    "tpch_q7_volume_shipping": 12,
    "tpch_q8_market_share": 12,
    "win_distribution": 12,
    "win_first_last_value": 12,
    "win_lag_lead": 12,
    "win_moving_avg": 12,
    "win_range_frame": 12,
    "win_rank_customers": 12,
    "win_running_sum": 12,
    "win_topk_per_group": 12,
    # --- last sampled in round 13 ---
    "agg_grouping_id": 13,
    "agg_unpivot": 13,
    "conditional_expressions": 13,
    "dedup_cluster_representatives": 13,
    "dedup_clusters": 13,
    "dedup_minhash_banded": 13,
    "dedup_ngram_jaccard": 13,
    "filter_predicates": 13,
    "flagship_revenue_by_nation": 13,
    "graph_common_neighbors": 13,
    "graph_pagerank_fixed_point": 13,
    "join_anti": 13,
    "join_asof_click_view": 13,
    "join_bucketed_colocated": 13,
    "join_cross": 13,
    "join_full_outer": 13,
    "join_left_outer": 13,
    "join_range_bands": 13,
    "join_right_outer": 13,
    "join_salted_skew": 13,
    "join_semi": 13,
    "join_shuffle_hash": 13,
    "join_theta_ship_after_order": 13,
    "ml_als_fixed_point": 13,
    "mm_binary_metadata": 13,
    "mm_decode_features": 13,
    "mm_frame_sample": 13,
    "mm_resize_batch": 13,
    "pipeline_pretraining_batch": 13,
    "proj_computed_columns": 13,
    "sink_parquet_clustered": 13,
    "sink_parquet_partitioned": 13,
    "sink_upsert_merge": 13,
    "source_binaryfile": 13,
    "source_csv_roundtrip": 13,
    "source_json_roundtrip": 13,
    "source_orc_roundtrip": 13,
    "source_text_lines": 13,
    "sql_cte_text_entry": 13,
    "sql_exists_subquery": 13,
    "sql_lateral_topn": 13,
    "stat_bootstrap_poisson_ci": 13,
    "text_fingerprint": 13,
    "text_lang_id": 13,
    "text_quality_score": 13,
    "text_repetition_metrics": 13,
    "text_shingle_stats": 13,
    "text_tfidf": 13,
    "text_tokenize_stats": 13,
    "ts_mad_anomaly": 13,
}
_DRIVER_SAMPLED = frozenset(_LAST_SAMPLED_ROUND)
_FAMILY_ORDER = (
    "replication_pipeline",
    "llm_curation",
    "llm_scoring",
    "engine4",
    "streaming_batch",
    "tpch",
    "llm_multimodal",
    "aggregates",
    "windows",
    "scalar_funcs",
    "sources_sinks",
    "llm_text",
    "llm_dedup",
    "llm_vectors",
    "llm_sampling",
    "udfs",
    "relational",
    "setops",
)

_loaded = False


@dataclass
class Query:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


def query(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator registering a query under ``name``."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        if isinstance(tags, str):
            # tags=("stats") is a parenthesized str, not a 1-tuple; tuple()
            # would silently explode it into character tags.
            raise TypeError(f"{name}: tags must be a tuple, got str {tags!r}")
        REGISTRY[name] = Query(name, fn, oracle, tuple(tags), fn.__doc__ or "")
        return fn

    return deco


def all_queries() -> "dict[str, Query]":
    global _loaded
    if not _loaded:
        for mod in _MODULES:
            importlib.import_module(f"{__name__}.{mod}")
        _ordered = _presentation_order(REGISTRY)
        REGISTRY.clear()
        REGISTRY.update(_ordered)
        _loaded = True
    return REGISTRY


def _presentation_order(registry: "dict[str, Query]") -> "dict[str, Query]":
    reg_index = {name: i for i, name in enumerate(registry)}
    prefix = f"{__name__}."
    family_rank = {m: i for i, m in enumerate(_FAMILY_ORDER)}

    resample_rank = {n: i for i, n in enumerate(_RESAMPLE_FIRST)}

    def key(item: "tuple[str, Query]"):
        name, q = item
        family = q.fn.__module__.removeprefix(prefix)
        # defer-sample additions sort to the very back (they must not
        # displace anything until their tag is dropped next round);
        # sampled queries rotate stalest-first; never-sampled lead
        # (last_round 0 — which is also exactly the "unsampled,
        # non-deferred" set, so last_round alone orders all three
        # classes and no separate boolean key can drift out of sync
        # with it). Rewritten-since-last-row queries (_RESAMPLE_FIRST)
        # outrank everything: their existing driver row verifies an
        # implementation that no longer exists.
        last_round = (
            999 if "defer-sample" in q.tags
            else _LAST_SAMPLED_ROUND.get(name, 0)
        )
        return (
            q.oracle is None,  # oracle-bearing first
            resample_rank.get(name, len(resample_rank)),
            last_round,
            family_rank.get(family, len(family_rank)),
            reg_index[name],
        )

    return dict(sorted(registry.items(), key=key))

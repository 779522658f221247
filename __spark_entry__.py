"""Driver contract for the spark-graft builder (PySpark target).

Thin wrapper over the machine_telemetry_etl_ml_pipeline_spark.registry
package: every implemented operator from SURVEY.md §2 is registered
there as a (spark_builder, duckdb_oracle_sql) pair.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from machine_telemetry_etl_ml_pipeline_spark.registry import REGISTRY  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: latest-per-key dedup
    over events (the reference's signature DISTINCT ON idiom,
    /root/reference/project/db.py:237-246) — scan -> shuffle -> window
    -> filter, the engine's spine."""
    return REGISTRY["ref_latest_per_key"].fn(spark, "/root/testdata/sf0.001")


# The order queries() returns, which is the order the driver reads. Its
# correctness gate verifies a ~50-entry prefix per round, so the list
# rotates: (1) entries whose implementation changed since their last
# green driver row queue first; (2) new registrations queue next; (3)
# the window fills with the entries holding the oldest driver rows,
# oldest first. Every registered name appears exactly once
# (tests/test_contract.py); ml_model_exact_scoring registers only where
# the reference model blobs exist.
QUERY_ORDER = (
    "graph_k_core", "graph_triangle_count", "llm_semdedup_prune_scaled",
    "llm_pack_sequences", "ext_equiheight_histogram", "ml_mann_whitney_u",
    "ext_dynamic_partition_pruning", "graph_clustering_coefficient",
    "graph_degree_assortativity", "llm_minhash_band_tuning", "ml_learning_curve",
    "ext_range_join", "ext_observation_metrics", "ml_string_indexer",
    "ml_churn_labels_point_in_time", "llm_dedup_components", "graph_pagerank",
    "graph_common_neighbors", "ml_als_recommend",
    "ext_manifest_pruned_scan",
    "ext_compact_small_files", "ext_dynamic_partition_overwrite",
    "ext_source_csv_corrupt", "ext_source_orc",
    "ext_merge_upsert", "ext_source_jsonl", "ref_sink_batch_insert",
    "ref_sink_insert_defaults", "ref_sink_insert_json", "ref_ddl_create_table",
    "ext_snapshot_time_travel", "ext_source_xml", "ext_metadata_columns",
    "ext_source_binaryfile", "ext_merge_schema_evolution", "ext_source_text",
    "ext_variant_roundtrip",
    "stream_foreach_batch_sink", "stream_stream_join", "stream_session_counts",
    "stream_sliding_counts", "stream_static_join", "stream_dedup_within_watermark",
    "stream_tumbling_counts", "stream_update_mode_upsert",
    "stream_stateful_user_stats", "stream_topk_update_mode",
    "stream_stream_join_outer", "stream_checkpoint_resume",
    "stream_chained_window_agg", "stream_foreach_batch_idempotent",
    "stream_python_datasource", "stream_session_dynamic_gap",
    "stream_stream_join_full_outer",
    "llm_segment_dedup", "ext_salted_join", "llm_lsh_candidate_pairs",
    "llm_minhash_jaccard_estimate", "llm_dedup_keep_best", "llm_dedup_cluster_sizes",
    "llm_embedding_neardup_scaled", "graph_label_propagation", "graph_bfs_distances",
    "ml_random_forest_vote",
    "llm_keyword_rake", "ml_gbt_stumps",
    "ml_naive_bayes_sql", "ext_intersect_all", "ext_except_all",
    "ext_collect_list_ordered", "ext_approx_top_k", "ext_window_time_range_frame",
    "llm_ann_bucket_counts",
    "llm_fingerprint", "llm_scrub_text", "llm_repetition_stats", "tpch_q6", "tpch_q8",
    "tpch_q9", "tpch_q17", "ext_approx_count_distinct", "ext_bucketed_join_colocated",
    "ext_incremental_rollup", "ext_salted_agg", "tpch_q2", "tpch_q5", "tpch_q7",
    "tpch_q10", "tpch_q11", "tpch_q12", "tpch_q13", "tpch_q15", "tpch_q16", "tpch_q18",
    "tpch_q19", "tpch_q20", "tpch_q21", "tpch_q22",
    "llm_source_mix", "llm_quality_filter_by_lang", "llm_decontaminate",
    "llm_unigram_logprob", "llm_dedup_keep_first", "llm_chunk_documents",
    "llm_train_test_split", "ext_recursive_cte", "ext_variant_json", "ext_sql_udf",
    "udf_python_udtf",
    "ext_funnel_conversion",
    "ext_cohort_retention", "ext_gap_islands", "ext_scd2_history",
    "ext_session_dynamic_gap", "llm_tfidf_topk_terms", "llm_winnowing_fingerprints",
    "ext_join_left_order_counts", "ext_join_semi", "ext_join_anti", "ext_join_theta",
    "ext_union_all", "ext_union_distinct", "ext_intersect", "ext_except", "ext_rollup",
    "ext_cube", "ext_window_rank", "ext_window_lag_lead", "ext_percentiles",
    "ext_max_by", "ext_scalar_string", "ext_scalar_date", "ext_explode_wordcount",
    "ext_json_extract", "ext_tumbling_window", "ext_sliding_window",
    "ext_session_windows", "ext_scalar_math", "ext_window_running", "tpch_q4",
    "tpch_q14", "llm_dedup_exact_stats", "llm_minhash_signatures", "llm_ngram_jaccard",
    "llm_simhash", "llm_cosine_topk", "llm_ann_lsh_topk", "llm_ann_multiprobe_topk",
    "llm_embedding_neardup", "llm_language_id", "llm_token_counts", "llm_quality_score",
    "llm_pipeline_end_to_end", "llm_multimodal_pack", "ext_scalar_subquery",
    "ext_correlated_subquery", "ext_in_subquery", "udf_pandas_scalar",
    "udf_apply_in_pandas", "udf_python_row", "ext_window_distribution",
    "ext_window_first_last", "ext_window_range_frame", "ext_array_functions",
    "ext_map_functions", "ext_regexp_functions", "ext_date_format", "ext_pivot",
    "ext_unpivot", "ext_grouping_sets", "ext_string_agg", "ext_corr_covar",
    "ext_union_missing_cols", "ext_join_revenue_by_nation",
    "ml_kmeans_anomaly", "ml_gbt_regression_eval", "ml_gbt_classifier_eval",
    "llm_embedding_truncate", "llm_inverted_index",
    "ext_data_profile", "ext_sample_stratified_exact", "ext_python_datasource",
    "ext_gap_fill_ffill", "ext_rolling_median", "ext_histogram",
    "ml_linear_regression_sql", "ext_fuzzy_levenshtein", "llm_multimodal_framesample",
    "ext_scd2_point_in_time_join", "ext_try_arithmetic", "llm_novel_ngram_ratio",
    "ext_window_distinct_count", "ext_group_by_all",
    "ext_sql_unpivot_native", "llm_bm25_score",
    "llm_ann_ivf_recall", "udf_map_in_arrow",
    "llm_simhash_hamming_pairs", "ext_join_right", "ext_join_full_outer",
    "ext_join_hinted", "ext_time_rollup", "ext_not_in_subquery",
    "ext_lateral_join", "ext_percentile_approx_check", "ref_scan_count",
    "ref_projection_rename", "ref_null_fill", "ref_filter_eq", "ref_filter_range",
    "ref_filter_ilike", "ref_filter_bounds", "ref_latest_n", "ref_range_scan",
    "ref_latest_per_key", "ref_top_k_highest_value", "ref_top_k_lowest_value",
    "ref_nulls_last_sort", "ref_distinct_sorted", "ref_stats_global",
    "ref_stats_filtered", "ref_count_distinct", "ref_grouped_comparison",
    "ref_time_features", "ref_label_encoding", "ref_table_counts",
    "ref_zscore_standardize", "ext_asof_join",
    "tpch_q1", "tpch_q3",
    "ref_surrogate_ids", "ext_distinct_subset", "ext_sample",
    "ext_posexplode", "ext_month_boundaries",
    "ext_higher_order_funcs", "ext_sample_stratified",
    "llm_bigram_logprob", "llm_knn_label_accuracy", "ext_sql_tvf",
    "ext_parameterized_sql", "llm_length_bands_by_source", "ext_grouped_zscore",
    "llm_corpus_dashboard", "llm_oov_rate_by_source", "ext_dq_rule_report",
    "llm_jaccard_histogram", "ext_topn_other", "ext_time_weighted_avg",
    "ext_sessionized_funnel", "ext_benford_screen", "ext_grouping_id",
    "ext_attribution_first_touch", "ext_percent_change_wow",
    "ext_running_distinct_users", "ext_json_nested_roundtrip", "ext_skew_metrics",
    "llm_boilerplate_prefix", "ext_mad_outliers", "ext_ewma_smoothing", "ext_crosstab",
    "ml_chi_square_assoc", "ml_fpgrowth_itemsets",
    "llm_ngram_containment", "llm_char_entropy",
    "llm_source_temperature_mix", "ext_asof_join_forward", "ext_grouped_median",
    "ext_decimal_exact", "ext_bitwise_agg", "ext_null_semantics",
    "ext_lateral_view_sql", "ext_hll_sketch_merge",
    "llm_ann_filtered_topk",
    "llm_vocab_coverage",
    "llm_bpe_merge_step", "llm_quota_sample_by_source",
    "ext_shard_balance_report", "llm_embedding_norm_stats", "llm_zipf_topk_terms",
    "ext_sql_pipe_syntax", "ext_collation_ci", "ext_autocorrelation",
    "ml_logistic_regression_gd", "llm_url_domain_stats", "ml_kmeans_lloyd",
    "ext_conditional_reset_cumsum", "ml_decision_stump", "ext_lateral_column_alias",
    "llm_semdedup_prune", "llm_multimodal_audio_energy", "ext_incremental_join_view",
    "ml_pca_power_iteration", "ml_confusion_matrix",
    "ext_identifier_clause", "ml_decision_tree_depth2",
    "ml_roc_auc", "ml_calibration_bins", "ml_ridge_regression_normal_eq",
    "ext_bloom_prefilter_join", "llm_weighted_sample", "llm_hashed_features",
    "ml_ks_drift", "ml_psi_drift_bins", "ml_ndcg_at_k", "ext_count_min_sketch",
    "ext_interval_merge", "ml_spearman_corr", "ml_lift_gains",
    "ext_holt_linear", "ml_ab_ztest_conversion",
    "ml_welch_ttest", "ext_cusum_changepoint",
    "ext_session_variables", "ext_execute_immediate", "ext_sql_scripting",
    "ext_sql_scripting_loop", "ext_aqe_skew_join",
    "ml_kaplan_meier", "ext_skyline_pareto", "ext_seasonal_dow_index",
    "ext_offset_clause", "ext_union_by_name", "ext_asof_join_nearest",
    "ext_mode_aggregate", "ml_quantile_pinball_eval", "ml_isotonic_regression",
    "ext_snapshot_diff_cdc", "llm_bpe_merge_iterate", "ml_ols_inference",
    "ext_approx_top_k_sketch_merge",
    "ext_map_higher_order", "ml_subsample_ci",
    "ext_asof_join_tolerance", "ml_gini_lorenz", "ml_text_classifier_e2e",
    "ml_markov_transition_matrix", "ml_mutual_information",
    "ext_sequence_pattern_vshape", "ext_resample_ohlc", "ext_interpolate_linear",
    "ml_average_precision", "ml_cohens_kappa", "ml_cramers_v", "ext_table_checksum",
    "ext_bitmap_distinct", "ext_bollinger_bands", "llm_url_canonicalize",
    "ml_kendall_tau", "ml_theil_sen_slope", "ext_zorder_cluster", "llm_code_detect",
    "llm_embedding_outliers", "ext_rfm_segmentation", "ext_abc_classification",
    "ml_anova_oneway", "ml_matthews_corrcoef", "ml_brier_score", "graph_weighted_sssp",
    "ml_gmm_em_1d", "ml_hmm_forward", "llm_mmr_rerank", "llm_readability_flesch",
    "llm_langid_confusion",
    "ml_target_encoding_loo", "llm_span_corruption",
    "llm_tokenizer_fertility", "ml_diff_in_diff",
    "ml_cuped_adjustment", "ml_mcnemar_test", "llm_crosslingual_ngram_overlap",
    "ml_sprt_stopping", "ml_winsorized_mean", "ext_interarrival_stats",
    "llm_preference_pairs", "ext_entity_blocking_fuzzy", "ext_holt_winters_seasonal",
    "ml_item_item_cosine", "llm_token_budget_fill", "ext_interval_arithmetic",
    "ext_approx_quantile_sketch_merge",
    "ml_model_exact_scoring", "ml_kfold_cv",
    "ml_conformal_interval", "llm_sequence_packing", "ml_rolling_origin_backtest",
    "llm_multimodal_decode", "llm_chunk_dedup_stats", "llm_embedding_centroids",
    "llm_nearest_centroid_accuracy", "llm_vector_quantize", "udf_arrow_optimized",
    "udf_pandas_iter", "udf_map_in_pandas",
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: REGISTRY[name].fn for name in QUERY_ORDER if name in REGISTRY}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL per query; omitted entries get the
    driver's weaker rows-only check."""
    return {
        name: REGISTRY[name].oracle
        for name in QUERY_ORDER
        if name in REGISTRY and REGISTRY[name].oracle is not None
    }

"""The driver-facing registry is pinned: the query names in the order
``__spark_entry__.queries()`` returns them, and a digest of every oracle
SQL text. A change that renames, reorders, adds or drops a query, or
edits an oracle, fails here and has to update the pin on purpose.

To re-pin after an intended change, print the two values with
``list(__spark_entry__.queries())`` and ``oracle_digest()``."""

from __future__ import annotations

import hashlib
import json

import __spark_entry__ as entrymod

QUERY_NAMES = [
    "project_filter", "filter_date_range", "join_fact_dims", "join_3way",
    "leftjoin_agg", "agg_by_agegroup", "agg_composite_key", "agg_having",
    "agg_monthly_trend", "window_rownumber_keys",
    "window_patient_features", "fn_readmission_label", "topk_diagnoses",
    "union_dq_report", "fn_laplace_noise", "privacy_k_anon",
    "privacy_t_close", "audited_read", "approx_count_distinct_segments",
    "text_tokens", "dedup_minhash_lsh", "dedup_substring_spans",
    "dedup_embedding_cosine", "corpus_clean", "join_3way_bucketed",
    "dedup_embedding_topk", "knn_join_exact",
    "stream_simhash_band_registry", "decontamination_semantic",
    "stream_user_profiles_v2", "graph_pagerank", "vocab_bpe_merges",
    "merge_orders_cdc", "scan_partitioned_dpp", "market_share_by_year",
    "late_supplier_ranking", "regional_nation_revenue",
    "bilateral_trade_volume", "returns_revenue_topk", "min_cost_supplier",
    "excess_qty_suppliers", "promo_disjunctive_revenue",
    "inactive_rich_customers", "nation_profit_by_year", "join_asof",
    "attribution_last_touch", "scan_jsonl", "scan_orc", "skew_salted_join",
    "highcost_above_p90", "point_lookup", "topk_highcost",
    "order_size_histogram", "crossjoin_scalar", "antijoin_incremental",
    "scalar_subquery", "agg_count_distinct", "agg_global_kpis",
    "percentile_p90", "window_pct_of_total", "window_lead_nextvisit",
    "fn_sha2_anonymize", "fn_age_calc", "fn_age_bucket",
    "case_visit_cohorts", "privacy_l_div", "scan_csv", "profile_lineitem",
    "scan_table", "upsert_dedup", "audit_access_report",
    "privacy_suppression", "privacy_noise_impact",
    "approx_count_distinct_segments_native", "percentile_approx_p90",
    "percentile_approx_p90_native", "text_quality", "doc_fingerprint",
    "text_lang_profile", "text_langid", "dedup_exact",
    "dedup_ngram_jaccard", "dedup_substring_span_list",
    "corpus_cut_boilerplate", "dedup_simhash", "dedup_simhash_near",
    "ann_cosine_topk", "ann_lsh_topk", "ann_lsh_multitable",
    "multimodal_features", "multimodal_audio_meta",
    "multimodal_image_meta", "multimodal_audio_features",
    "stream_hourly_agg", "stream_sliding_agg", "stream_session_count",
    "stream_dedup_first", "stream_enrich_segment", "stream_funnel_pairs",
    "ml_features", "anomaly_quantile", "ml_predict_readmission",
    "ml_anomaly_iforest", "anomaly_listing", "kpi_block",
    "provider_utilization", "visittype_distribution", "patient_history",
    "fact_surrogate_keys", "join_range_interval", "agg_rollup", "agg_cube",
    "window_rank_ntile", "window_moving_avg", "window_range_30d",
    "setops_nations", "fn_json_extract", "fn_regex_extract",
    "dim_incremental", "embedding_nn_clusters", "skew_salted_agg",
    "skew_auto_agg", "skew_auto_join", "geo_distribution",
    "diag_proc_matrix", "ann_knn_join", "ann_ivf_topk",
    "stream_user_profiles", "stream_fanout_totals", "text_token_stats",
    "token_heavy_hitters", "text_tfidf", "multimodal_frames",
    "text_repetition", "text_dup_ngram_chars", "embedding_dim_profile",
    "sample_stratified", "pack_token_budget", "chunk_documents",
    "corpus_mixture", "sample_k_per_group", "mixture_temperature",
    "vocab_bigrams", "vocab_bpe_segment", "corpus_shuffle_shards",
    "split_train_val_test", "winsorize_costs", "inverted_index",
    "skew_report", "anomaly_mad", "embedding_centroids",
    "decile_boundaries", "ewma_customer_spend", "join_size_estimate",
    "trend_slope_per_customer", "cohort_retention", "funnel_dropoff",
    "text_redact_pii", "agg_incremental_merge", "pivot_status_by_year",
    "unpivot_kpis", "dq_rules_orders", "event_sessionize",
    "hll_users_rollup", "histogram_totalprice", "corr_measures",
    "entity_match_pairs", "cdc_orders_diff", "boilerplate_ngram_share",
    "decontamination_report", "agg_grouping_sets", "embedding_quantize",
    "quality_bigram_lm", "quality_repetition_ratio", "exists_semijoin",
    "timeseries_gapfill", "in_grouped_subquery", "timeseries_locf",
    "stream_trending_topk", "embedding_dim_scaler", "dedup_containment",
    "top_provider_by_segment", "mau_trailing7", "cust_order_distribution",
    "part_qty_threshold", "corpus_dedup_stats", "doc_length_profile",
    "embedding_norm_outliers", "cross_source_overlap",
    "scan_schema_evolution", "window_relative_standing",
    "agg_priority_listagg", "supplier_value_share", "top_revenue_supplier",
    "dedup_cluster_canonical", "layout_zorder", "ann_pq_topk",
    "rollup_navigated_trend", "event_transitions",
    "stream_funnel_outcomes", "serving_limited", "ddl_star_schema",
    "sample_weighted", "text_normalize", "unshipped_priority_topk",
    "priority_shipping_stats", "promo_revenue_share",
    "part_supplier_variety", "search_conjunctive",
    "dedup_rare_shingle_pairs", "session_paths", "ann_filtered_topk",
    "hybrid_search_rrf", "bm25_topk", "weighted_median_by_flag",
    "gini_by_segment", "funnel_three_step", "ml_patient_segments",
    "ml_model_eval", "seasonality_index", "mom_growth", "ab_test_welch",
    "ri_violations", "abc_classification", "market_basket_pairs",
    "cohort_ltv", "forecast_seasonal_naive", "user_streaks",
    "embedding_top_eigen", "agg_retractable_merge", "late_arrival_report",
    "interval_coverage", "drift_chisq", "bow_cosine_pairs",
    "engagement_decay_score",
]

ORACLE_SHA256 = (
    "e72bec86b83fad65c1f4f2709672f258ec38074768683b9286d99759b91a581a")


def oracle_digest() -> str:
    """sha256 of the JSON list of (name, sql) pairs sorted by name."""
    items = sorted(entrymod.oracle_sql().items())
    return hashlib.sha256(json.dumps(items).encode()).hexdigest()


def test_query_names_and_order_are_pinned():
    assert list(entrymod.queries()) == QUERY_NAMES


def test_oracle_sql_is_pinned():
    assert oracle_digest() == ORACLE_SHA256

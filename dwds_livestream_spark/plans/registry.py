"""Assembles the query inventory for __spark_entry__.py.

QUERIES: name -> (spark, sf_dir) -> DataFrame
ORACLE_SQL: name -> DuckDB-runnable SQL on the same tables (omitted for
non-SQL-expressible operators — the driver then records rows-only).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from . import analytics as A
from . import llm as L
from . import tpch as T

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


_ALL_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # pipeline-parity operators (SURVEY.md §2)
    "events_filter_project": A.q_events_filter_project,
    "events_enrich": A.q_events_enrich,
    "argmin_dedup": A.q_argmin_dedup,
    "events_per_hour": A.q_events_per_hour,
    "key_encode": A.q_key_encode,
    "json_extract": A.q_json_extract,
    "access_log_parse": A.q_access_log_parse,
    # batch analytics (SURVEY.md §7 Phase 5)
    "q1_pricing_summary": A.q1_pricing_summary,
    "q3_top_revenue_orders": A.q3_top_revenue_orders,
    "q5_region_revenue": A.q5_region_revenue,
    "top_parts_per_brand": A.q_top_parts_per_brand,
    "sessionize": A.q_sessionize,
    "user_daily": A.q_user_daily,
    "q4_order_priority": A.q4_order_priority,
    "q6_revenue_delta": A.q6_revenue_delta,
    "q7_nation_volume": A.q7_nation_volume,
    "q10_returned_customers": A.q10_returned_customers,
    "customers_no_orders": A.q_customers_no_orders,
    "rollup_revenue": A.q_rollup_revenue,
    "value_percentiles": A.q_value_percentiles,
    "asof_latest_order": A.q_asof_latest_order,
    "range_join_order_week": A.q_range_join_order_week,
    "normalize_abbreviate": A.q_normalize_abbreviate,
    "event_type_pivot": A.q_event_type_pivot,
    "active_buyer_overlap": A.q_active_buyer_overlap,
    "moving_avg": A.q_moving_avg,
    "salted_hot_key_join": A.q_salted_hot_key_join,
    "cube_activity": A.q_cube_activity,
    "full_outer_reconcile": A.q_full_outer_reconcile,
    "lineitem_unpivot": A.q_lineitem_unpivot,
    "events_profile": A.q_events_profile,
    "trending_topk": A.q_trending_topk,
    "gap_fill_locf": A.q_gap_fill_locf,
    "gap_fill_interpolate": A.q_gap_fill_interpolate,
    "funnel": A.q_funnel,
    "retention_cohorts": A.q_retention_cohorts,
    "anomaly_zscore": A.q_anomaly_zscore,
    "event_transitions": A.q_event_transitions,
    "value_histogram": A.q_value_histogram,
    "sample_per_key": A.q_sample_per_key,
    "stats_regression": A.q_stats_regression,
    "value_deciles": A.q_value_deciles,
    "spend_percent_rank": A.q_spend_percent_rank,
    "ohlc_bars": A.q_ohlc_bars,
    "time_weighted_avg": A.q_time_weighted_avg,
    "winsorize": A.q_winsorize,
    "grouping_sets": A.q_grouping_sets,
    "mad_outliers": A.q_mad_outliers,
    "cdc_apply": A.q_cdc_apply,
    "max_concurrency": A.q_max_concurrency,
    "activity_streaks": A.q_activity_streaks,
    "regex_antijoin": A.q_regex_antijoin,
    "dq_checks": A.q_dq_checks,
    "dedup_incremental": L.q_dedup_incremental,
    "revenue_share": A.q_revenue_share,
    "embedding_centroids": L.q_embedding_centroids,
    "rolling_active_users": A.q_rolling_active_users,
    "attribution_asof": A.q_attribution_asof,
    "basket_pairs": A.q_basket_pairs,
    "churned_buyers": A.q_churned_buyers,
    "nth_event_per_user": A.q_nth_event_per_user,
    "sessionize_native": A.q_sessionize_native,
    "user_event_sequences": A.q_user_event_sequences,
    "pagerank_trade": A.q_pagerank_trade,
    "cumulative_unique_users": A.q_cumulative_unique_users,
    "hourly_percentile_bands": A.q_hourly_percentile_bands,
    "next_order_asof": A.q_next_order_asof,
    "decile_lift": A.q_decile_lift,
    "seasonal_profile": A.q_seasonal_profile,
    "ship_lag_by_priority": A.q_ship_lag_by_priority,
    "supplier_hhi": A.q_supplier_hhi,
    "trailing_window_spend": A.q_trailing_window_spend,
    "ppl_buckets": L.q_ppl_buckets,
    "embedding_norms": L.q_embedding_norms,
    "source_zscores": L.q_source_zscores,
    "source_zscores_pandas": L.q_source_zscores_pandas,
    "embedding_quantize": L.q_embedding_quantize,
    "embedding_covariance": L.q_embedding_covariance,
    "embedding_pca": L.q_embedding_pca,
    # remaining TPC-H shapes (plans/tpch.py): correlated subqueries,
    # semi/anti chains, disjunctive predicates, distributions, ratios
    "q2_min_cost_part": T.q2_min_cost_part,
    "q8_market_share": T.q8_market_share,
    "q9_product_profit": T.q9_product_profit,
    "q11_important_parts": T.q11_important_parts,
    "q12_priority_class": T.q12_priority_class,
    "q13_order_distribution": T.q13_order_distribution,
    "q14_promo_revenue": T.q14_promo_revenue,
    "q15_top_supplier": T.q15_top_supplier,
    "q16_supplier_part_count": T.q16_supplier_part_count,
    "q17_small_qty_revenue": T.q17_small_qty_revenue,
    "q18_large_volume_customers": T.q18_large_volume_customers,
    "q19_disjunctive_revenue": T.q19_disjunctive_revenue,
    "q20_promo_part_suppliers": T.q20_promo_part_suppliers,
    "q21_sole_returner": T.q21_sole_returner,
    "q22_idle_customers": T.q22_idle_customers,
    # LLM-training-data pipeline (project brief / SURVEY.md §7 Phase 5)
    "dedup_exact": L.q_dedup_exact,
    "dedup_ngram_jaccard": L.q_dedup_ngram_jaccard,
    "dedup_minhash_lsh": L.q_dedup_minhash_lsh,
    "dedup_simhash": L.q_dedup_simhash,
    "dedup_levenshtein": L.q_dedup_levenshtein,
    # registered AFTER the r5 window froze (VERDICT r4 ask #4 + the
    # ROADMAP r6 candidates, landed early): not in DRIVER_WINDOW this
    # round — replica-green now, rotate into the r6 window
    "dedup_minhash_levenshtein": L.q_dedup_minhash_levenshtein,
    "dedup_ledger_replay": L.q_dedup_ledger_replay,
    "contamination_matrix": L.q_contamination_matrix,
    "multimodal_resize": L.q_multimodal_resize,
    "frame_sample": L.q_frame_sample,
    "cross_doc_spans": L.q_cross_doc_spans,
    "dedup_clusters": L.q_dedup_clusters,
    "dedup_clusters_ann": L.q_dedup_clusters_ann,
    "curation_pipeline": L.q_curation_pipeline,
    "similarity_topk": L.q_similarity_topk,
    "similarity_lsh_topk": L.q_similarity_lsh_topk,
    "similarity_ivf_topk": L.q_similarity_ivf_topk,
    "embedding_near_dup": L.q_embedding_near_dup,
    "text_token_stats": L.q_text_token_stats,
    "text_quality": L.q_text_quality,
    "lang_id": L.q_lang_id,
    "doc_fingerprint": L.q_doc_fingerprint,
    "winnow_fingerprints": L.q_winnow_fingerprints,
    "multimodal_features": L.q_multimodal_features,
    "decontaminate": L.q_decontaminate,
    "stratified_split": L.q_stratified_split,
    "split_report": L.q_split_report,
    "pii_redact": L.q_pii_redact,
    "repetition_stats": L.q_repetition_stats,
    "gopher_quality": L.q_gopher_quality,
    "c4_clean": L.q_c4_clean,
    "paragraph_dedup": L.q_paragraph_dedup,
    "hybrid_rrf": L.q_hybrid_rrf,
    "ann_index_topk": L.q_ann_index_topk,
    "bpe_train_merges": L.q_bpe_train_merges,
    "countmin_words": L.q_countmin_words,
    "feature_hash_tf": L.q_feature_hash_tf,
    "bloom_semi_join": L.q_bloom_semi_join,
    "triangle_count": A.q_triangle_count,
    "hll_rolling_distinct": A.q_hll_rolling_distinct,
    "expectations": A.q_expectations,
    "snapshot_diff": A.q_snapshot_diff,
    "weighted_sample": A.q_weighted_sample,
    "ab_test": A.q_ab_test,
    "variant_extract": A.q_variant_extract,
    "incremental_join": A.q_incremental_join,
    "ewma_user_value": A.q_ewma_user_value,
    "seasonal_decompose": A.q_seasonal_decompose,
    "type_correlation_matrix": A.q_type_correlation_matrix,
    "spend_gini": A.q_spend_gini,
    "benford_deviation": A.q_benford_deviation,
    "quantile_rollup": A.q_quantile_rollup,
    "quantile_rollup_by_type": A.q_quantile_rollup_by_type,
    "cluster_representative": L.q_cluster_representative,
    "mixture_plan": L.q_mixture_plan,
    "bm25_index_topk": L.q_bm25_index_topk,
    "lm_artifact_ppl": L.q_lm_artifact_ppl,
    "vocab_growth": L.q_vocab_growth,
    "word_topk": L.q_word_topk,
    "mixture_sample": L.q_mixture_sample,
    "tfidf_topterms": L.q_tfidf_topterms,
    "sequence_pack": L.q_sequence_pack,
    "pack_stats": L.q_pack_stats,
    "heavy_hitters": L.q_heavy_hitters,
    "misra_gries_topk": L.q_misra_gries_topk,
    "approx_distinct": L.q_approx_distinct,
    "semantic_dedup": L.q_semantic_dedup,
    "chunk_documents": L.q_chunk_documents,
    "bm25_topk": L.q_bm25_topk,
    "lm_perplexity": L.q_lm_perplexity,
    "duplicate_spans": L.q_duplicate_spans,
    "ngram_topk": L.q_ngram_topk,
    "bpe_pair_topk": L.q_bpe_pair_topk,
    "dsir_weights": L.q_dsir_weights,
    "length_filter": L.q_length_filter,
    "source_overlap": L.q_source_overlap,
    "kmeans_clusters": L.q_kmeans_clusters,
    "pmi_collocations": L.q_pmi_collocations,
    "canonical_dedup": L.q_canonical_dedup,
    "inverted_index": L.q_inverted_index,
    # round-6 registry growth (ROADMAP r6): registered BEFORE the r6
    # window froze, so each is driver-verified the round it lands
    "scd2_build": A.q_scd2_build,
    "watermark_late_drop": A.q_watermark_late_drop,
    "emit_on_change": A.q_emit_on_change,
    "pareto_frontier": A.q_pareto_frontier,
    "interval_coverage": A.q_interval_coverage,
    "weighted_median": A.q_weighted_median,
    "session_window_late": A.q_session_window_late,
    "dedup_containment": L.q_dedup_containment,
    "robust_scaler": A.q_robust_scaler,
    "topk_rank_ties": A.q_topk_rank_ties,
    # round-7 registry growth (ROADMAP r7 / VERDICT r6 asks #1 and #4):
    # registered BEFORE the r7 window froze
    "ann_index_topk_fullprobe": L.q_ann_index_topk_fullprobe,
    "skyline_3d": A.q_skyline_3d,
    "knearest_preceding": A.q_knearest_preceding,
    "attribution_window": A.q_attribution_window,
    # registered AFTER the r7 window froze (standing rule): replica-
    # green now, rotate into the r8 window as never-driver-verified
    "rate_limit_events": A.q_rate_limit_events,
    "knearest_following": A.q_knearest_following,
    "skyline_4d": A.q_skyline_4d,
    # round-8 registry growth (ROADMAP r8 / VERDICT r7 #3): registered
    # BEFORE the r8 window froze, each with the full evidence kit
    "decile_join": A.q_decile_join,
    "domain_dedup": L.q_domain_dedup,
    "ngram_novelty": L.q_ngram_novelty,
    "quantile_normalize": L.q_quantile_normalize,
    "length_band_filter": L.q_length_band_filter,
    "zipf_slope": L.q_zipf_slope,
    # registered AFTER the r8 window froze (standing rule): replica-
    # green + full evidence kits now, rotate into the r9 window as
    # never-driver-verified
    "minhash_jaccard_error": L.q_minhash_jaccard_error,
    "dup_rate_by_source": L.q_dup_rate_by_source,
    "domain_quota_sample": L.q_domain_quota_sample,
    "suffix_prefix_join": L.q_suffix_prefix_join,
    "rbo_rankings": L.q_rbo_rankings,
    # late-round-8 additions (same standing rule): the three remaining
    # ROADMAP r9 candidates, landed with full evidence kits
    "group_quantile_normalize": L.q_group_quantile_normalize,
    "url_path_neardup": L.q_url_path_neardup,
    "rbo_drift": L.q_rbo_drift,
    # the final two r9-batch entries (completes r9's 5-10 sizing band
    # at 10; r9 registers none before its window freezes)
    "rbo_source_panel": L.q_rbo_source_panel,
    "quota_sample_ks": L.q_quota_sample_ks,
    # registered AFTER the r9 window froze (standing rule; VERDICT r8
    # #6): the queued r10 candidate plus its two natural companions,
    # each landed with its full evidence kit — they rotate into the
    # r10 window as never-driver-verified (r10's growth batch)
    "temporal_path_drift": L.q_temporal_path_drift,
    "path_novelty": L.q_path_novelty,
    "ks_source_panel": L.q_ks_source_panel,
    "ks_value_binned": L.q_ks_value_binned,
    "content_drift": L.q_content_drift,
    "dup_rate_drift": L.q_dup_rate_drift,
    "ks_drift": L.q_ks_drift,
    "ks_drift_binned": L.q_ks_drift_binned,
    "drift_anomaly": L.q_drift_anomaly,
    # registered AFTER the r10 window froze (standing rule): the r10
    # growth batch — VERDICT r9 #4's diversity ask satisfied with
    # three NEW operator families (embedding-space drift, incremental
    # near-dup ledger, lexical JS divergence) ahead of the two queued
    # compositions; they rotate into the r11 window as
    # never-driver-verified
    "centroid_drift": L.q_centroid_drift,
    "minhash_ledger_replay": L.q_minhash_ledger_replay,
    "token_js_divergence": L.q_token_js_divergence,
    "novelty_half_life": L.q_novelty_half_life,
    "domain_drift_panel": L.q_domain_drift_panel,
    # the back half of the r10 post-window batch (band at 8 of 5-10):
    # PSI — the industry-standard drift score next to KS; the temporal
    # JS leg; and the lexical novelty twin via the shared set_novelty
    # assembly
    "psi_drift": L.q_psi_drift,
    "js_drift": L.q_js_drift,
    "token_novelty": L.q_token_novelty,
    # the anomaly recipe carried to the embedding axis (composition
    # over centroid_drift)
    "embedding_drift_anomaly": L.q_embedding_drift_anomaly,
    # per-doc unigram entropy (map-only quality signal; closes the r10
    # batch at the 10-entry band ceiling)
    "unigram_entropy": L.q_unigram_entropy,
    # registered AFTER the r11 window froze (standing rule): the r11
    # growth batch, held BELOW the band ceiling (VERDICT r10 #2 — 4 of
    # the 5-10 band so the pad share grows back to 39): the two queued
    # yield-signal compositions (VERDICT r10 #4) and two NEW families
    # (VERDICT r10 #5 — the paragraph-level incremental ledger named
    # there, plus the conformal gate from the ROADMAP candidate list);
    # they rotate into the r12 window as never-driver-verified
    "dedup_yield_curve": L.q_dedup_yield_curve,
    "drift_panel_join": L.q_drift_panel_join,
    "paragraph_ledger_replay": L.q_paragraph_ledger_replay,
    "conformal_outlier_bounds": L.q_conformal_outlier_bounds,
    # back half of the r11 batch (6 of the 5-10 band; pad share 37):
    # the two r12-queue candidates landed early — the span-granular
    # yield twin and the temporal conformal fence (the fifth temporal
    # audit leg)
    "paragraph_yield_curve": L.q_paragraph_yield_curve,
    "conformal_drift_gate": L.q_conformal_drift_gate,
    # the batch closes at 7 (the VERDICT r10 #2 ceiling; pad share 36)
    # with the verdict's strongest-named candidate: the mergeable
    # quantile sketch, in the deterministic exact-integer log-bucket
    # form that keeps it hash-oracle-able
    "logbucket_quantiles": L.q_logbucket_quantiles,
    # round-12 batch (3 <= the VERDICT r11 #3 ceiling of 5), each slot
    # a verdict/ROADMAP-named ask: the quantile-sketch drift leg
    # (VERDICT r11 #4) and the isotonic-calibration NEW family (the
    # ROADMAP candidate — PAV via the exact max-min characterization,
    # hash-oracle-able where a sequential loop would be rows-only)
    # with its reliability/ECE sibling
    "logbucket_quantile_drift": L.q_logbucket_quantile_drift,
    "isotonic_calibration": L.q_isotonic_calibration,
    "calibration_reliability": L.q_calibration_reliability,
}

# ---------------------------------------------------------------------
# Driver-verification window: the external correctness gate checks the
# FIRST 50 registry entries each round, so entry order is the coverage
# lever. All 188 pre-r8 entries have been driver-seen at least once
# (cumulative CORRECTNESS_r01..r07); since r7 the pad rotates
# round-robin by least-recently-driver-seen (scripts/next_window.py),
# so the whole registry re-verifies on a ~3-round cadence. The eight
# pinned rows-only entries (tests/test_registry.py) structurally
# record `no_oracle` when they rotate in — documented in PARITY.md
# ("Expected no-oracle entries"), not a failure. Non-window queries
# keep their oracles and the local replica gate
# (scripts/check_oracle.py; tests/test_output_type_canon.py runs only
# in the slow/release tier, not the default pytest run).
DRIVER_WINDOW: list[str] = [
    # ---- round-13 window (scripts/next_window.py; ROADMAP r13;
    # changed-plan override per the standing cadence policy) ----
    # (a) reference-pipeline parity (SURVEY.md §2) — permanent
    "access_log_parse",
    "events_filter_project",
    "events_enrich",
    "argmin_dedup",
    "key_encode",
    "json_extract",
    "events_per_hour",
    # (b) never driver-verified: none (a carry-over of the r12 first —
    # every registry entry has driver evidence entering r13)
    # (c) changed-plan re-verification (standing rule: any plan change
    # re-verifies in the SAME round's window). First the r13
    # optimization-round restructures (OPTIMIZATION_r13.md is the log
    # of record):
    "minhash_ledger_replay",
    "dedup_yield_curve",
    "triangle_count",
    "psi_drift",
    "ks_drift",
    "js_drift",
    "ks_drift_binned",
    "drift_panel_join",
    "quantile_normalize",
    "group_quantile_normalize",
    "dedup_levenshtein",
    "dedup_minhash_levenshtein",
    "source_overlap",
    # then the r12 optimization-round entries whose executed plans
    # changed but which were NOT in the r12 window (ROADMAP r13 §"r12
    # optimization round plan changes" queues them at pad-priority;
    # access_log_parse/dedup_yield_curve/drift_panel_join/
    # minhash_ledger_replay/dedup_containment/dedup_ngram_jaccard/
    # dedup_levenshtein were r12-windowed already):
    "basket_pairs",
    "pagerank_trade",
    "dedup_clusters",
    "dedup_clusters_ann",
    "cluster_representative",
    "semantic_dedup",
    "dedup_minhash_lsh",
    "minhash_jaccard_error",
    "curation_pipeline",
    "duplicate_spans",
    "cross_doc_spans",
    "dedup_simhash",
    # (d) pad, round-robin by least-recently-driver-seen
    # (scripts/next_window.py r13 suggestion order, minus entries
    # already listed above): the three r12 batch-displaced slots lead,
    # then the r07-era remainder
    "similarity_topk",
    "embedding_near_dup",
    "text_token_stats",
    "text_quality",
    "lang_id",
    "doc_fingerprint",
    "decontaminate",
    "stratified_split",
    "pii_redact",
    "gopher_quality",
    "c4_clean",
    "paragraph_dedup",
    "pareto_frontier",
    "ann_index_topk_fullprobe",
    "activity_streaks",
    "regex_antijoin",
    "dq_checks",
    "dedup_incremental",
]

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    name: _ALL_QUERIES[name] for name in DRIVER_WINDOW
} | {
    name: fn for name, fn in _ALL_QUERIES.items() if name not in set(DRIVER_WINDOW)
}

ORACLE_SQL: dict[str, str] = {
    "events_filter_project": A.ORACLE_EVENTS_FILTER_PROJECT,
    "events_enrich": A.ORACLE_EVENTS_ENRICH,
    "argmin_dedup": A.ORACLE_ARGMIN_DEDUP,
    "events_per_hour": A.ORACLE_EVENTS_PER_HOUR,
    "key_encode": A.ORACLE_KEY_ENCODE,
    "json_extract": A.ORACLE_JSON_EXTRACT,
    "q1_pricing_summary": A.ORACLE_Q1,
    "q3_top_revenue_orders": A.ORACLE_Q3,
    "q5_region_revenue": A.ORACLE_Q5,
    "top_parts_per_brand": A.ORACLE_TOP_PARTS,
    "sessionize": A.ORACLE_SESSIONIZE,
    "user_daily": A.ORACLE_USER_DAILY,
    "access_log_parse": A.ORACLE_ACCESS_LOG_PARSE,
    "q4_order_priority": A.ORACLE_Q4,
    "q6_revenue_delta": A.ORACLE_Q6,
    "q7_nation_volume": A.ORACLE_Q7,
    "q10_returned_customers": A.ORACLE_Q10,
    "customers_no_orders": A.ORACLE_CUSTOMERS_NO_ORDERS,
    "rollup_revenue": A.ORACLE_ROLLUP_REVENUE,
    "value_percentiles": A.ORACLE_VALUE_PERCENTILES,
    "asof_latest_order": A.ORACLE_ASOF_LATEST_ORDER,
    "range_join_order_week": A.ORACLE_RANGE_JOIN_ORDER_WEEK,
    "normalize_abbreviate": A.ORACLE_NORMALIZE_ABBREVIATE,
    "event_type_pivot": A.ORACLE_EVENT_TYPE_PIVOT,
    "active_buyer_overlap": A.ORACLE_ACTIVE_BUYER_OVERLAP,
    "moving_avg": A.ORACLE_MOVING_AVG,
    "salted_hot_key_join": A.ORACLE_SALTED_HOT_KEY_JOIN,
    "cube_activity": A.ORACLE_CUBE_ACTIVITY,
    "full_outer_reconcile": A.ORACLE_FULL_OUTER_RECONCILE,
    "lineitem_unpivot": A.ORACLE_LINEITEM_UNPIVOT,
    "events_profile": A.ORACLE_EVENTS_PROFILE,
    "trending_topk": A.ORACLE_TRENDING_TOPK,
    "gap_fill_locf": A.ORACLE_GAP_FILL_LOCF,
    "gap_fill_interpolate": A.ORACLE_GAP_FILL_INTERPOLATE,
    "funnel": A.ORACLE_FUNNEL,
    "retention_cohorts": A.ORACLE_RETENTION_COHORTS,
    "anomaly_zscore": A.ORACLE_ANOMALY_ZSCORE,
    "event_transitions": A.ORACLE_EVENT_TRANSITIONS,
    "value_histogram": A.ORACLE_VALUE_HISTOGRAM,
    "sample_per_key": A.ORACLE_SAMPLE_PER_KEY,
    "stats_regression": A.ORACLE_STATS_REGRESSION,
    "value_deciles": A.ORACLE_VALUE_DECILES,
    "spend_percent_rank": A.ORACLE_SPEND_PERCENT_RANK,
    "ohlc_bars": A.ORACLE_OHLC_BARS,
    "time_weighted_avg": A.ORACLE_TIME_WEIGHTED_AVG,
    "winsorize": A.ORACLE_WINSORIZE,
    "grouping_sets": A.ORACLE_GROUPING_SETS,
    "mad_outliers": A.ORACLE_MAD_OUTLIERS,
    "cdc_apply": A.ORACLE_CDC_APPLY,
    "max_concurrency": A.ORACLE_MAX_CONCURRENCY,
    "activity_streaks": A.ORACLE_ACTIVITY_STREAKS,
    "regex_antijoin": A.ORACLE_REGEX_ANTIJOIN,
    "dq_checks": A.ORACLE_DQ_CHECKS,
    "dedup_incremental": L.ORACLE_DEDUP_INCREMENTAL,
    "revenue_share": A.ORACLE_REVENUE_SHARE,
    "embedding_centroids": L.ORACLE_EMBEDDING_CENTROIDS,
    "rolling_active_users": A.ORACLE_ROLLING_ACTIVE_USERS,
    "attribution_asof": A.ORACLE_ATTRIBUTION_ASOF,
    "basket_pairs": A.ORACLE_BASKET_PAIRS,
    "churned_buyers": A.ORACLE_CHURNED_BUYERS,
    "nth_event_per_user": A.ORACLE_NTH_EVENT_PER_USER,
    "sessionize_native": A.ORACLE_SESSIONIZE_NATIVE,
    "user_event_sequences": A.ORACLE_USER_EVENT_SEQUENCES,
    "pagerank_trade": A.ORACLE_PAGERANK_TRADE,
    "cumulative_unique_users": A.ORACLE_CUMULATIVE_UNIQUE_USERS,
    "hourly_percentile_bands": A.ORACLE_HOURLY_PERCENTILE_BANDS,
    "next_order_asof": A.ORACLE_NEXT_ORDER_ASOF,
    "decile_lift": A.ORACLE_DECILE_LIFT,
    "seasonal_profile": A.ORACLE_SEASONAL_PROFILE,
    "ship_lag_by_priority": A.ORACLE_SHIP_LAG_BY_PRIORITY,
    "supplier_hhi": A.ORACLE_SUPPLIER_HHI,
    "trailing_window_spend": A.ORACLE_TRAILING_WINDOW_SPEND,
    "ppl_buckets": L.ORACLE_PPL_BUCKETS,
    "embedding_norms": L.ORACLE_EMBEDDING_NORMS,
    "source_zscores": L.ORACLE_SOURCE_ZSCORES,
    "source_zscores_pandas": L.ORACLE_SOURCE_ZSCORES,
    "embedding_quantize": L.ORACLE_EMBEDDING_QUANTIZE,
    "embedding_covariance": L.ORACLE_EMBEDDING_COVARIANCE,
    "q2_min_cost_part": T.ORACLE_Q2,
    "q8_market_share": T.ORACLE_Q8,
    "q9_product_profit": T.ORACLE_Q9,
    "q11_important_parts": T.ORACLE_Q11,
    "q12_priority_class": T.ORACLE_Q12,
    "q13_order_distribution": T.ORACLE_Q13,
    "q14_promo_revenue": T.ORACLE_Q14,
    "q15_top_supplier": T.ORACLE_Q15,
    "q16_supplier_part_count": T.ORACLE_Q16,
    "q17_small_qty_revenue": T.ORACLE_Q17,
    "q18_large_volume_customers": T.ORACLE_Q18,
    "q19_disjunctive_revenue": T.ORACLE_Q19,
    "q20_promo_part_suppliers": T.ORACLE_Q20,
    "q21_sole_returner": T.ORACLE_Q21,
    "q22_idle_customers": T.ORACLE_Q22,
    "dedup_exact": L.ORACLE_DEDUP_EXACT,
    "dedup_ngram_jaccard": L.ORACLE_DEDUP_NGRAM_JACCARD,
    "dedup_levenshtein": L.ORACLE_DEDUP_LEVENSHTEIN,
    "dedup_clusters": L.ORACLE_DEDUP_CLUSTERS,
    "curation_pipeline": L.ORACLE_CURATION_PIPELINE,
    "similarity_topk": L.ORACLE_SIMILARITY_TOPK,
    "embedding_near_dup": L.ORACLE_EMBEDDING_NEAR_DUP,
    "text_token_stats": L.ORACLE_TEXT_TOKEN_STATS,
    "text_quality": L.ORACLE_TEXT_QUALITY,
    "lang_id": L.ORACLE_LANG_ID,
    "doc_fingerprint": L.ORACLE_DOC_FINGERPRINT,
    "decontaminate": L.ORACLE_DECONTAMINATE,
    "stratified_split": L.ORACLE_STRATIFIED_SPLIT,
    "split_report": L.ORACLE_SPLIT_REPORT,
    "pii_redact": L.ORACLE_PII_REDACT,
    "repetition_stats": L.ORACLE_REPETITION_STATS,
    "gopher_quality": L.ORACLE_GOPHER_QUALITY,
    "c4_clean": L.ORACLE_C4_CLEAN,
    "paragraph_dedup": L.ORACLE_PARAGRAPH_DEDUP,
    "hybrid_rrf": L.ORACLE_HYBRID_RRF,
    "countmin_words": L.ORACLE_COUNTMIN_WORDS,
    "feature_hash_tf": L.ORACLE_FEATURE_HASH_TF,
    "bloom_semi_join": L.ORACLE_BLOOM_SEMI_JOIN,
    "triangle_count": A.ORACLE_TRIANGLE_COUNT,
    "expectations": A.ORACLE_EXPECTATIONS,
    "snapshot_diff": A.ORACLE_SNAPSHOT_DIFF,
    "weighted_sample": A.ORACLE_WEIGHTED_SAMPLE,
    "ab_test": A.ORACLE_AB_TEST,
    "variant_extract": A.ORACLE_VARIANT_EXTRACT,
    "incremental_join": A.ORACLE_INCREMENTAL_JOIN,
    "ewma_user_value": A.ORACLE_EWMA_USER_VALUE,
    "seasonal_decompose": A.ORACLE_SEASONAL_DECOMPOSE,
    "type_correlation_matrix": A.ORACLE_TYPE_CORRELATION_MATRIX,
    "spend_gini": A.ORACLE_SPEND_GINI,
    "benford_deviation": A.ORACLE_BENFORD_DEVIATION,
    "quantile_rollup": A.ORACLE_QUANTILE_ROLLUP,
    "quantile_rollup_by_type": A.ORACLE_QUANTILE_ROLLUP_BY_TYPE,
    "cluster_representative": L.ORACLE_CLUSTER_REPRESENTATIVE,
    "mixture_plan": L.ORACLE_MIXTURE_PLAN,
    "bm25_index_topk": L.ORACLE_BM25_TOPK,
    "lm_artifact_ppl": L.ORACLE_LM_PERPLEXITY,
    "vocab_growth": L.ORACLE_VOCAB_GROWTH,
    "word_topk": L.ORACLE_WORD_TOPK,
    "mixture_sample": L.ORACLE_MIXTURE_SAMPLE,
    "tfidf_topterms": L.ORACLE_TFIDF_TOPTERMS,
    "sequence_pack": L.ORACLE_SEQUENCE_PACK,
    "pack_stats": L.ORACLE_PACK_STATS,
    "heavy_hitters": L.ORACLE_HEAVY_HITTERS,
    "semantic_dedup": L.ORACLE_SEMANTIC_DEDUP,
    "chunk_documents": L.ORACLE_CHUNK_DOCUMENTS,
    "bm25_topk": L.ORACLE_BM25_TOPK,
    "lm_perplexity": L.ORACLE_LM_PERPLEXITY,
    "duplicate_spans": L.ORACLE_DUPLICATE_SPANS,
    "ngram_topk": L.ORACLE_NGRAM_TOPK,
    "bpe_pair_topk": L.ORACLE_BPE_PAIR_TOPK,
    "dsir_weights": L.ORACLE_DSIR_WEIGHTS,
    "length_filter": L.ORACLE_LENGTH_FILTER,
    "source_overlap": L.ORACLE_SOURCE_OVERLAP,
    "pmi_collocations": L.ORACLE_PMI_COLLOCATIONS,
    "canonical_dedup": L.ORACLE_CANONICAL_DEDUP,
    "inverted_index": L.ORACLE_INVERTED_INDEX,
    "scd2_build": A.ORACLE_SCD2_BUILD,
    "session_window_late": A.ORACLE_SESSION_WINDOW_LATE,
    "dedup_containment": L.ORACLE_DEDUP_CONTAINMENT,
    "robust_scaler": A.ORACLE_ROBUST_SCALER,
    "topk_rank_ties": A.ORACLE_TOPK_RANK_TIES,
    "watermark_late_drop": A.ORACLE_WATERMARK_LATE_DROP,
    "emit_on_change": A.ORACLE_EMIT_ON_CHANGE,
    "pareto_frontier": A.ORACLE_PARETO_FRONTIER,
    "interval_coverage": A.ORACLE_INTERVAL_COVERAGE,
    "weighted_median": A.ORACLE_WEIGHTED_MEDIAN,
    "winnow_fingerprints": L.ORACLE_WINNOW_FINGERPRINTS,
    "multimodal_features": L.ORACLE_MULTIMODAL_FEATURES,
    "dedup_simhash": L.ORACLE_DEDUP_SIMHASH,
    "dedup_minhash_lsh": L.ORACLE_DEDUP_MINHASH_LSH,
    "dedup_minhash_levenshtein": L.ORACLE_DEDUP_MINHASH_LEVENSHTEIN,
    "dedup_ledger_replay": L.ORACLE_DEDUP_LEDGER_REPLAY,
    "contamination_matrix": L.ORACLE_CONTAMINATION_MATRIX,
    "multimodal_resize": L.ORACLE_MULTIMODAL_RESIZE,
    "frame_sample": L.ORACLE_FRAME_SAMPLE,
    "cross_doc_spans": L.ORACLE_CROSS_DOC_SPANS,
    "dedup_clusters_ann": L.ORACLE_DEDUP_CLUSTERS_ANN,
    # round-5 oracle upgrade: exact-integer LSH bits (shared splitmix64
    # constants inlined into the generated SQL, like minhash above)
    "similarity_lsh_topk": L.ORACLE_SIMILARITY_LSH_TOPK,
    # round-7: full-probe IVF == exact cosine top-k, so the persisted-
    # index read path hash-matches the same oracle similarity_topk uses
    "ann_index_topk_fullprobe": L.ORACLE_SIMILARITY_TOPK,
    "skyline_3d": A.ORACLE_SKYLINE_3D,
    "knearest_preceding": A.ORACLE_KNEAREST_PRECEDING,
    "attribution_window": A.ORACLE_ATTRIBUTION_WINDOW,
    "rate_limit_events": A.ORACLE_RATE_LIMIT_EVENTS,
    "knearest_following": A.ORACLE_KNEAREST_FOLLOWING,
    "skyline_4d": A.ORACLE_SKYLINE_4D,
    # round-8 additions (ROADMAP r8 / VERDICT r7 #3)
    "decile_join": A.ORACLE_DECILE_JOIN,
    "domain_dedup": L.ORACLE_DOMAIN_DEDUP,
    "ngram_novelty": L.ORACLE_NGRAM_NOVELTY,
    "quantile_normalize": L.ORACLE_QUANTILE_NORMALIZE,
    "length_band_filter": L.ORACLE_LENGTH_BAND_FILTER,
    "zipf_slope": L.ORACLE_ZIPF_SLOPE,
    "minhash_jaccard_error": L.ORACLE_MINHASH_JACCARD_ERROR,
    "dup_rate_by_source": L.ORACLE_DUP_RATE_BY_SOURCE,
    "domain_quota_sample": L.ORACLE_DOMAIN_QUOTA_SAMPLE,
    "suffix_prefix_join": L.ORACLE_SUFFIX_PREFIX_JOIN,
    "rbo_rankings": L.ORACLE_RBO_RANKINGS,
    "group_quantile_normalize": L.ORACLE_GROUP_QUANTILE_NORMALIZE,
    "url_path_neardup": L.ORACLE_URL_PATH_NEARDUP,
    "rbo_drift": L.ORACLE_RBO_DRIFT,
    "rbo_source_panel": L.ORACLE_RBO_SOURCE_PANEL,
    "quota_sample_ks": L.ORACLE_QUOTA_SAMPLE_KS,
    "temporal_path_drift": L.ORACLE_TEMPORAL_PATH_DRIFT,
    "path_novelty": L.ORACLE_PATH_NOVELTY,
    "ks_source_panel": L.ORACLE_KS_SOURCE_PANEL,
    "ks_value_binned": L.ORACLE_KS_VALUE_BINNED,
    "content_drift": L.ORACLE_CONTENT_DRIFT,
    "dup_rate_drift": L.ORACLE_DUP_RATE_DRIFT,
    "ks_drift": L.ORACLE_KS_DRIFT,
    "ks_drift_binned": L.ORACLE_KS_DRIFT_BINNED,
    "drift_anomaly": L.ORACLE_DRIFT_ANOMALY,
    "centroid_drift": L.ORACLE_CENTROID_DRIFT,
    "minhash_ledger_replay": L.ORACLE_MINHASH_LEDGER_REPLAY,
    "token_js_divergence": L.ORACLE_TOKEN_JS_DIVERGENCE,
    "novelty_half_life": L.ORACLE_NOVELTY_HALF_LIFE,
    "domain_drift_panel": L.ORACLE_DOMAIN_DRIFT_PANEL,
    "psi_drift": L.ORACLE_PSI_DRIFT,
    "js_drift": L.ORACLE_JS_DRIFT,
    "token_novelty": L.ORACLE_TOKEN_NOVELTY,
    "embedding_drift_anomaly": L.ORACLE_EMBEDDING_DRIFT_ANOMALY,
    "unigram_entropy": L.ORACLE_UNIGRAM_ENTROPY,
    "dedup_yield_curve": L.ORACLE_DEDUP_YIELD_CURVE,
    "drift_panel_join": L.ORACLE_DRIFT_PANEL_JOIN,
    "paragraph_ledger_replay": L.ORACLE_PARAGRAPH_LEDGER_REPLAY,
    "conformal_outlier_bounds": L.ORACLE_CONFORMAL_OUTLIER_BOUNDS,
    "paragraph_yield_curve": L.ORACLE_PARAGRAPH_YIELD_CURVE,
    "conformal_drift_gate": L.ORACLE_CONFORMAL_DRIFT_GATE,
    "logbucket_quantiles": L.ORACLE_LOGBUCKET_QUANTILES,
    # round-12 batch (3 — under the VERDICT r11 #3 <= 5 ceiling;
    # registered PRE-freeze and IN-window so the batch carries driver
    # evidence in its own round, retiring the never-driver-verified
    # debt class)
    "logbucket_quantile_drift": L.ORACLE_LOGBUCKET_QUANTILE_DRIFT,
    "isotonic_calibration": L.ORACLE_ISOTONIC_CALIBRATION,
    "calibration_reliability": L.ORACLE_CALIBRATION_RELIABILITY,
    # rows-only (no oracle; each approximate/iterative by nature):
    # similarity_ivf_topk, misra_gries_topk, kmeans_clusters,
    # embedding_pca (numpy parity in tests/test_embedding_ops.py) —
    # full pinned set: tests/test_registry.py ROWS_ONLY
}

"""ANSI divide-by-zero registry lint (round-10, r9 verdict item 3).

All SEVEN real engine/oracle splits found by the round-9 adversarial
sweep were one class: ANSI Spark throws DIVIDE_BY_ZERO (DOUBLE
included) where DuckDB double division quietly yields NULL.  This lint
mechanizes the former manual checklist step: every registered query's
oracle SQL is scanned for division sites that are not trivially safe
(see anomaly_detection_spark/lint.py for the classifier), and the
count per query must match the reviewed allowlist below.

The allowlist was generated from the round-10 registry state and is
REVIEWED EVIDENCE, not a rubber stamp: every query in it was exercised
end-to-end by the round-9 full-family adversarial sweep (372/373
queries against degenerate fixtures — zero-variance groups, empty
texts, zero weights, n=1 groups; tests/test_round5_adversarial.py), so
each grandfathered site has a differential run on exactly the inputs
that would trigger the split.  The contract going forward:

- a NEW query with any unguarded division fails here until the site
  is guarded (``F.when(den > 0, ...)`` + matching oracle) or
  consciously added with its adversarial-fixture evidence;
- an EDIT that adds or removes a site in an existing query fails
  here, forcing the count to be re-reviewed alongside the change.
"""

from __future__ import annotations

import pytest

from anomaly_detection_spark import queries as reg
from anomaly_detection_spark.lint import needs_review_sites, strip_sql

# Reviewed per-query counts of not-trivially-safe division sites.
# Evidence: each query ran through the real engine-vs-oracle compare
# on its family's degenerate adversarial fixture in round 9.
ALLOWLIST = {'ab_test_lift_events': 11,
 'adjusted_rand_embeddings': 6,
 'aj_cumulative_incidence': 3,
 'anomaly_ensemble_events': 4,
 'anova_f_value_types': 6,
 'ansari_bradley_types': 5,
 'assortativity_dup_graph': 2,
 'attribution_linear_touch': 2,
 'attribution_time_decay': 3,
 'auc_quality_classifier': 5,
 'autocorr_lag7_user': 1,
 'behavior_entropy_user': 2,
 'benford_digit_audit': 6,
 'binseg_changepoints_user': 3,
 'bm25_topk_docs': 3,
 'bootstrap_mean_ci_events': 2,
 'brier_calibration_docs': 9,
 'brown_forsythe_types': 8,
 'burstiness_memory_users': 1,
 'capture_recapture_dups': 2,
 'changepoint_argmax_user': 3,
 'char_entropy_docs': 3,
 'chi_square_drift_events': 5,
 'circular_hour_stats': 2,
 'clustering_coefficient_docs': 3,
 'cochran_armitage_trend': 2,
 'cochran_q_weekly_activity': 1,
 'cohens_kappa_quality': 6,
 'cohort_ltv_daily': 2,
 'cohort_retention_events': 2,
 'conformal_interval_events': 3,
 'containment_rare_gram': 2,
 'cooks_distance_users': 7,
 'corpus_profile_by_source': 1,
 'cramers_v_type_weekday': 2,
 'cross_correlation_lags': 1,
 'croston_demand_user': 2,
 'cuped_adjusted_lift': 6,
 'curated_corpus': 1,
 'cusum_shift_events': 4,
 'daily_series_stats': 1,
 'decile_lift_table': 4,
 'decision_stump_events': 13,
 'decontaminate_docs': 2,
 'dedup_detector_eval': 4,
 'dedup_rate_by_source': 1,
 'dickey_fuller_users': 4,
 'diff_in_diff_events': 4,
 'dow_baseline_flags': 2,
 'dtw_distance_users': 4,
 'dup_family_keep_best': 1,
 'dup_graph_triangles': 1,
 'eb_shrunk_conversion_users': 4,
 'event_type_profile': 1,
 'evt_pot_tail_fit': 2,
 'ewma_events': 1,
 'fano_factor_users': 2,
 'fellegi_sunter_weights': 8,
 'forecast_error_mase_user': 1,
 'frame_sample_media': 1,
 'funnel_conversion_steps': 1,
 'funnel_time_bounded': 1,
 'gini_by_event_type': 2,
 'good_turing_vocab': 2,
 'gopher_quality_docs': 3,
 'granger_lag_users': 5,
 'graph_common_neighbors': 3,
 'gumbel_block_maxima': 8,
 'hazard_rate_conversion': 2,
 'hbos_outlier_events': 4,
 'heavy_hitter_words': 1,
 'hill_tail_index_events': 2,
 'hits_user_type_engagement': 6,
 'hodges_lehmann_user': 4,
 'hurst_rs_users': 6,
 'incremental_agg_events': 1,
 'incremental_dedup_docs': 1,
 'ipf_raking_lang_source': 6,
 'isotonic_fit_user': 1,
 'jonckheere_trend_dayparts': 1,
 'kaplan_meier_conversion': 1,
 'kcore_dup_graph': 1,
 'kendall_tau_users': 2,
 'key_skew_profiler': 4,
 'kmeans_update_embeddings': 4,
 'knn_hubness_embeddings': 1,
 'kruskal_wallis_types': 4,
 'ks_drift_events': 2,
 'largest_remainder_allocation': 2,
 'latest_value_percentile': 2,
 'linear_interpolation_grid': 2,
 'ljung_box_users': 2,
 'logrank_test_conversion': 2,
 'lorenz_curve_users': 2,
 'mahalanobis_outliers_events': 1,
 'map_functions_per_user': 1,
 'markov_entropy_users': 2,
 'markov_removal_attribution': 26,
 'markov_stationary_types': 14,
 'markov_transitions_events': 1,
 'mcnemar_rule_classifier': 4,
 'minhash_near_dups': 1,
 'mixture_sample_docs': 2,
 'morans_i_embedding_grid': 1,
 'mutual_information_type_value': 4,
 'ndcg_dup_retrieval': 4,
 'near_dup_components': 1,
 'negbin_dispersion_types': 7,
 'nelson_aalen_conversion': 4,
 'ngram_jaccard_pairs': 1,
 'novelty_curve_docs': 1,
 'numeric_functions_suite': 1,
 'ols_fit_user': 5,
 'order_lifecycle_durations': 3,
 'pacf_lag2_users': 2,
 'padding_efficiency_buckets': 2,
 'page_hinkley_users': 2,
 'pagerank_dup_graph': 14,
 'partial_corr_err_purchase': 6,
 'permutation_entropy_users': 5,
 'ppjoin_jaccard_pairs': 2,
 'psi_drift_events': 2,
 'pythagorean_means_by_type': 3,
 'quality_classifier_docs': 3,
 'quality_scores_docs': 3,
 'quantile_normalize_values': 2,
 'quantize_embeddings_int8': 2,
 'range_interval_window': 1,
 'rdd_cutoff_daily_events': 14,
 'readability_docs': 4,
 'repetition_stats_docs': 2,
 'rfm_segments_users': 12,
 'roc_points_quality': 6,
 'rolling_median_hampel': 6,
 'rrf_hybrid_retrieval': 5,
 'rule_flags_composite_key': 2,
 'rule_flags_events': 3,
 'rule_flags_sql_port': 3,
 'runs_test_users': 3,
 'sax_symbols_users': 4,
 'seasonality_strength_user': 5,
 'sequential_patterns_events': 2,
 'session_association_rules': 6,
 'shapley_attribution_channels': 1,
 'share_of_total_by_type': 4,
 'silhouette_embeddings': 1,
 'sparse_cosine_pairs': 2,
 'split_balance_audit': 1,
 'stl_iqr_events': 1,
 'stratified_sample_docs': 1,
 'supplier_window_stats': 3,
 'term_burstiness_corpus': 5,
 'term_cooccurrence_lift': 1,
 'text_stats_docs': 1,
 'textrank_keywords': 34,
 'tfidf_top_terms': 2,
 'theilsen_slope_user': 1,
 'theta_sketch_users': 4,
 'time_weighted_avg_user': 1,
 'tpch_q14_type_share': 1,
 'tpch_q1_agg': 3,
 'tpch_q2_min_cost_supplier': 1,
 'tpch_q8_market_share': 1,
 'transition_dwell_events': 1,
 'trapezoid_exposure_users': 1,
 'trimmed_mean_events': 4,
 'twonn_intrinsic_dim': 1,
 'unigram_logprob_docs': 2,
 'user_behavior_similarity': 2,
 'validate_events': 4,
 'viterbi_burst_users': 2,
 'wasserstein_value_drift': 2,
 'weighted_sample_docs': 2,
 'welch_t_drift_types': 7,
 'wilcoxon_signed_rank_users': 3,
 'wilson_ci_event_types': 6,
 'woe_iv_quality_bins': 11,
 'zipf_heaps_corpus': 5,
 'zorder_layout_lineitem': 8}


def test_registry_has_no_unreviewed_division_sites():
    """Every oracle's unguarded-division count matches the reviewed
    allowlist — new sites (or silently vanished ones) fail."""
    problems = []
    for name, sql in reg.ORACLES.items():
        got = len(needs_review_sites(sql))
        want = ALLOWLIST.get(name, 0)
        if got != want:
            problems.append((name, got, want))
    assert not problems, (
        "division-site counts drifted from the reviewed allowlist "
        "(query, found, reviewed): " + repr(problems)
    )


def test_lint_flags_a_deliberately_unguarded_division():
    """The fixture query the r9 bugs would have written: a per-group
    rate whose denominator is a FILTERed count that an adversarial
    fixture drives to zero.  The lint must flag it."""
    fixture = (
        "SELECT user_id, "
        "CAST(sum(value) AS DOUBLE) / count(*) FILTER (WHERE value > 0)"
        " AS rate FROM events GROUP BY user_id"
    )
    sites = needs_review_sites(fixture)
    assert len(sites) == 1 and "count(*) FILTER" in sites[0]


def test_lint_auto_passes_the_standard_guards():
    for safe in [
        "SELECT x / 100.0 FROM t",
        "SELECT x / 2 FROM t",
        "SELECT x / 1e6 FROM t",
        "SELECT x / CAST(86400 AS DOUBLE) FROM t",
        "SELECT x / NULLIF(y, 0) FROM t",
        "SELECT x / greatest(length(s), 1) FROM t",
        "SELECT CASE WHEN n > 0 THEN s / n END FROM t",
        "SELECT CASE WHEN n <> 0 THEN s / n ELSE NULL END FROM t",
    ]:
        assert needs_review_sites(safe) == [], safe


def test_lint_ignores_strings_and_comments():
    assert needs_review_sites(
        "SELECT 'a/b' AS s, x FROM t -- c/d comment"
    ) == []
    # positions preserved by the stripper
    sql = "SELECT 'a/b', x/y FROM t"
    assert len(strip_sql(sql)) == len(sql)
    assert len(needs_review_sites(sql)) == 1


def test_lint_flags_bare_column_denominator():
    assert len(needs_review_sites("SELECT a / b FROM t")) == 1

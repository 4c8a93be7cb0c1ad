"""Adversarial-shape differentials for round-5 operators: run the REAL
driver comparison (tests.oracle_check.compare) on synthetic fixtures
engineered for the edge cases the sf fixtures don't hit — value ties
everywhere, constant series, minimum-length users, and a >64-token
vocabulary that forces PPJoin onto its full prefix-filter path instead
of the bitmask fast path."""

from __future__ import annotations

import datetime as dt
import os
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from anomaly_detection_spark import queries as reg
from tests.oracle_check import compare

BASE = dt.datetime(2024, 1, 1, 0, 0, 0)


def _d(days, minutes=0):
    return BASE + dt.timedelta(days=days, minutes=minutes)


def _write(spark, d, name, rows, schema):
    t = spark.createDataFrame(rows, schema)
    pq.write_table(
        pa.Table.from_pandas(t.toPandas()), os.path.join(d, f"{name}.parquet")
    )


def _adversarial_events_dir(spark):
    """Ties on every value, one constant-value user, one minimum-length
    user, bursty and regular users, purchases and signups."""
    from pyspark.sql import functions as F

    rows = []
    eid = 0
    # user 1: constant value (sigma = 0 paths), 20 days
    for i in range(20):
        eid += 1
        rows.append((1, eid, _d(i), "view", 7.0))
    # user 2: heavy ties (only two distinct values), 20 days
    for i in range(20):
        eid += 1
        rows.append((2, eid, _d(i), "click", 5.0 if i % 2 else 9.0))
    # user 3: minimum viable series (5 days)
    for i in range(5):
        eid += 1
        rows.append((3, eid, _d(i), "view", float(i + 1)))
    # user 4: signup -> purchases (survival/attribution paths)
    eid += 1
    rows.append((4, eid, _d(0), "signup", 1.0))
    for i in range(1, 16):
        eid += 1
        rows.append((4, eid, _d(i), "purchase", 10.0 + (i % 3)))
    # user 5: signup, never converts (censoring path)
    eid += 1
    rows.append((5, eid, _d(0), "signup", 1.0))
    for i in range(1, 16):
        eid += 1
        rows.append((5, eid, _d(i), "error", 2.5))
    d = tempfile.mkdtemp()
    ev = spark.createDataFrame(
        rows,
        "user_id long, event_id long, ts timestamp_ntz, "
        "event_type string, value double",
    ).withColumn("props", F.lit("{}"))
    pq.write_table(
        pa.Table.from_pandas(ev.toPandas()), os.path.join(d, "events.parquet")
    )
    return d


ADVERSARIAL_EVENT_QUERIES = [
    "stl_iqr_events",
    "shesd_anomalies_events",
    "holt_winters_user",
    "binseg_changepoints_user",
    "page_hinkley_users",
    "conformal_interval_events",
    "hodges_lehmann_user",
    "rfm_segments_users",
    "nelson_aalen_conversion",
    "logrank_test_conversion",
    "cohort_ltv_daily",
    "attribution_time_decay",
    "croston_demand_user",
    "ljung_box_users",
    "kruskal_wallis_types",
    "fano_factor_users",
    "diff_in_diff_events",
    "cuped_adjusted_lift",
    "mutual_information_type_value",
    "decision_stump_events",
    "theta_sketch_users",
    "hbos_outlier_events",
    "negbin_dispersion_types",
    "gumbel_block_maxima",
    # -- round-6 extension (verdict item 6): every statistical query
    # with a degenerate regime (zero variance, all-ties, single-row
    # groups, censored tails) through the REAL compare --
    "wilson_ci_event_types",
    "dickey_fuller_users",
    "markov_stationary_types",
    "markov_entropy_users",
    "hazard_rate_conversion",
    "lorenz_curve_users",
    "wasserstein_value_drift",
    "evt_pot_tail_fit",
    "simpsons_paradox_audit",
    "bh_fdr_user_anomalies",
    "viterbi_burst_users",
    "sax_symbols_users",
    "hill_tail_index_events",
    "bootstrap_mean_ci_events",
    "dtw_distance_users",
    "hits_user_type_engagement",
    "kaplan_meier_conversion",
    "markov_removal_attribution",
    "streaming_left_interval_join_events",
    "streaming_session_histogram_events",
    "streaming_cdc_state_events",
    "streaming_dedup_state_events",
    "benford_digit_audit",
    "jensen_shannon_types",
    "welch_t_drift_types",
    "eb_shrunk_conversion_users",
    "sprt_conversion_users",
    "kendall_tau_users",
    "cochran_armitage_trend",
    "forecast_error_mase_user",
    # -- round-7 additions --
    "shapley_attribution_channels",
    "mahalanobis_outliers_events",
    "permutation_entropy_users",
    "haar_energy_users",
    "hurst_rs_users",
    "type_reachability_closure",
    "runs_test_users",
    "anova_f_value_types",
    "brown_forsythe_types",
    "discord_matrix_profile_users",
    "burstiness_memory_users",
    "pacf_lag2_users",
    "cramers_v_type_weekday",
    "pettitt_changepoint_users",
    "granger_lag_users",
    "icss_variance_changepoint_users",
    "cooks_distance_users",
    "ansari_bradley_types",
    "littles_law_sessions",
    "dau_wau_stickiness",
    "max_drawdown_users",
    "peak_prominence_users",
    "trapezoid_exposure_users",
    "aj_cumulative_incidence",
    "wilcoxon_signed_rank_users",
    "circular_hour_stats",
    "cochran_q_weekly_activity",
    "rdd_cutoff_daily_events",
    "mcf_recurrent_purchases",
    "jonckheere_trend_dayparts",
    "partial_corr_err_purchase",
    # -- round 9 registrations --
    "durbin_watson_users",
    "kendall_w_event_types",
    # -- round 10 registrations --
    "friedman_test_event_types",
    # -- round-9 widening: EVERY events-consuming oracle query (same
    # pattern as the documents widening below; first run caught three
    # real ANSI /0 splits: stats_corr_covar's corr AGGREGATE on a
    # zero-variance group, psi_drift's zero-event period share, and
    # ab_test_lift's empty-arm / degenerate-pooled-rate z) --
    "rule_flags_events",
    "top5_events_per_user",
    "lag_diff_events",
    "complete_series",
    "staleness_per_user",
    "event_type_profile",
    "filtered_sorted_events",
    "key_concat_split",
    "left_join_max_rownum",
    "value_percentiles",
    "union_all_extremes",
    "null_semantics",
    "json_props_stats",
    "dense_rank_reindex",
    "asof_last_error_before_purchase",
    "approx_distinct_users",
    "sessionize_events",
    "daily_series_stats",
    "cube_event_stats",
    "rule_flags_composite_key",
    "staleness_bq_compat",
    "forward_fill_purchases",
    "navigation_windows_events",
    "set_ops_users",
    "sql_api_named_windows",
    "range_interval_window",
    "agg_function_suite",
    "sliding_window_counts",
    "interval_join_error_purchases",
    "gap_fill_daily_series",
    "value_histogram",
    "native_session_windows",
    "stats_corr_covar",
    "approx_percentiles_events",
    "array_functions_per_user",
    "rule_flags_sql_port",
    "validate_events",
    "trend_per_user",
    "psi_drift_events",
    "time_weighted_avg_user",
    "ewma_events",
    "funnel_conversion_steps",
    "cohort_retention_events",
    "rolling_median_hampel",
    "cusum_shift_events",
    "incremental_agg_events",
    "variant_props_stats",
    "incremental_distinct_users",
    "ks_drift_events",
    "ohlc_bars_events",
    "sliding_distinct_users",
    "funnel_time_bounded",
    "iqr_flags_events",
    "dow_baseline_flags",
    "changepoint_argmax_user",
    "robust_z_events",
    "anomaly_ensemble_events",
    "session_paths_events",
    "markov_transitions_events",
    "seasonality_strength_user",
    "autocorr_lag7_user",
    "gap_histogram_events",
    "winsorize_events",
    "holt_smoothing_user",
    "k_anonymity_audit",
    "attribution_last_touch",
    "rolling_corr_events",
    "profile_columns_events",
    "trimmed_mean_events",
    "peak_detection_events",
    "salted_agg_events",
    "asof_cogrouped_error_purchase",
    "user_behavior_similarity",
    "transition_dwell_events",
    "gini_by_event_type",
    "behavior_entropy_user",
    "session_histogram_batch",
    "scd2_user_state",
    "equi_depth_value_buckets",
    "daily_distinct_sketch",
    "skyline_value_recency",
    "chi_square_drift_events",
    "ab_test_lift_events",
    "interval_union_time_user",
    "map_functions_per_user",
    "hll_overlap_segments",
    "window_function_suite",
    "asof_forward_tolerance",
    "activity_bitmap_user",
    "numeric_functions_suite",
    "rolling_slope_events",
    "mode_median_by_type",
    "pit_join_purchase_state",
    "theilsen_slope_user",
    "running_balance_resets",
    "throttle_dedup_hourly",
    "key_skew_profiler",
    "attribution_linear_touch",
    "share_of_total_by_type",
    "pythagorean_means_by_type",
    "growth_accounting_daily",
    "table_fingerprint_daily",
    "decile_lift_table",
    "isotonic_fit_user",
    "mann_whitney_drift",
    "cross_correlation_lags",
    "ols_fit_user",
    "period_over_period_revenue",
    "hll_reagg_weekly",
    "k_of_n_alerts",
    "quantile_normalize_values",
    "session_association_rules",
    "next_higher_spend_user",
    "latest_value_percentile",
    "linear_interpolation_grid",
    "hierarchical_rollup_events",
    "sequential_patterns_events",
]


# The two family-exhaustive sweeps (events 205 queries / 119 s,
# documents 90 / 54 s) moved behind SPARK_GRAFT_ADVERSARIAL=1 in r11:
# the default suite must fit the driver's budget (VERIFY_r10 was
# truncated at ~75% of a 37-minute run), and these two alone were
# ~3 min of it.  The default run keeps a SMOKE subset: every query
# that ever produced a real find on these fixtures (the r9 ANSI-/0 and
# sampling splits) plus a deterministic 1-in-6 slice of each family
# for breadth.  The exhaustive sweeps stay the gate for NEW queries
# and engine-expression changes: run them whenever a statistical
# query's expressions change (same opt-in pattern as
# SPARK_GRAFT_PLANLINT).
_FULL_SWEEPS = bool(os.environ.get("SPARK_GRAFT_ADVERSARIAL"))
# the smoke subsets are slices of the full sweeps: run one or the other
_smoke_only = pytest.mark.skipif(
    _FULL_SWEEPS, reason="covered by the full-family sweep")
_full_only = pytest.mark.skipif(
    not _FULL_SWEEPS,
    reason="full-family sweep is opt-in: SPARK_GRAFT_ADVERSARIAL=1")

_EVENT_SMOKE_FINDS = [
    # r9 real finds on this fixture (each regressed once — pin forever)
    "stats_corr_covar", "psi_drift_events", "ab_test_lift_events",
    # flagship detection engines
    "rule_flags_events", "stl_iqr_events",
]


def _smoke(full, finds):
    assert set(finds) <= set(full), sorted(set(finds) - set(full))
    return list(dict.fromkeys(finds + full[::6]))


@_smoke_only
def test_adversarial_events_differentials_smoke(spark):
    d = _adversarial_events_dir(spark)
    fails = {}
    for name in _smoke(ADVERSARIAL_EVENT_QUERIES, _EVENT_SMOKE_FINDS):
        try:
            problems = compare(
                reg.QUERIES[name](spark, d), reg.ORACLES[name], d
            )
        except Exception as exc:  # crash = red
            problems = [repr(exc)[:200]]
        if problems:
            fails[name] = problems
    assert not fails, fails


@_full_only
def test_adversarial_events_differentials(spark):
    d = _adversarial_events_dir(spark)
    fails = {}
    for name in ADVERSARIAL_EVENT_QUERIES:
        try:
            problems = compare(
                reg.QUERIES[name](spark, d), reg.ORACLES[name], d
            )
        except Exception as exc:  # crash = red
            problems = [repr(exc)[:200]]
        if problems:
            fails[name] = problems
    assert not fails, fails


def _adversarial_documents_dir(spark):
    """Degenerate document shapes: empty text, single word, one word
    repeated (zero entropy), an exact-duplicate family, whitespace-only,
    unicode confusables, and a long doc — the regimes sf corpora and
    their Zipf tails never pin down."""
    docs = [
        (1, "", "en", 0, "s"),
        (2, "word", "en", 4, "s"),
        (3, "same same same same same same same same", "en", 39, "s"),
        (4, "alpha beta gamma delta epsilon", "en", 30, "s"),
        (5, "alpha beta gamma delta epsilon", "en", 30, "s"),  # exact dup
        (6, "alpha beta gamma delta epsilon", "en", 30, "s"),  # exact dup
        (7, "   ", "en", 3, "s"),
        (8, "Ω≈ç√∫ µ≤≥ ÷ Ω≈ç√∫", "xx", 17, "s"),
        (9, " ".join(f"tok{i % 11}" for i in range(400)), "en", 2000, "s"),
        (10, "One sentence. Two sentences here! And a third?", "en", 46, "s"),
    ]
    d = tempfile.mkdtemp()
    _write(spark, d, "documents",
           docs, "doc_id long, text string, lang string, n_chars long, "
                 "source string")
    return d


ADVERSARIAL_DOCUMENT_QUERIES = [
    "readability_docs",
    "good_turing_vocab",
    "zipf_heaps_corpus",
    "gtest_collocations",
    "borda_consensus_docs",
    "brier_calibration_docs",
    "roc_points_quality",
    "woe_iv_quality_bins",
    "png_roundtrip_media",
    "auc_quality_classifier",
    # -- round-7 additions --
    "cohens_kappa_quality",
    "yule_k_corpus",
    "mcnemar_rule_classifier",
    "spearman_tokens_docs",
    "padding_efficiency_buckets",
    "capture_recapture_dups",
    "ipf_raking_lang_source",
    "assortativity_dup_graph",
    "term_burstiness_corpus",
    # -- round-8 additions --
    "fellegi_sunter_weights",
    # -- round-9 widening: EVERY documents-consuming oracle query (the
    # r8-verdict fixture pattern, applied to the whole table family).
    # First run caught three real engine splits: gopher_quality's
    # ANSI /0 on zero-word docs, weighted_sample's ANSI /0 on a
    # zero-weight doc (DuckDB: NULL key sorting last), and
    # mixture_sample's oracle redistributing absent weighted domains'
    # quota units against the impl's documented law --
    "dedup_exact_docs",
    "text_stats_docs",
    "string_functions_docs",
    "ngram_jaccard_pairs",
    "minhash_near_dups",
    "simhash_fingerprints",
    "lang_id_quality",
    "quality_scores_docs",
    "top_words_per_lang",
    "multimodal_features",
    "chunk_documents_overlap",
    "near_dup_components",
    "pack_documents_contiguous",
    "stratified_sample_docs",
    "token_length_histogram",
    "decontaminate_docs",
    "hash_split_docs",
    "repetition_stats_docs",
    "unigram_logprob_docs",
    "simhash_portable_docs",
    "redact_pii_docs",
    "tfidf_top_terms",
    "boilerplate_ngrams",
    "curated_corpus",
    "corpus_profile_by_source",
    "quality_classifier_docs",
    "incremental_dedup_docs",
    "snapshot_diff_docs",
    "duplicate_passages",
    "heavy_hitter_words",
    "mixture_sample_docs",
    "editdist_near_dups",
    "shard_corpus_docs",
    "frame_sample_media",
    "quality_topp_docs",
    "recursive_dup_closure",
    "char_entropy_docs",
    "dup_family_keep_best",
    "term_cooccurrence_lift",
    "novelty_curve_docs",
    "textrank_keywords",
    "containment_rare_gram",
    "simhash_hamming_pairs",
    "bpe_tokenize_docs",
    "dup_graph_triangles",
    "consistent_hash_shards",
    "dedup_rate_by_source",
    "split_balance_audit",
    "bm25_topk_docs",
    "dup_span_grams",
    "gopher_quality_docs",
    "weighted_sample_docs",
    "cms_word_frequency",
    "phrase_match_docs",
    "normalized_exact_dedup",
    "pagerank_dup_graph",
    "sparse_cosine_pairs",
    "graph_common_neighbors",
    "skipgram_pairs_docs",
    "feature_hashing_docs",
    "clustering_coefficient_docs",
    "leakage_safe_split",
    "unicode_clean_docs",
    "stratified_kfold_docs",
    "ndcg_dup_retrieval",
    "kcore_dup_graph",
    "dedup_detector_eval",
    "jpeg_roundtrip_media",
    "gif_roundtrip_media",
    # -- round 10 registrations --
    "domain_length_deciles_docs",
]


_DOCUMENT_SMOKE_FINDS = [
    # r9 real finds on this fixture
    "gopher_quality_docs", "weighted_sample_docs", "mixture_sample_docs",
]


@_smoke_only
def test_adversarial_documents_differentials_smoke(spark):
    d = _adversarial_documents_dir(spark)
    fails = {}
    for name in _smoke(ADVERSARIAL_DOCUMENT_QUERIES, _DOCUMENT_SMOKE_FINDS):
        try:
            problems = compare(
                reg.QUERIES[name](spark, d), reg.ORACLES[name], d
            )
        except Exception as exc:  # crash = red
            problems = [repr(exc)[:200]]
        if problems:
            fails[name] = problems
    assert not fails, fails


@_full_only
def test_adversarial_documents_differentials(spark):
    d = _adversarial_documents_dir(spark)
    fails = {}
    for name in ADVERSARIAL_DOCUMENT_QUERIES:
        try:
            problems = compare(
                reg.QUERIES[name](spark, d), reg.ORACLES[name], d
            )
        except Exception as exc:  # crash = red
            problems = [repr(exc)[:200]]
        if problems:
            fails[name] = problems
    assert not fails, fails


def test_ppjoin_full_prefix_path_above_64_tokens(spark, monkeypatch):
    # force the Xiao prefix/length/positional stack by zeroing the
    # bitset budget — the prefix path must stay oracle-exact on its own
    monkeypatch.setattr(reg, "PPJOIN_BITSET_BUDGET", 0)
    vocab = [f"tok{i:03d}" for i in range(120)]
    docs = []
    for i in range(40):
        words = [vocab[(i * 7 + j) % 120] for j in range(30)]
        docs.append((i, " ".join(words), "en", 200, "s"))
        if i % 8 == 0:  # near copy: drop one word
            docs.append((1000 + i, " ".join(words[:-1]), "en", 195, "s"))
    d = tempfile.mkdtemp()
    _write(spark, d, "documents",
           docs, "doc_id long, text string, lang string, n_chars long, "
                 "source string")
    problems = compare(
        reg.QUERIES["ppjoin_jaccard_pairs"](spark, d),
        reg.ORACLES["ppjoin_jaccard_pairs"], d,
    )
    assert not problems, problems


def test_ppjoin_multiword_bitset_path(spark):
    # vocab > 64 but n_sets^2*W under budget: the MULTIWORD bitset path
    vocab = [f"tok{i:03d}" for i in range(120)]
    docs = []
    for i in range(40):
        words = [vocab[(i * 7 + j) % 120] for j in range(30)]
        docs.append((i, " ".join(words), "en", 200, "s"))
        if i % 8 == 0:
            docs.append((1000 + i, " ".join(words[:-1]), "en", 195, "s"))
    d = tempfile.mkdtemp()
    _write(spark, d, "documents",
           docs, "doc_id long, text string, lang string, n_chars long, "
                 "source string")
    assert not compare(
        reg.QUERIES["ppjoin_jaccard_pairs"](spark, d),
        reg.ORACLES["ppjoin_jaccard_pairs"], d,
    )


def _adversarial_embeddings_dir(spark):
    """Degenerate vector shapes over the real 64-dim schema: an all-zero
    vector (undefined cosine), exact duplicates, a 2x-scaled copy
    (cosine exactly 1), a negated copy (cosine exactly -1), one-hot
    basis vectors, and a constant vector — the norms/denominators the
    sf fixtures never push to the boundary."""
    import numpy as np

    rng = np.random.default_rng(7)
    rows = []

    def add(vid, vec, label):
        rows.append((vid, [float(x) for x in vec], label))

    base = rng.normal(size=(8, 64)).astype("float32")
    for i in range(8):
        add(i, base[i], i % 3)
    add(100, np.zeros(64), 0)                 # zero vector
    add(101, base[0], 1)                      # exact duplicate of 0
    add(102, base[1] * 2.0, 2)                # scaled copy: cosine == 1
    add(103, -base[2], 0)                     # negated: cosine == -1
    onehot = np.zeros(64); onehot[5] = 1.0
    add(104, onehot, 1)                       # one-hot basis
    add(105, np.full(64, 0.25), 2)            # constant vector
    add(106, np.full(64, 1e-8), 0)            # denormal-ish norms
    d = tempfile.mkdtemp()
    t = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    pq.write_table(
        pa.Table.from_pandas(t.toPandas()),
        os.path.join(d, "embeddings.parquet"),
    )
    return d


ADVERSARIAL_EMBEDDING_QUERIES = [
    "silhouette_embeddings",
    "embedding_norms_by_label",
    "cosine_topk_embeddings",
    "embedding_near_dups",
    "semantic_dedup_embeddings",
    "quantize_embeddings_int8",
    "embedding_covariance_top",
    "pca_project_embeddings",
    "spatial_neighbor_counts",
    "cluster_assign_embeddings",
    "hard_negatives_embeddings",
    "lsh_ann_topk",
    "ivf_topk_embeddings",
    "pq_topk_embeddings",
    "mmr_select_embeddings",
    "cluster_balanced_sample",
    "lof_embeddings",
    "kmeans_update_embeddings",
    "twonn_intrinsic_dim",
    "morans_i_embedding_grid",
    "knn_hubness_embeddings",
    # -- round-8 additions --
    "adjusted_rand_embeddings",
    # ann_recall_eval is EXCLUDED: its recall_8t3p >= 0.3 floor is a
    # data-dependent contract calibrated to the sf corpus (its own
    # docstring says so), not a theorem — on 15 near-random vectors the
    # floor legitimately fails.  Its zero-vector robustness is still
    # covered: the operator shares nonzero_vectors + brute_force_topk /
    # lsh_ann_topk with the queries above, and the crash fix is
    # regression-tested through them.
]


def test_adversarial_embeddings_differentials(spark):
    d = _adversarial_embeddings_dir(spark)
    fails = {}
    for name in ADVERSARIAL_EMBEDDING_QUERIES:
        try:
            problems = compare(
                reg.QUERIES[name](spark, d), reg.ORACLES[name], d
            )
        except Exception as exc:  # crash = red
            problems = [repr(exc)[:200]]
        if problems:
            fails[name] = problems
    assert not fails, fails


def _adversarial_parts_dir(spark):
    """Degenerate part names: empty, whitespace, single char, unicode,
    an identical-name family, near-identical long names."""
    rows = [
        (1, "", "Brand#1", "SMALL PLATED TIN", 1, 100.0),
        (2, " ", "Brand#1", "SMALL PLATED TIN", 1, 100.5),
        (3, "x", "Brand#2", "LARGE BRUSHED COPPER", 2, 200.0),
        (4, "ivory chocolate navy linen sky", "Brand#2",
         "LARGE BRUSHED COPPER", 3, 300.0),
        (5, "ivory chocolate navy linen sky", "Brand#3",
         "MEDIUM ANODIZED STEEL", 4, 301.0),
        (6, "ivory chocolate navy linen sea", "Brand#3",
         "MEDIUM ANODIZED STEEL", 5, 302.0),
        (7, "Ωmega çedilla ünïcode pärt", "Brand#4",
         "STANDARD POLISHED BRASS", 6, 400.0),
        (8, "a" * 80, "Brand#4", "STANDARD POLISHED BRASS", 7, 500.0),
        (9, "a" * 79 + "b", "Brand#5", "ECONOMY BURNISHED NICKEL",
         8, 501.0),
        (10, "x", "Brand#5", "ECONOMY BURNISHED NICKEL", 9, 502.0),
    ]
    d = tempfile.mkdtemp()
    t = spark.createDataFrame(
        rows, "p_partkey long, p_name string, p_brand string, "
              "p_type string, p_size int, p_retailprice double",
    )
    pq.write_table(
        pa.Table.from_pandas(t.toPandas()), os.path.join(d, "part.parquet")
    )
    return d


ADVERSARIAL_PART_QUERIES = [
    "jaro_winkler_parts",
    "record_linkage_parts",
    "sorted_neighborhood_parts",
]


def test_adversarial_parts_differentials(spark):
    d = _adversarial_parts_dir(spark)
    fails = {}
    for name in ADVERSARIAL_PART_QUERIES:
        try:
            problems = compare(
                reg.QUERIES[name](spark, d), reg.ORACLES[name], d
            )
        except Exception as exc:  # crash = red
            problems = [repr(exc)[:200]]
        if problems:
            fails[name] = problems
    assert not fails, fails


def _adversarial_tpch_dir(spark):
    """Degenerate TPC-H shapes (r6 verdict item 5): same-day ship vs
    order dates (zero lifecycle durations), zero-quantity and
    zero-price lines, discount = 1.0 (revenue exactly zero), an order
    with NO lineitems, a customer with NO orders (and one with exactly
    one), tied order dates, zero/negative account balances, orphan
    foreign keys (order without customer, lineitem without order —
    the referential-integrity audit's positive case), duplicate
    customer/part names, an unordered part, a supplier that supplies
    nothing, and empty nations/regions.  Nation/region layout mirrors
    the generator (25 nations, 5 regions) so the hardcoded NATION_*/
    EUROPE literals in the TPC-H ports stay meaningful."""
    d = tempfile.mkdtemp()
    _write(spark, d, "region",
           [(i, n) for i, n in enumerate(
               ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])],
           "r_regionkey int, r_name string")
    _write(spark, d, "nation",
           [(i, f"NATION_{i}", i % 5) for i in range(25)],
           "n_nationkey int, n_name string, n_regionkey int")
    _write(spark, d, "customer", [
        (1, "Customer#000000001", 3, 1000.00, "BUILDING"),   # single order
        (2, "Customer#000000002", 2, 0.00, "HOUSEHOLD"),     # many orders, tied dates
        (3, "Customer#000000003", 2, 2500.50, "MACHINERY"),  # ZERO orders
        (4, "Customer#000000004", 3, 0.00, "BUILDING"),      # zero balance, no orders
        (5, "Customer#000000005", 3, -999.99, "AUTOMOBILE"),  # negative balance
        (6, "Customer#000000001", 8, 10.00, "BUILDING"),     # duplicate name
        (7, "Customer#000000007", 7, 5.25, "FURNITURE"),     # order w/o lineitems
    ], "c_custkey long, c_name string, c_nationkey int, c_acctbal double, "
       "c_mktsegment string")
    _write(spark, d, "supplier", [
        (1, "Supplier#000000001", 1, 100.00),
        (2, "Supplier#000000002", 3, 0.00),     # zero balance
        (3, "Supplier#000000003", 2, 50.00),    # supplies NOTHING
        (4, "Supplier#000000004", 7, -5.00),    # negative balance
    ], "s_suppkey long, s_name string, s_nationkey int, s_acctbal double")
    _write(spark, d, "part", [
        (1, "small ring", "Brand#1", "ECONOMY", 3, 900.00),
        (2, "large cog", "Brand#2", "STANDARD", 10, 1500.00),  # never ordered
        (3, "deluxe widget", "Brand#3", "ECONOMY DELUXE", 15, 0.00),
        (4, "small ring", "Brand#1", "PROMO", 0, 0.00),        # dup name, size 0
    ], "p_partkey long, p_name string, p_brand string, p_type string, "
       "p_size int, p_retailprice double")
    D = dt.datetime
    _write(spark, d, "orders", [
        (100, 1, "F", 31000.00, D(1996, 3, 1), "1-URGENT"),
        (101, 2, "O", 1150.00, D(1996, 2, 15), "5-LOW"),
        (102, 2, "P", 7000.00, D(1996, 2, 15), "3-MEDIUM"),   # tied date
        (103, 2, "F", 0.00, D(1996, 2, 15), "2-HIGH"),        # zero total, tied
        (104, 5, "F", 4000.00, D(1995, 12, 31), "5-LOW"),
        (105, 7, "O", 500.00, D(1996, 6, 1), "4-NOT SPECIFIED"),  # NO lineitems
        (106, 999, "O", 123.45, D(1996, 4, 1), "1-URGENT"),   # orphan custkey
        (107, 2, "O", 900.00, D(1996, 2, 15), "5-LOW"),       # tied date
    ], "o_orderkey long, o_custkey long, o_orderstatus string, "
       "o_totalprice double, o_orderdate timestamp_ntz, "
       "o_orderpriority string")
    _write(spark, d, "lineitem", [
        # o100 (ordered 1996-03-01): same-day ship, zero qty, disc 1.0
        (100, 1, 1, 1, 0.0, 1000.00, 0.0, 0.0, "R", "F", D(1996, 3, 1)),
        (100, 3, 2, 2, 25.0, 50000.00, 1.0, 0.08, "A", "F", D(1996, 3, 5)),
        (100, 3, 1, 3, 23.0, 30000.00, 0.03, 0.02, "N", "O", D(1996, 5, 1)),
        # o101: q6/q7 shape (disc 0.02, qty < 24, supp nation 1 / cust 2)
        (101, 1, 1, 1, 23.0, 1150.00, 0.02, 0.0, "N", "O", D(1996, 7, 1)),
        # o102 (ordered 1996-02-15): every line ships the SAME DAY as
        # the order — all lifecycle durations exactly zero
        (102, 1, 2, 1, 5.0, 1000.00, 0.0, 0.0, "N", "O", D(1996, 2, 15)),
        (102, 1, 2, 2, 0.0, 0.00, 0.0, 0.0, "N", "O", D(1996, 2, 15)),
        (102, 3, 2, 3, 5.0, 1000.00, 0.1, 0.0, "A", "F", D(1996, 2, 15)),
        (102, 1, 2, 4, 5.0, 1000.00, 0.0, 0.08, "R", "F", D(1996, 2, 15)),
        (102, 3, 2, 5, 5.0, 1000.00, 0.05, 0.0, "N", "O", D(1996, 2, 15)),
        (102, 1, 2, 6, 5.0, 1000.00, 0.0, 0.0, "N", "F", D(1996, 2, 15)),
        (102, 3, 2, 7, 5.0, 1000.00, 0.0, 0.0, "N", "O", D(1996, 2, 15)),
        # o103: zero-price line, big quantity, ships in 1998 (q3 window)
        (103, 4, 4, 1, 40.0, 0.00, 0.0, 0.0, "N", "O", D(1998, 6, 1)),
        # o104: pre-1996 ship (outside most windows)
        (104, 3, 1, 1, 25.0, 4000.00, 0.04, 0.0, "R", "F", D(1995, 12, 31)),
        # o106 (orphan order) still has a line
        (106, 1, 1, 1, 1.0, 123.45, 0.0, 0.0, "N", "O", D(1996, 4, 2)),
        # orphan lineitem: orderkey not in orders at all
        (99999, 1, 1, 1, 2.0, 10.00, 0.0, 0.0, "N", "O", D(1996, 4, 3)),
    ], "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
       "l_quantity double, l_extendedprice double, l_discount double, "
       "l_tax double, l_returnflag string, l_linestatus string, "
       "l_shipdate timestamp_ntz")
    # tiny events table for the queries that join events with TPC-H
    # tables (integrity audit wants an orphan user too)
    _write(spark, d, "events", [
        (1, 1, D(2024, 1, 10), "purchase", 10.0, "{}"),
        (2, 2, D(2024, 1, 11), "view", 5.5, "{}"),
        (2, 3, D(2024, 1, 12), "purchase", 7.25, "{}"),
        (999, 4, D(2024, 1, 13), "error", 0.0, "{}"),
    ], "user_id long, event_id long, ts timestamp_ntz, event_type string, "
       "value double, props string")
    return d


ADVERSARIAL_TPCH_QUERIES = [
    "tpch_q1_agg",
    "tpch_q2_min_cost_supplier",
    "tpch_q3_top10",
    "tpch_q4_order_priority",
    "tpch_q5_local_revenue",
    "tpch_q6_filter_agg",
    "tpch_q7_nation_volume",
    "tpch_q8_market_share",
    "tpch_q9_profit_by_nation_year",
    "tpch_q10_returned_top20",
    "tpch_q11_important_parts",
    "tpch_q12_priority_buckets",
    "tpch_q13_order_distribution",
    "tpch_q14_type_share",
    "tpch_q15_top_supplier",
    "tpch_q16_supplier_counts",
    "tpch_q17_small_orders",
    "tpch_q18_big_orders",
    "tpch_q19_disjunctive_join",
    "tpch_q20_heavy_shippers",
    "tpch_q21_sole_late_supplier",
    "tpch_q22_idle_customers",
    "revenue_by_nation",
    "rollup_revenue",
    "grouping_sets_orders",
    "rank_family_orders",
    "qualify_latest_order",
    "lateral_top2_orders",
    "semi_anti_customers",
    "salted_join_orders",
    "bloom_pruned_join",
    "incremental_join_orders",
    "order_lifecycle_durations",
    "pivot_status_counts",
    "unpivot_lineitem_measures",
    "supplier_window_stats",
    "weighted_median_lineitem",
    "sweepline_peak_concurrency",
    "zorder_layout_lineitem",
    "cdc_apply_lineitem",
    "largest_remainder_allocation",
    "referential_integrity_audit",
    "full_outer_reconciliation",
    "enrich_supplier_nation",  # r9: the last uncovered TPCH-dim query
    "join_size_estimate_cms",
    "deming_slope_brands",
]


def test_adversarial_tpch_differentials(spark):
    d = _adversarial_tpch_dir(spark)
    fails = {}
    for name in ADVERSARIAL_TPCH_QUERIES:
        try:
            problems = compare(
                reg.QUERIES[name](spark, d), reg.ORACLES[name], d
            )
        except Exception as exc:  # crash = red
            problems = [repr(exc)[:200]]
        if problems:
            fails[name] = problems
    assert not fails, fails


def _adversarial_lineitem_values_dir(spark):
    """Degenerate lineitem VALUES (r8 verdict item 7) — the structural
    fixture above stresses referential shapes (orphans, zero-qty, tied
    dates); this one stresses the STATISTICAL degeneracies the sf
    fixtures never produce, keeping referential integrity intact so the
    value pathologies (not join shapes) are what's under test:

    - supplier 1: thirty lines with ALL-EQUAL values (zero variance
      everywhere — stddev 0, every quantile equal, weighted median =
      the value, regression slopes undefined);
    - supplier 2: a SINGLE line (window/group of size one — n-1
      denominators, percent_rank over one row);
    - supplier 3: exactly two equal lines (n=2, variance still 0);
    - supplier 4: a zero-variance TAIL (distinct body, the top-5 values
      all identical — tail quantiles and top-k tie-break paths);
    - supplier 5: two-point alternation on one part (heavy ties with
      nonzero variance, maximum run structure);
    - supplier 6: well-formed control rows so the literal-filtered
      TPC-H ports still select something.

    Orders mirror the same shapes: one customer whose order totals are
    all identical, a single-order customer, tied order dates within a
    day, one zero-variance-tail customer."""
    d = tempfile.mkdtemp()
    _write(spark, d, "region",
           [(i, n) for i, n in enumerate(
               ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])],
           "r_regionkey int, r_name string")
    _write(spark, d, "nation",
           [(i, f"NATION_{i}", i % 5) for i in range(25)],
           "n_nationkey int, n_name string, n_regionkey int")
    _write(spark, d, "customer", [
        (1, "Customer#000000001", 3, 100.00, "BUILDING"),   # equal totals
        (2, "Customer#000000002", 2, 100.00, "HOUSEHOLD"),  # single order
        (3, "Customer#000000003", 2, 100.00, "MACHINERY"),  # zero-var tail
        (4, "Customer#000000004", 7, 100.00, "AUTOMOBILE"),  # control
    ], "c_custkey long, c_name string, c_nationkey int, c_acctbal double, "
       "c_mktsegment string")
    _write(spark, d, "supplier", [
        (i, f"Supplier#00000000{i}", nk, 100.00)
        for i, nk in [(1, 1), (2, 3), (3, 2), (4, 7), (5, 8), (6, 1)]
    ], "s_suppkey long, s_name string, s_nationkey int, s_acctbal double")
    _write(spark, d, "part", [
        (1, "constant widget", "Brand#1", "ECONOMY", 3, 1000.00),
        (2, "lonely cog", "Brand#2", "STANDARD", 10, 1000.00),
        (3, "twin ring", "Brand#3", "ECONOMY DELUXE", 15, 1000.00),
        (4, "tail gadget", "Brand#1", "PROMO", 5, 1000.00),
        (5, "flip flop", "Brand#2", "ECONOMY", 5, 1000.00),
        (6, "control part", "Brand#3", "STANDARD", 7, 1000.00),
    ], "p_partkey long, p_name string, p_brand string, p_type string, "
       "p_size int, p_retailprice double")
    D = dt.datetime
    orders = []
    # customer 1: five orders, ALL the same totalprice, distinct dates
    for i in range(5):
        orders.append((200 + i, 1, "F", 5000.00,
                       D(1996, 1, 1 + i), "1-URGENT"))
    # customer 2: exactly one order
    orders.append((210, 2, "O", 777.00, D(1996, 2, 1), "5-LOW"))
    # customer 3: zero-variance tail — totals 1k,2k,3k then 9k x4,
    # three of them on the SAME date
    for i, (tp, day) in enumerate([(1000.0, 1), (2000.0, 2), (3000.0, 3),
                                   (9000.0, 4), (9000.0, 4), (9000.0, 4),
                                   (9000.0, 5)]):
        orders.append((220 + i, 3, "O", tp, D(1996, 3, day), "3-MEDIUM"))
    # customer 4: control orders across years
    orders.append((230, 4, "F", 31000.00, D(1995, 6, 1), "2-HIGH"))
    orders.append((231, 4, "O", 1150.00, D(1996, 7, 1), "4-NOT SPECIFIED"))
    _write(spark, d, "orders", orders,
           "o_orderkey long, o_custkey long, o_orderstatus string, "
           "o_totalprice double, o_orderdate timestamp_ntz, "
           "o_orderpriority string")
    lines = []
    # supplier 1 / part 1: 30 lines, every value identical, spread over
    # customer 1's five orders; shipdates advance one day per line so
    # ordered windows see a zero-variance SERIES, not one tie-bucket
    for i in range(30):
        lines.append((200 + i % 5, 1, 1, i // 5 + 1, 5.0, 1000.00, 0.0,
                      0.0, "N", "O", D(1996, 1, 1) + dt.timedelta(days=9 + i)))
    # supplier 2 / part 2: the single-row group
    lines.append((210, 2, 2, 1, 7.0, 777.00, 0.02, 0.01, "R", "F",
                  D(1996, 2, 2)))
    # supplier 3 / part 3: exactly two identical lines
    lines.append((220, 3, 3, 1, 3.0, 300.00, 0.0, 0.0, "A", "F",
                  D(1996, 3, 2)))
    lines.append((221, 3, 3, 1, 3.0, 300.00, 0.0, 0.0, "A", "F",
                  D(1996, 3, 3)))
    # supplier 4 / part 4: distinct body, zero-variance tail (top 5
    # prices all 8000)
    for i, px in enumerate([100.0, 900.0, 2500.0,
                            8000.0, 8000.0, 8000.0, 8000.0, 8000.0]):
        lines.append((222 + i % 5, 4, 4, 2 + i, float(i % 4 + 1), px,
                      0.05, 0.0, "N", "O", D(1996, 3, 6 + i)))
    # supplier 5 / part 5: strict two-value alternation, one part
    for i in range(20):
        lines.append((200 + i % 5, 5, 5, 10 + i, 2.0 if i % 2 else 40.0,
                      500.00 if i % 2 else 50000.00, 0.0, 0.0,
                      "N", "O" if i % 2 else "F", D(1996, 4, 1 + i)))
    # supplier 6 / part 6: control rows hitting the common literal
    # windows (1996 shipdates, discount band, qty < 24)
    lines.append((230, 6, 6, 1, 23.0, 1150.00, 0.02, 0.0, "N", "O",
                  D(1996, 7, 15)))
    lines.append((231, 6, 6, 1, 25.0, 4000.00, 0.06, 0.02, "R", "F",
                  D(1995, 12, 31)))
    _write(spark, d, "lineitem", lines,
           "l_orderkey long, l_partkey long, l_suppkey long, "
           "l_linenumber int, l_quantity double, l_extendedprice double, "
           "l_discount double, l_tax double, l_returnflag string, "
           "l_linestatus string, l_shipdate timestamp_ntz")
    _write(spark, d, "events", [
        (1, 1, D(2024, 1, 10), "purchase", 10.0, "{}"),
        (1, 2, D(2024, 1, 11), "purchase", 10.0, "{}"),  # equal values
        (2, 3, D(2024, 1, 12), "view", 5.5, "{}"),       # single event
    ], "user_id long, event_id long, ts timestamp_ntz, event_type string, "
       "value double, props string")
    return d


def test_adversarial_lineitem_values_differentials(spark):
    """Every lineitem/orders-consuming oracle query, run through the
    REAL driver compare on the value-degenerate fixture."""
    d = _adversarial_lineitem_values_dir(spark)
    fails = {}
    for name in ADVERSARIAL_TPCH_QUERIES:
        try:
            problems = compare(
                reg.QUERIES[name](spark, d), reg.ORACLES[name], d
            )
        except Exception as exc:  # crash = red
            problems = [repr(exc)[:200]]
        if problems:
            fails[name] = problems
    assert not fails, fails


def test_adversarial_lineitem_values_fixture_hits_the_branches(spark):
    """Guard against a vacuous pass (the r7 cluster-fixture template):
    the value-degenerate paths must actually FIRE — zero-variance
    stddev, size-one groups, and the all-tied weighted median."""
    from pyspark.sql import functions as F

    d = _adversarial_lineitem_values_dir(spark)
    stats = reg.QUERIES["supplier_window_stats"](spark, d)
    by_supp = {
        r["l_suppkey"]: r for r in
        stats.groupBy("l_suppkey").agg(
            F.count(F.lit(1)).alias("n"),
            F.max("partition_stddev").alias("sd"),
        ).collect()
    }
    # supplier 1: 30 equal values -> stddev exactly 0.0 (not NULL)
    assert by_supp[1]["n"] == 30 and by_supp[1]["sd"] == 0.0
    # supplier 2: group of ONE -> the n>=2 guard yields NULL stddev
    assert by_supp[2]["n"] == 1 and by_supp[2]["sd"] is None
    # supplier 3: n=2 with equal values -> still 0.0 through the n-1
    # denominator
    assert by_supp[3]["n"] == 2 and by_supp[3]["sd"] == 0.0

    wm = {r["flag"]: r for r in
          reg.QUERIES["weighted_median_lineitem"](spark, d).collect()}
    # "A" flag = supplier 3's two identical 300.00 lines only: the
    # all-tied weighted median IS the tied value
    assert wm["A"]["wmedian_cents"] == 30000

    # supplier 4's zero-variance tail: the top-5 prices are one tie
    # bucket (tail quantiles collapse onto 8000.00)
    li = reg.QUERIES["tpch_q1_agg"](spark, d)  # touch-load check only
    assert li.count() > 0
    top5 = (
        spark.read.parquet(f"{d}/lineitem.parquet")
        .where(F.col("l_suppkey") == 4)
        .orderBy(F.col("l_extendedprice").desc())
        .limit(5).select("l_extendedprice").collect()
    )
    assert {r[0] for r in top5} == {8000.0}


def _adversarial_cluster_dir(spark):
    """Degenerate CLUSTER shapes (r7 verdict item 6) under the fixed
    8-centroid convention (centroids = vec_id < 8): the vector fixture
    above stresses ingest; this one stresses the cell-scoped operators'
    group boundaries.

    - cell 0 is a giant cell containing a FOUR-way exact-duplicate /
      scaled-copy group (pairwise cosine distance exactly 0, so LOF's
      k-distance is 0, every reachability sum is 0 and the lrd NULL
      branch fires), two mirror-jitter pairs at two radii (EXACT ties
      in the 3NN distance, broken only by vec_id), and an antipodal
      vector equidistant (d = 1e6) from everything in the cell;
    - cell 1 holds exactly k+1 = 4 members (every point's 3NN is all
      of the others; the kNN graph is complete);
    - cell 3 holds exactly 3 members — INSIDE TwoNN's >= 3 gate but
      OUTSIDE LOF/hubness's > 3 gate, so the two gates must disagree
      on exactly this cell;
    - cell 2 holds 2 members and cells 4-5 are singletons (below every
      gate); cell 7 is EMPTY because centroid 7 duplicates centroid 6
      (ties on assignment collapse into cell 6), which also drives
      silhouette's greatest(a, b) = 0 branch for dim-6-axis vectors;
    - a zero vector that ingest must drop.

    Jitters are +-0.1/+-0.2 so every cosine sits far from the 1e-6
    rounding grid's half-boundaries (mirror SYMMETRY, not proximity,
    produces the ties — both engines see bit-identical float32 inputs
    and exactly tied distances).
    """
    dim = 64

    def onehot(i, scale=1.0):
        v = [0.0] * dim
        v[i] = scale
        return v

    def jitter(axis, jaxis, j):
        v = [0.0] * dim
        v[axis] = 1.0
        v[jaxis] = j
        return v

    rows = []

    def add(vid, vec, label):
        rows.append((vid, [float(x) for x in vec], label))

    for i in range(7):
        add(i, onehot(i), i % 3)
    add(7, onehot(6), 1)               # duplicate centroid: cell 7 empty
    # cell 0: giant cell
    add(10, onehot(0), 0)              # exact copy of centroid 0
    add(11, onehot(0), 1)              # second exact copy
    add(12, onehot(0, 2.0), 2)         # scaled copy: cosine exactly 1
    add(13, jitter(0, 1, 0.1), 0)      # mirror pair: d(13,0)==d(14,0)
    add(14, jitter(0, 1, -0.1), 1)
    add(15, jitter(0, 1, 0.2), 2)      # axis-symmetric pair at radius 2:
    add(16, jitter(0, 2, 0.2), 0)      #   d(15,0)==d(16,0)
    add(50, onehot(7, -1.0), 0)        # antipodal: cos 0 to all centroids
    # cell 1: exactly k+1 = 4 members
    add(20, jitter(1, 0, 0.1), 1)
    add(21, jitter(1, 0, -0.1), 2)
    add(22, jitter(1, 2, 0.1), 0)
    # cell 2: 2 members (below every gate)
    add(30, jitter(2, 3, 0.1), 1)
    # cell 3: exactly 3 members (TwoNN keeps, LOF/hubness drop)
    add(40, jitter(3, 4, 0.1), 2)
    add(41, jitter(3, 4, -0.1), 0)
    # cell 6: scaled copy of the duplicated centroid (a = b = 0)
    add(60, onehot(6, 3.0), 2)
    add(99, [0.0] * dim, 0)            # zero vector: dropped at ingest

    d = tempfile.mkdtemp()
    t = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    pq.write_table(
        pa.Table.from_pandas(t.toPandas()),
        os.path.join(d, "embeddings.parquet"),
    )
    return d


def test_adversarial_cluster_differentials(spark):
    d = _adversarial_cluster_dir(spark)
    fails = {}
    for name in ADVERSARIAL_EMBEDDING_QUERIES:
        try:
            problems = compare(
                reg.QUERIES[name](spark, d), reg.ORACLES[name], d
            )
        except Exception as exc:  # crash = red
            problems = [repr(exc)[:200]]
        if problems:
            fails[name] = problems
    assert not fails, fails


def test_adversarial_cluster_fixture_hits_the_branches(spark):
    """Guard against a vacuous pass: the fixture must actually drive
    the degenerate branches it was built for."""
    d = _adversarial_cluster_dir(spark)
    lof = {r["vec_id"]: r for r in
           reg.QUERIES["lof_embeddings"](spark, d).collect()}
    # the zero-distance quadruple fires the lrd NULL branch
    assert {0, 10, 11, 12} <= set(lof), "quad missing from LOF cells"
    assert all(lof[v]["lof_ppm"] is None for v in (0, 10, 11, 12))
    # cell 3 (3 members) is outside LOF's > 3 gate...
    assert not any(r["cluster_id"] == 3 for r in lof.values())
    # ...but inside TwoNN's >= 3 gate
    twonn = {r["cluster_id"] for r in
             reg.QUERIES["twonn_intrinsic_dim"](spark, d).collect()}
    assert 3 in twonn
    # cell 1 is exactly k+1: every member's kNN graph is complete
    cell1 = [r for r in lof.values() if r["cluster_id"] == 1]
    assert len(cell1) == 4
    assert all(r["n_neighbors"] == 3 for r in cell1)
    # duplicate centroid: cell 7 empty, dim-6 axis silhouette == 0
    sil = {r["vec_id"]: r for r in
           reg.QUERIES["silhouette_embeddings"](spark, d).collect()}
    assert not any(r["cluster_id"] == 7 for r in sil.values())
    assert sil[60]["silhouette_fp"] == 0 and sil[60]["cluster_id"] == 6
    # zero vector dropped at ingest
    assert 99 not in sil


ADVERSARIAL_STREAMING_QUERIES = [
    # the eight replay lanes, on degenerate event data they have never
    # seen (the driver exercises them at sf0.01 only): constant-value
    # and two-value users, a 5-event minimum series, signup/purchase
    # conversion paths, ties on every value — watermark, session-gap,
    # state-store and interval-join edges at tiny cardinalities
    "streaming_minute_rollup_events",
    "streaming_run_length_events",
    "streaming_session_windows_events",
    "streaming_interval_join_events",
    "streaming_left_interval_join_events",
    "streaming_session_histogram_events",
    "streaming_cdc_state_events",
    "streaming_dedup_state_events",
]


def test_adversarial_cross_table_rrf(spark):
    """The ONE registry query that joins documents AND embeddings —
    neither single-table fixture exercises it, so build the union dir.
    The first run of this test caught rrf's vector leg missing the r6
    zero-vector ingest filter (ANSI /0 in the cosine where DuckDB's
    list_cosine_similarity silently yields -1)."""
    import shutil

    dd = _adversarial_documents_dir(spark)
    ed = _adversarial_embeddings_dir(spark)
    cd = tempfile.mkdtemp()
    shutil.copy(os.path.join(dd, "documents.parquet"), cd)
    shutil.copy(os.path.join(ed, "embeddings.parquet"), cd)
    problems = compare(
        reg.QUERIES["rrf_hybrid_retrieval"](spark, cd),
        reg.ORACLES["rrf_hybrid_retrieval"], cd,
    )
    assert not problems, problems


def test_adversarial_streaming_differentials(spark):
    d = _adversarial_events_dir(spark)
    fails = {}
    for name in ADVERSARIAL_STREAMING_QUERIES:
        try:
            problems = compare(
                reg.QUERIES[name](spark, d), reg.ORACLES[name], d
            )
        except Exception as exc:  # crash = red
            problems = [repr(exc)[:200]]
        if problems:
            fails[name] = problems
    assert not fails, fails

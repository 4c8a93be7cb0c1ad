"""Round-5 operator tests: vectorized DTW kernel and detector invariant
oracles."""

from __future__ import annotations

import numpy as np
import pytest

from anomaly_detection_spark.operators.dtw import (
    dtw_cents_kernel,
    dtw_cents_naive,
)


class TestDTWKernel:
    def test_fuzz_bit_equal_to_naive(self):
        rng = np.random.default_rng(42)
        for _ in range(300):
            n, m = rng.integers(1, 50, 2)
            a = rng.integers(-(10**6), 10**6, n)
            b = rng.integers(-(10**6), 10**6, m)
            assert dtw_cents_kernel(a, b) == dtw_cents_naive(a, b)

    def test_edges(self):
        assert dtw_cents_kernel([7], [9]) == 2
        assert dtw_cents_kernel([5], [1, 2, 3]) == dtw_cents_naive([5], [1, 2, 3])
        assert dtw_cents_kernel([1, 2, 3], [5]) == dtw_cents_naive([1, 2, 3], [5])
        assert dtw_cents_kernel([], [1, 2]) == 0
        assert dtw_cents_kernel([1], []) == 0
        # identical series -> zero distance
        s = list(range(100))
        assert dtw_cents_kernel(s, s) == 0

    def test_long_series_stays_vectorized(self):
        # the 1000-day synthetic series the r04 verdict asked about:
        # must agree with the naive DP and complete in well under a
        # second (the interpreted loop took ~1 s here)
        import time

        rng = np.random.default_rng(7)
        a = rng.integers(-(10**6), 10**6, 1000)
        b = rng.integers(-(10**6), 10**6, 1000)
        t0 = time.time()
        v = dtw_cents_kernel(a, b)
        elapsed = time.time() - t0
        assert v == dtw_cents_naive(a, b)
        assert elapsed < 0.5, f"kernel regressed to interpreted speed: {elapsed:.2f}s"

    def test_no_overflow_at_extreme_cents(self):
        # path cost ~ 2^40 per step x 2000 steps stays far below 2^61
        a = np.full(100, 2**39, dtype=np.int64)
        b = np.full(100, -(2**39), dtype=np.int64)
        assert dtw_cents_kernel(a, b) == 100 * 2**40


import datetime as dt
import os
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq

from anomaly_detection_spark import queries as reg

BASE = dt.datetime(2024, 1, 1, 0, 0, 0)


def _d(days, minutes=0):
    return BASE + dt.timedelta(days=days, minutes=minutes)


def _mini_dir(spark, events_rows=None, extra_tables=None):
    from pyspark.sql import functions as F

    d = tempfile.mkdtemp()
    if events_rows is not None:
        ev = spark.createDataFrame(
            events_rows,
            "user_id long, event_id long, ts timestamp_ntz, "
            "event_type string, value double",
        ).withColumn("props", F.lit("{}"))
        pq.write_table(
            pa.Table.from_pandas(ev.toPandas()),
            os.path.join(d, "events.parquet"),
        )
    for name, (rows, schema) in (extra_tables or {}).items():
        t = spark.createDataFrame(rows, schema)
        pq.write_table(
            pa.Table.from_pandas(t.toPandas()),
            os.path.join(d, f"{name}.parquet"),
        )
    return d


def test_diff_in_diff_planted_effect(spark):
    # control (user 2) flat at 10; treated (user 1) 10 pre, 16 post
    rows = []
    eid = 0
    for day in range(10, 20):  # pre: Jan 11-20
        for u, v in ((1, 10.0), (2, 10.0)):
            eid += 1
            rows.append((u, eid, _d(day), "view", v))
    for day in range(20, 30):  # post: Jan 21-30 (>= Jan 16 cut? no)
        for u, v in ((1, 16.0), (2, 10.0)):
            eid += 1
            rows.append((u, eid, _d(day), "view", v))
    d = _mini_dir(spark, rows)
    row = reg.QUERIES["diff_in_diff_events"](spark, d).collect()[0]
    # user 1 is treat (odd), post cut is Jan 16: pre holds days 11-15
    assert row.m_t_pre == 10.0 and row.m_c_pre == 10.0
    assert row.m_c_post == 10.0
    assert row.did == row.m_t_post - 10.0 > 0


def test_hbos_flags_rare_bin_highest(spark):
    # 40 events at value~100 in one hour, 1 event at 400 (rare value
    # bin AND rare hour) -> the outlier carries the top score
    rows = [(1, i, _d(0, i), "view", 100.0) for i in range(40)]
    rows.append((1, 99, _d(0, 60 * 5), "view", 400.0))
    d = _mini_dir(spark, rows)
    out = reg.QUERIES["hbos_outlier_events"](spark, d).collect()
    top = max(out, key=lambda r: r.hbos_fp)
    assert top.event_id == 99


def test_holt_winters_constant_series_converges(spark):
    from anomaly_detection_spark.detect.robust import holt_winters

    rows = [(1, _d(i), 20.0) for i in range(20)]
    df = spark.createDataFrame(rows, "user_id long, day timestamp_ntz, dval double")
    out = {r.rn: r for r in holt_winters(
        df, ["user_id"], ["day"], "dval").collect()}
    # constant input: level locks to the value, trend decays to ~0
    assert out[1].level == 20.0
    assert abs(out[20].level - 20.0) < 0.5
    assert abs(out[20].trend) < 0.1


def test_binseg_finds_planted_shifts(spark):
    # 30 points: 0-9 at 10, 10-19 at 50, 20-29 at 90 -> global split in
    # the middle region, then each side finds its own boundary
    rows = [(1, i, _d(0, i), "view", 10.0) for i in range(10)]
    rows += [(1, 10 + i, _d(0, 10 + i), "view", 50.0) for i in range(10)]
    rows += [(1, 20 + i, _d(0, 20 + i), "view", 90.0) for i in range(10)]
    d = _mini_dir(spark, rows)
    row = reg.QUERIES["binseg_changepoints_user"](spark, d).collect()[0]
    # the symmetric staircase TIES the CUSUM stat across i = 10..20
    # (|n·p−i·s| is constant along the middle ramp), so the
    # smallest-index tiebreak lands on the first boundary; the right
    # half then isolates the second boundary exactly, and the flat
    # left half has a degenerate zero statistic
    assert row.cp1_index == 10
    assert row.cp_right_index == 20
    assert row.cp_left_stat == 0.0


def test_bootstrap_ci_brackets_mean(spark):
    rows = [(1, i, _d(0, i), "view", float(10 + (i % 5))) for i in range(200)]
    d = _mini_dir(spark, rows)
    row = reg.QUERIES["bootstrap_mean_ci_events"](spark, d).collect()[0]
    assert row.n_replicates == 32
    assert row.ci_lo <= row.mean_value <= row.ci_hi
    assert row.ci_lo < row.ci_hi  # resampling variation exists


def test_markov_removal_sole_path_channel_dominates(spark):
    # every conversion goes view -> click -> purchase; signup leads
    # nowhere.  Removing click must kill (almost) all conversion.
    rows = []
    eid = 0
    for u in range(1, 11):
        for i, t in enumerate(("view", "click", "purchase")):
            eid += 1
            rows.append((u, eid, _d(0, u * 10 + i), t, 1.0))
    for u in range(11, 16):
        eid += 1
        rows.append((u, eid, _d(0, u * 10), "signup", 1.0))
    d = _mini_dir(spark, rows)
    out = {r.channel: r for r in
           reg.QUERIES["markov_removal_attribution"](spark, d).collect()}
    assert out["click"].p_removed_fp == 0
    assert out["click"].removal_effect_ppm == 1000000
    assert out["signup"].removal_effect_ppm == 0


def test_kcore_peels_tail_keeps_clique(spark):
    # the registered query builds its own edges from near-dup text; use
    # 4 identical docs (a 4-clique via dedupe family? identical sets
    # collapse) -- instead craft 3 mutually-similar docs + 1 pendant
    base = ("one two three four five six seven eight nine ten eleven "
            "twelve thirteen fourteen fifteen sixteen seventeen eighteen "
            "nineteen")
    docs = [
        (0, base + " zeta", "en", 30, "s"),
        (1, base + " eta", "en", 30, "s"),
        (2, base + " theta", "en", 30, "s"),
        (3, "alpha beta completely different words here", "en", 30, "s"),
        (4, "unrelated text entirely separate tokens", "en", 30, "s"),
    ]
    d = _mini_dir(spark, extra_tables={
        "documents": (docs, "doc_id long, text string, lang string, "
                            "n_chars long, source string"),
    })
    out = {r.doc_id: r.core_degree for r in
           reg.QUERIES["kcore_dup_graph"](spark, d).collect()}
    # docs 0,1,2 form a triangle (pairwise jaccard 5/7 >= 0.5); doc 3
    # attaches to nothing at >= 0.5, doc 4 isolated
    assert set(out) == {0, 1, 2}
    assert all(deg == 2 for deg in out.values())


def test_hodges_lehmann_known_walsh_median(spark):
    rows = [
        (1, 1, _d(0, 1), "purchase", 1.0),
        (1, 2, _d(0, 2), "purchase", 2.0),
        (1, 3, _d(0, 3), "purchase", 10.0),
    ]
    d = _mini_dir(spark, rows)
    row = reg.QUERIES["hodges_lehmann_user"](spark, d).collect()[0]
    # walsh sums (cents): 200,300,400,1100,1200,2000 -> medians 400,1100
    assert row.n_walsh == 6
    assert row.hl_fp == 1500
    assert row.hl_value == 3.75


def test_rfm_quintile_law(spark):
    # 10 users, user k makes k purchases of value k on day k
    rows = []
    eid = 0
    for u in range(1, 11):
        for i in range(u):
            eid += 1
            rows.append((u, eid, _d(u, i), "purchase", float(u)))
    d = _mini_dir(spark, rows)
    out = {r.user_id: r for r in
           reg.QUERIES["rfm_segments_users"](spark, d).collect()}
    # frequency and monetary rank identically -> same quintile; user 10
    # is best on F/M and most recent
    assert out[10].f_score == 5 and out[10].m_score == 5
    assert out[10].r_score == 5
    assert out[1].f_score == 1 and out[1].m_score == 1 and out[1].r_score == 1
    # quintile law: two users per score bucket
    from collections import Counter
    assert Counter(r.f_score for r in out.values()) == Counter(
        {1: 2, 2: 2, 3: 2, 4: 2, 5: 2})


def test_ndcg_planted_copy_ranks_first(spark):
    docs = [(i, f"doc number {i} with shared words plus unique{i}",
             "en", 40, "s") for i in range(100)]
    d = _mini_dir(spark, extra_tables={
        "documents": (docs, "doc_id long, text string, lang string, "
                            "n_chars long, source string"),
    })
    out = {r.probe_id: r for r in
           reg.QUERIES["ndcg_dup_retrieval"](spark, d).collect()}
    # probes 0..3 (doc_id % 100 < 4): exact copy must be found in top-10
    assert set(out) == {0, 1, 2, 3}
    for r in out.values():
        assert r.n_relevant == 2
        assert r.hits_at_10 >= 1
        assert 0 < r.ndcg_ppm <= 1000000


def test_conformal_coverage_law(spark):
    # 20 days: diffs alternate 1.0 / 3.0 -> q covers everything at the
    # 0.9 rank; coverage on the test tail must be 1e6 ppm
    vals = [10.0]
    for i in range(19):
        vals.append(vals[-1] + (1.0 if i % 2 == 0 else 3.0))
    rows = [(1, i, _d(i), "view", v) for i, v in enumerate(vals)]
    d = _mini_dir(spark, rows)
    row = reg.QUERIES["conformal_interval_events"](spark, d).collect()[0]
    assert row.n_days == 20 and row.m_cal == 15
    assert row.q_micros == 3000000
    assert row.coverage_ppm == 1000000


def test_theta_sketch_small_sets_exact(spark):
    # under k=64 distinct users the sketch is exact by definition
    rows = [(u, u, _d(0, u), "view", 1.0) for u in range(1, 31)]
    rows += [(u, 100 + u, _d(0, 100 + u), "click", 1.0) for u in range(1, 11)]
    d = _mini_dir(spark, rows)
    out = {r.event_type: r for r in
           reg.QUERIES["theta_sketch_users"](spark, d).collect()}
    assert out["view"].n_exact == out["view"].kmv_estimate == 30
    assert out["click"].n_exact == out["click"].kmv_estimate == 10
    assert out["__ALL__"].n_exact == out["__ALL__"].kmv_estimate == 30


def test_page_hinkley_flags_level_shift(spark):
    # 50 points at 10, then 50 points at 200: the running-mean lag makes
    # post-shift terms hugely positive -> PH crosses the 50-unit lambda
    rows = [(1, i, _d(0, i), "view", 10.0) for i in range(50)]
    rows += [(1, 50 + i, _d(0, 50 + i), "view", 200.0) for i in range(50)]
    d = _mini_dir(spark, rows)
    out = reg.QUERIES["page_hinkley_users"](spark, d).collect()
    by_i = {r.i: r for r in out}
    assert all(by_i[i].drift_flag == 0 for i in range(1, 51))
    assert by_i[100].drift_flag == 1


def test_cohort_ltv_cumulative_law(spark):
    rows = [
        (1, 1, _d(0, 1), "signup", 0.0),
        (1, 2, _d(0, 30), "purchase", 5.0),   # age 0
        (1, 3, _d(1, 0), "purchase", 7.0),    # age 1
        (2, 4, _d(0, 2), "signup", 0.0),      # same cohort day
    ]
    d = _mini_dir(spark, rows)
    out = {r.age: r for r in reg.QUERIES["cohort_ltv_daily"](spark, d).collect()}
    assert out[0].n_users == 2 and out[0].cum_cents == 500
    assert out[1].cum_cents == 1200
    # 1200 cents / 2 users on the 1e4-per-unit fp grid: 6.0 -> 60000
    assert out[1].ltv_per_user_fp == 1200 * 10000 // 2


def test_zorder_spans_narrow(spark):
    import pyarrow as pa
    import pyarrow.parquet as pq
    import tempfile, os
    rows = [(i, 1 + (i % 64), 1 + (i // 64) % 64, 1.0)
            for i in range(4096)]
    d = tempfile.mkdtemp()
    t = spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long, l_suppkey long, l_quantity double")
    pq.write_table(pa.Table.from_pandas(t.toPandas()),
                   os.path.join(d, "lineitem.parquet"))
    out = reg.QUERIES["zorder_layout_lineitem"](spark, d).collect()
    # uniform 64x64 grid into 16x16 buckets: every z-cell spans exactly
    # 1/16 of each dimension (4/64 keys)
    assert len(out) == 256
    assert all(r.part_hi - r.part_lo + 1 == 4 for r in out)
    assert all(r.supp_hi - r.supp_lo + 1 == 4 for r in out)


def test_woe_iv_direction(spark):
    # long docs pass quality, short docs fail -> high bins all good:
    # positive WOE at the top, negative at the bottom
    docs = []
    for i in range(50):
        docs.append((i, "tiny text", "en", 9, "s"))  # fails (n_toks < 20)
    for i in range(50, 100):
        docs.append((i, " ".join(["word"] * 30), "en", 149, "s"))
    d = _mini_dir(spark, extra_tables={
        "documents": (docs, "doc_id long, text string, lang string, "
                            "n_chars long, source string"),
    })
    out = {r.bin: r for r in
           reg.QUERIES["woe_iv_quality_bins"](spark, d).collect()}
    assert out[0].n_good == 0 and out[0].n_bad == 50
    assert out[9].n_good == 50 and out[9].n_bad == 0
    assert out[0].woe_fp < 0 < out[9].woe_fp
    assert out[0].iv_contrib_fp > 0 and out[9].iv_contrib_fp > 0


def test_logrank_identical_groups_null_effect(spark):
    # both parity groups convert identically -> O-E ~ 0, chi2 ~ 0
    rows = []
    eid = 0
    for u in range(1, 21):
        eid += 1
        rows.append((u, eid, _d(0), "signup", 1.0))
        eid += 1
        rows.append((u, eid, _d(3), "purchase", 1.0))
    d = _mini_dir(spark, rows)
    row = reg.QUERIES["logrank_test_conversion"](spark, d).collect()[0]
    assert row.n_events == 20
    assert row.oe_sum_ppm == 0
    assert row.chi2 == 0.0


def test_hill_pareto_recovers_alpha(spark):
    # exact Pareto(alpha=2) quantiles: x_i = (n/i)^(1/2); Hill on the
    # top 50 of 500 should estimate alpha ~ 2
    import math
    rows = []
    for i in range(1, 501):
        v = (500.0 / i) ** 0.5
        rows.append((1, i, _d(0, i), "view", v))
    d = _mini_dir(spark, rows)
    row = reg.QUERIES["hill_tail_index_events"](spark, d).collect()[0]
    assert row.k_used == 50
    assert 1.6 < row.hill_alpha < 2.4


def test_readability_simple_sentence(spark):
    docs = [(0, "the cat sat on the mat.", "en", 23, "s")]
    d = _mini_dir(spark, extra_tables={
        "documents": (docs, "doc_id long, text string, lang string, "
                            "n_chars long, source string"),
    })
    row = reg.QUERIES["readability_docs"](spark, d).collect()[0]
    # 6 monosyllabic words, 1 sentence
    assert row.n_words == 6 and row.n_sent == 1 and row.n_syll == 6
    assert row.n_complex == 0
    assert row.flesch == round(206.835 - 1.015 * 6 - 84.6 * 1.0, 4)


def test_time_decay_halving_law(spark):
    # touches 0, 7, and 14 days before the purchase: weights 1, 1/2, 1/4
    rows = [
        (1, 1, _d(0), "view", 1.0),      # 14 days before -> >> 2
        (1, 2, _d(7), "click", 1.0),     # 7 days before  -> >> 1
        (1, 3, _d(13), "signup", 1.0),   # 1 day before   -> >> 0
        (1, 4, _d(14), "purchase", 5.0),
    ]
    d = _mini_dir(spark, rows)
    out = {r.event_type: r for r in
           reg.QUERIES["attribution_time_decay"](spark, d).collect()}
    assert out["view"].weight_fp == 250000
    assert out["click"].weight_fp == 500000
    assert out["signup"].weight_fp == 1000000
    total = 1750000
    assert out["signup"].credit_ppm_sum == 1000000 * 1000000 // total


def test_good_turing_known_fof(spark):
    # corpus: "a a b c" -> N=4, V=3, N1=2 (b,c), N2=1 (a)
    docs = [(0, "a a b c", "en", 7, "s")]
    d = _mini_dir(spark, extra_tables={
        "documents": (docs, "doc_id long, text string, lang string, "
                            "n_chars long, source string"),
    })
    row = reg.QUERIES["good_turing_vocab"](spark, d).collect()[0]
    assert (row.n_tokens, row.vocab, row.n1, row.n2) == (4, 3, 2, 1)
    assert row.unseen_mass_ppm == 500000
    assert row.chao1_richness == 3 + 2 * 2 // 2


def test_fano_regular_vs_bursty(spark):
    # user 1: one event per day for 10 days (regular, Fano -> 0);
    # user 2: all 10 events on one day (bursty, Fano = var/mean >> 1)
    rows = [(1, i, _d(i), "view", 1.0) for i in range(10)]
    rows += [(2, 100 + i, _d(0, i), "view", 1.0) for i in range(10)]
    d = _mini_dir(spark, rows)
    out = {r.user_id: r for r in
           reg.QUERIES["fano_factor_users"](spark, d).collect()}
    assert out[1].fano_ppm == 0  # constant 1/day over the grid
    assert out[2].fano_ppm > 1000000  # overdispersed


def test_roc_endpoints(spark):
    docs = [(i, " ".join(["word"] * 30), "en", 149, "s") for i in range(20)]
    d = _mini_dir(spark, extra_tables={
        "documents": (docs, "doc_id long, text string, lang string, "
                            "n_chars long, source string"),
    })
    out = {r.threshold_decile: r for r in
           reg.QUERIES["roc_points_quality"](spark, d).collect()}
    # threshold 0 accepts everything; threshold 10 (score >= 1.0)
    # accepts only perfect scores (none for the logistic)
    assert out[0].tpr_ppm == 1000000
    assert out[10].tp == 0 and out[10].fp == 0


def test_kruskal_wallis_identical_groups(spark):
    # identical value multisets per type -> rank sums proportional to
    # group sizes -> H ~ 0
    rows = []
    eid = 0
    for t in ("view", "click"):
        for i in range(20):
            eid += 1
            rows.append((1, eid, _d(0, eid), t, float(i % 5)))
    d = _mini_dir(spark, rows)
    out = reg.QUERIES["kruskal_wallis_types"](spark, d).collect()
    assert all(abs(r.h_stat) < 0.01 for r in out)
    # equal group sizes share the same doubled-rank sum
    assert len({r.rank2_sum for r in out}) == 1


def test_dedup_eval_perfect_recall_on_planted(spark):
    docs = [(i, f"document number {i} " + " ".join(
        f"tok{i}_{j}" for j in range(20)), "en", 200, "s")
        for i in range(100)]
    d = _mini_dir(spark, extra_tables={
        "documents": (docs, "doc_id long, text string, lang string, "
                            "n_chars long, source string"),
    })
    row = reg.QUERIES["dedup_detector_eval"](spark, d).collect()[0]
    # 5 exact copies (ids 0,20,..,80) + 5 near copies (10,30,..,90)
    assert row.tp == 10 and row.fn == 0
    assert row.recall_ppm == 1000000


def test_load_table_directory_layout(spark):
    # Spark-written DATASET directories (prod layouts) must load through
    # the same ns-normalization path as single files
    import tempfile, os
    from anomaly_detection_spark.sources.tables import load_table

    src = load_table(spark, "events", "/root/testdata/sf0.001")
    d = tempfile.mkdtemp()
    path = os.path.join(d, "events.parquet")
    src.repartition(3).write.parquet(path)  # directory with 3 part files
    back = load_table(spark, "events", d)
    assert back.count() == src.count()
    assert dict(back.dtypes)["ts"] == dict(src.dtypes)["ts"]

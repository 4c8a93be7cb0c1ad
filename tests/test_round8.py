"""Round-8 tests: the rank_family single-plan rebuild.

The r8 mass reverify (r7 verdict item 3) caught a real bug in the
``unpersist_after_offsets`` path added in r7: releasing the cache
before the output action made the output job recompile the plan and
RE-SAMPLE the ``repartitionByRange`` boundaries, silently mis-shifting
every rank once a partition held more rows than the reservoir sample
(~100 rows per output partition).  At 100k rows ``global_rn`` was not
even a permutation and ``ntile(8)`` emitted 9 buckets; small
dictionary inputs (the only ones the r7 tests exercised) sampled
exhaustively and hid it.

``rank_family`` is now ONE plan: the per-partition stats branch and
the output branch share the same range-exchange subtree, so Catalyst's
exchange reuse executes the shuffle once and both branches observe
identical boundaries — no cache, no driver action.  These tests pin:

1. the permutation law AT the boundary-subsampling scale that exposed
   the bug (100k rows, far above the sample size);
2. the ``ReusedExchange`` node in the final adaptive plan (the
   structural guarantee the correctness argument rests on);
3. ANSI parity of pct_rank/cume/tile against Spark's own global
   window at a scale where the single-task window is still fine;
4. every registered rank_family caller leaves zero persistent RDDs
   after a full materialization (the r7 verdict's done-criterion).
"""

from __future__ import annotations

import re

import pytest

from anomaly_detection_spark import queries as reg
from anomaly_detection_spark.operators.ranking import rank_family
from tests.oracle_check import compare

RANK_FAMILY_CALLERS = [
    "rank_family_orders",
    "equi_depth_value_buckets",
    "decile_lift_table",
    "sorted_neighborhood_parts",
    "borda_consensus_docs",
    "rrf_hybrid_retrieval",
    "bh_fdr_user_anomalies",
    "zipf_heaps_corpus",
    "lorenz_curve_users",
    "rfm_segments_users",
    "decision_stump_events",
    "ppjoin_jaccard_pairs",
    # r9/r10 grouped-mode consumers
    "kendall_w_event_types",
    "domain_length_deciles_docs",
]


def test_rank_family_permutation_at_subsampling_scale(spark):
    # hash() scatters keys so every partition holds far more rows than
    # the RangePartitioner reservoir sample — the regime where the old
    # two-action implementation produced non-permutation ranks.
    df = spark.range(0, 100_000).selectExpr(
        "id", "cast(hash(id) as long) as k"
    )
    out = rank_family(df, ["k", "id"], ntile_n=8)
    rows = out.select("global_rn", "tile").collect()
    rns = sorted(r["global_rn"] for r in rows)
    assert rns == list(range(1, 100_001))
    # exact equi-depth: 8 tiles of exactly 12500 rows
    sizes: dict[int, int] = {}
    for r in rows:
        sizes[r["tile"]] = sizes.get(r["tile"], 0) + 1
    assert sizes == {t: 12_500 for t in range(1, 9)}


def test_rank_family_plan_reuses_range_exchange(spark):
    df = spark.range(0, 50_000).selectExpr(
        "id", "cast(hash(id) as long) as k"
    )
    out = rank_family(df, ["k", "id"])
    out.collect()  # finalize the adaptive plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"isFinalPlan=(\w+)", plan)
    assert m and m.group(1) == "true"
    assert "ReusedExchange" in plan, (
        "stats and output branches executed the range exchange "
        "separately — boundary re-sampling can mis-shift ranks"
    )


def test_rank_family_matches_global_window_semantics(spark):
    # ties included: k has duplicates, id breaks them
    df = spark.range(0, 5_000).selectExpr(
        "id", "cast(id % 37 as long) as k"
    )
    got = {
        r["id"]: r
        for r in rank_family(df, ["k", "id"], ntile_n=7).collect()
    }
    ref = {
        r["id"]: r
        for r in df.selectExpr(
            "id",
            "row_number() over (order by k, id) as global_rn",
            "rank() over (order by k, id) as rnk",
            "dense_rank() over (order by k, id) as drnk",
            "percent_rank() over (order by k, id) as pct_rank",
            "cume_dist() over (order by k, id) as cume",
            "ntile(7) over (order by k, id) as tile",
        ).collect()
    }
    assert got.keys() == ref.keys()
    for i, g in got.items():
        r = ref[i]
        assert (g["global_rn"], g["rnk"], g["drnk"], g["tile"]) == (
            r["global_rn"], r["rnk"], r["drnk"], r["tile"]
        ), i
        assert g["pct_rank"] == pytest.approx(r["pct_rank"], abs=1e-12)
        assert g["cume"] == pytest.approx(r["cume"], abs=1e-12)


def _persistent_rdd_ids(spark) -> set[int]:
    """Ids (not count) of currently-persisted RDDs.  Exact-count
    equality is flaky in a long session: the async ContextCleaner can
    unpersist EARLIER tests' localCheckpoint RDDs (kcore/LOF/dedup)
    mid-loop once their references are GC'd, so the count may DROP
    through no fault of the code under test.  Set difference is immune:
    only NEW ids appearing across a caller indicate a leak."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(i) for i in jmap.keySet().toArray()}


def test_rank_family_callers_leak_no_cache_and_stay_green(spark, sf_dir):
    for name in RANK_FAMILY_CALLERS:
        before = _persistent_rdd_ids(spark)
        problems = compare(reg.QUERIES[name](spark, sf_dir),
                           reg.ORACLES[name], sf_dir)
        assert not problems, (name, problems)
        new_ids = _persistent_rdd_ids(spark) - before
        assert not new_ids, (
            f"{name} left persistent RDDs behind: {sorted(new_ids)}"
        )


def _write_parquet(spark, d, name, rows, schema):
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    t = spark.createDataFrame(rows, schema)
    pq.write_table(
        pa.Table.from_pandas(t.toPandas()),
        os.path.join(d, f"{name}.parquet"),
    )


def test_adjusted_rand_laws(spark, tmp_path):
    """ARI = exactly 1 when the labeling IS the clustering, exactly 0
    (chance level) against a constant labeling."""
    dim = 16
    rows = []
    for i in range(8):
        for s, vid in ((1.0, i), (2.0, 100 + i), (3.0, 200 + i),
                       (4.0, 300 + i)):
            v = [0.0] * dim
            v[i] = s
            rows.append((vid, [float(x) for x in v], i))
    d = str(tmp_path / "perfect")
    (tmp_path / "perfect").mkdir()
    _write_parquet(spark, d, "embeddings",
                   rows, "vec_id long, embedding array<float>, label int")
    out = reg.QUERIES["adjusted_rand_embeddings"](spark, d).collect()[0]
    assert out["ari_ppm"] == 1_000_000 and out["n"] == 32
    # same vectors, constant labels -> chance level exactly
    rows0 = [(vid, v, 0) for vid, v, _ in rows]
    d0 = str(tmp_path / "const")
    (tmp_path / "const").mkdir()
    _write_parquet(spark, d0, "embeddings",
                   rows0, "vec_id long, embedding array<float>, label int")
    out0 = reg.QUERIES["adjusted_rand_embeddings"](spark, d0).collect()[0]
    assert out0["ari_ppm"] == 0
    # both laws hold under the driver's exact compare too
    for dd in (d, d0):
        assert not compare(
            reg.QUERIES["adjusted_rand_embeddings"](spark, dd),
            reg.ORACLES["adjusted_rand_embeddings"], dd,
        )


def test_fellegi_sunter_closed_form(spark, tmp_path):
    """Planted sample with known agreement counts: doc 0 contributes
    the exact-copy match pair (agrees everywhere), doc 10 the near-copy
    pair (prefix and length-bucket agree, token count and last word
    cannot); the six consecutive non-match pairs disagree on every
    field.  Add-one-smoothed m/u are exact integer rationals."""
    import math

    # consecutive pairs must disagree on ALL four fields — token
    # counts all distinct, first characters distinct, length buckets
    # (len div 50) alternate, last words distinct
    docs = [
        (0, "alpha beta gamma delta epsilon zeta"),   # 6 tok, 35ch b0
        (1, "bravo " + "c" * 54),                     # 2 tok, 60ch b1
        (2, "x " * 50 + "end"),                       # 51 tok, 103ch b2
        (3, "delta"),                                 # 1 tok, 5ch b0
        (4, "echo foxtrot golf hotel india juliet kilo lima " * 3
            + "omega"),                               # 25 tok, 146ch b2
        (5, "zulu yankee xray whiskey"),              # 4 tok, 24ch b0
        (10, "first second third fourth"),            # 4 tok, 25ch b0
        (11, "k " * 40 + "terminal"),                 # 41 tok, 88ch b1
    ]
    d = str(tmp_path)
    _write_parquet(spark, d, "documents", docs,
                   "doc_id long, text string")
    out = {r["field"]: r for r in
           reg.QUERIES["fellegi_sunter_weights"](spark, d).collect()}
    nm, nu = 2, 6
    assert all(r["n_match"] == nm and r["n_nonmatch"] == nu
               for r in out.values())
    # agreement counts: exact-copy pair agrees on all 4; near-copy pair
    # agrees on prefix + length bucket only (both texts stay in bucket 0)
    expected_am = {"ntok": 1, "pfx": 2, "lenb": 2, "lastw": 1}
    for f, am in expected_am.items():
        r = out[f]
        assert r["m_ppm"] == (am + 1) * 1_000_000 // (nm + 2), f
        assert r["u_ppm"] == 1_000_000 // (nu + 2), f
        wa = math.floor(
            math.log2((am + 1) * (nu + 2) / ((nm + 2) * 1)) * 1e6 + 0.5
        )
        wd = math.floor(
            math.log2((nm + 1 - am) * (nu + 2) / ((nm + 2) * (nu + 1)))
            * 1e6 + 0.5
        )
        assert abs(r["w_agree_fp"] - wa) <= 1, f
        assert abs(r["w_disagree_fp"] - wd) <= 1, f
    # and the driver's exact compare holds on the fixture
    assert not compare(
        reg.QUERIES["fellegi_sunter_weights"](spark, d),
        reg.ORACLES["fellegi_sunter_weights"], d,
    )


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    keys=st.lists(st.integers(min_value=-3, max_value=3),
                  min_size=0, max_size=120),
    p=st.integers(min_value=1, max_value=7),
    ntile_n=st.integers(min_value=1, max_value=5),
)
def test_rank_family_fuzz_matches_global_window(spark, keys, p, ntile_n):
    """Arbitrary duplicate-heavy key lists, partition counts and tile
    counts: the whole rank family must equal Spark's own global window
    (which is trivially correct at this size)."""
    df = spark.createDataFrame(
        [(i, k) for i, k in enumerate(keys)], "id long, k long"
    )
    got = {
        r["id"]: (r["global_rn"], r["rnk"], r["drnk"], r["tile"],
                  round(r["pct_rank"], 9), round(r["cume"], 9))
        for r in rank_family(df, ["k", "id"], ntile_n=ntile_n,
                             num_partitions=p).collect()
    }
    want = {
        r["id"]: (r["global_rn"], r["rnk"], r["drnk"], r["tile"],
                  round(r["pct_rank"], 9), round(r["cume"], 9))
        for r in df.selectExpr(
            "id",
            "row_number() over (order by k, id) as global_rn",
            "rank() over (order by k, id) as rnk",
            "dense_rank() over (order by k, id) as drnk",
            f"ntile({ntile_n}) over (order by k, id) as tile",
            "percent_rank() over (order by k, id) as pct_rank",
            "cume_dist() over (order by k, id) as cume",
        ).collect()
    }
    assert got == want

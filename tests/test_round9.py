"""Round-9 guards: rank_family fail-fast hardening (r8 ADVICE) and the
freshness-sweep rotation tier (r8 verdict item 2).

rank_family's soundness rests on Catalyst exchange reuse and non-null
order keys; both were documented caveats until now.  These tests pin the
mechanical versions: a disabled ``spark.sql.exchange.reuse`` raises at
call time (before any job could publish mis-shifted ranks), and a NULL
order key fails the job loudly instead of adopting a silent placement.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from anomaly_detection_spark import queries as reg
from anomaly_detection_spark.operators.ranking import rank_family


def test_rank_family_raises_when_exchange_reuse_disabled(spark):
    df = spark.range(10).withColumn("k", F.col("id") % 3)
    spark.conf.set("spark.sql.exchange.reuse", "false")
    try:
        with pytest.raises(RuntimeError, match="exchange.reuse"):
            rank_family(df, ["k", "id"])
    finally:
        spark.conf.set("spark.sql.exchange.reuse", "true")
    # restored conf -> normal operation resumes
    assert rank_family(df, ["k", "id"]).count() == 10


def test_rank_family_null_order_key_fails_loudly(spark):
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 30)], "id int, k int"
    )
    ranked = rank_family(df, ["k"])  # plan builds fine; evaluation raises
    with pytest.raises((Py4JJavaError, PySparkException)) as ei:
        ranked.collect()
    assert "NULL order key" in str(ei.value)


def test_rank_family_non_null_keys_unaffected_by_guard(spark):
    """The assert_true wrapper must be value-transparent: ranks over an
    all-non-null key column match the single-partition window oracle."""
    df = spark.createDataFrame(
        [(i, (i * 7) % 5) for i in range(40)], "id int, k int"
    )
    got = {
        r["id"]: (r["global_rn"], r["rnk"], r["drnk"])
        for r in rank_family(df, ["k", "id"]).collect()
    }
    ref = {
        r["id"]: (r["global_rn"], r["rnk"], r["drnk"])
        for r in df.selectExpr(
            "id",
            "row_number() over (order by k, id) as global_rn",
            "rank() over (order by k, id) as rnk",
            "dense_rank() over (order by k, id) as drnk",
        ).collect()
    }
    assert got == ref


def test_rank_family_grouped_matches_partitioned_window(spark):
    """r9: partition_cols mode must reproduce
    rank()/dense_rank()/row_number()/ntile() OVER (PARTITION BY g
    ORDER BY ...) exactly — tie-heavy groups of very different sizes,
    forced across 7 range partitions so groups straddle parts."""
    rows = []
    rid = 0
    for g, size in (("a", 57), ("b", 3), ("c", 1), ("d", 24)):
        for i in range(size):
            rid += 1
            rows.append((rid, g, (i * 5) % 7))  # heavy ties per group
    df = spark.createDataFrame(rows, "id int, g string, k int")
    got = {
        r["id"]: (r["global_rn"], r["rnk"], r["drnk"], r["tile"])
        for r in rank_family(
            df, ["k", "id"], ntile_n=4, num_partitions=7,
            partition_cols=["g"],
        ).collect()
    }
    ref = {
        r["id"]: (r["global_rn"], r["rnk"], r["drnk"], r["tile"])
        for r in df.selectExpr(
            "id",
            "row_number() over (partition by g order by k, id)"
            " as global_rn",
            "rank() over (partition by g order by k, id) as rnk",
            "dense_rank() over (partition by g order by k, id) as drnk",
            "ntile(4) over (partition by g order by k, id) as tile",
        ).collect()
    }
    assert got == ref


def test_rank_family_grouped_pct_cume_match(spark):
    """pct_rank/cume in grouped mode use the PER-GROUP total."""
    import pytest

    rows = [(i, "x" if i <= 6 else "y", i % 3) for i in range(1, 16)]
    df = spark.createDataFrame(rows, "id int, g string, k int")
    got = {
        r["id"]: (r["pct_rank"], r["cume"])
        for r in rank_family(
            df, ["k", "id"], num_partitions=5, partition_cols=["g"]
        ).collect()
    }
    ref = {
        r["id"]: (r["pct_rank"], r["cume"])
        for r in df.selectExpr(
            "id",
            "percent_rank() over (partition by g order by k, id)"
            " as pct_rank",
            "cume_dist() over (partition by g order by k, id) as cume",
        ).collect()
    }
    assert got.keys() == ref.keys()
    for i in got:
        assert got[i][0] == pytest.approx(ref[i][0], abs=1e-12), i
        assert got[i][1] == pytest.approx(ref[i][1], abs=1e-12), i


def test_lof_checkpoints_have_a_release_path(spark, sf_dir):
    """r8 ADVICE: LOF's eager localCheckpoints pin executor storage with
    no unpersist handle.  Pin the documented cleanup contract: the
    checkpoints appear while the result is live, and
    release_local_checkpoints() returns storage to the pre-call
    baseline once the result is materialized."""
    from anomaly_detection_spark.pipeline.similarity import (
        local_outlier_factor,
        nonzero_vectors,
        persistent_rdd_ids,
        release_local_checkpoints,
    )
    from anomaly_detection_spark.sources.tables import load_table

    emb = nonzero_vectors(load_table(spark, "embeddings", sf_dir))
    centroids = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    before = persistent_rdd_ids(spark)
    rows = local_outlier_factor(emb, centroids, k=3).collect()
    assert rows  # fully materialized before any release
    pinned = persistent_rdd_ids(spark) - before
    assert pinned, "LOF's localCheckpoints should pin storage"
    released = release_local_checkpoints(spark, keep_ids=before)
    assert set(released) >= pinned
    assert persistent_rdd_ids(spark) <= before


def _events_dir(spark, rows):
    """Write a minimal events table (user_id, event_id, ts, event_type,
    value, props) for closed-form law checks through the REAL compare."""
    import datetime as dt
    import os
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tempfile.mkdtemp()
    base = dt.datetime(2024, 1, 1)
    full = [
        (u, i + 1, base + dt.timedelta(hours=i), et, float(v), "{}")
        for i, (u, et, v) in enumerate(rows)
    ]
    t = spark.createDataFrame(
        full,
        "user_id long, event_id long, ts timestamp_ntz, "
        "event_type string, value double, props string",
    )
    pq.write_table(pa.Table.from_pandas(t.toPandas()),
                   os.path.join(d, "events.parquet"))
    return d


def test_durbin_watson_closed_form_laws(spark):
    """Alternating series -> DW = 4(n-1)/n exactly; linear ramp ->
    floor(12e6 / (n(n+1))) ppm; constant series -> NULL (zero
    variance) — all through the registered callable AND the real
    oracle compare."""
    from tests.oracle_check import compare

    rows = []
    # user 1: alternation 1,3 over n=10 -> dw_ppm = 3_600_000
    for i in range(10):
        rows.append((1, "view", 1.0 if i % 2 == 0 else 3.0))
    # user 2: ramp 1..10 -> dw_ppm = floor(12e6/110) = 109_090
    for i in range(10):
        rows.append((2, "view", float(i + 1)))
    # user 3: constant -> NULL
    for i in range(6):
        rows.append((3, "view", 7.0))
    # user 4: single event -> NULL (n < 2)
    rows.append((4, "view", 5.0))
    d = _events_dir(spark, rows)
    got = {r["user_id"]: r for r in
           reg.QUERIES["durbin_watson_users"](spark, d).collect()}
    assert got[1]["dw_ppm"] == 3_600_000
    assert got[2]["dw_ppm"] == 109_090
    assert got[3]["dw_ppm"] is None and got[3]["dw_den_n"] == 0
    assert got[4]["dw_ppm"] is None and got[4]["n_events"] == 1
    assert not compare(reg.QUERIES["durbin_watson_users"](spark, d),
                       reg.ORACLES["durbin_watson_users"], d)


def test_kendall_w_agreement_laws(spark):
    """Perfect m-rater agreement -> W = 1 exactly; two opposite raters
    -> W = 0; a single item -> NULL (den 0) — registered callable plus
    the real oracle compare on each fixture."""
    from tests.oracle_check import compare

    # three raters (types), four users, identical strict rankings:
    # user u scores u under every type
    rows = [(u, et, float(u))
            for et in ("a", "b", "c") for u in (1, 2, 3, 4)]
    d = _events_dir(spark, rows)
    r = reg.QUERIES["kendall_w_event_types"](spark, d).collect()[0]
    assert (r["m_raters"], r["n_items"]) == (3, 4)
    assert r["w_ppm"] == 1_000_000 and r["w_num"] == r["w_den"]
    assert not compare(reg.QUERIES["kendall_w_event_types"](spark, d),
                       reg.ORACLES["kendall_w_event_types"], d)

    # two raters, exactly opposite rankings -> rank sums all equal,
    # num = 0, W = 0
    rows = [(u, "a", float(u)) for u in (1, 2, 3, 4)]
    rows += [(u, "b", float(5 - u)) for u in (1, 2, 3, 4)]
    d = _events_dir(spark, rows)
    r = reg.QUERIES["kendall_w_event_types"](spark, d).collect()[0]
    assert r["w_num"] == 0 and r["w_ppm"] == 0
    assert not compare(reg.QUERIES["kendall_w_event_types"](spark, d),
                       reg.ORACLES["kendall_w_event_types"], d)

    # one item: n = 1 makes the denominator exactly 0 -> NULL
    d = _events_dir(spark, [(1, "a", 2.0), (1, "b", 3.0)])
    r = reg.QUERIES["kendall_w_event_types"](spark, d).collect()[0]
    assert r["n_items"] == 1 and r["w_den"] == 0 and r["w_ppm"] is None
    assert not compare(reg.QUERIES["kendall_w_event_types"](spark, d),
                       reg.ORACLES["kendall_w_event_types"], d)

"""transformWithStateInPandas drawdown monitor vs its batch window law.

The TWS runtime needs ``google.protobuf`` (its state-server protocol);
where it is not installed the test self-skips.
"""

from __future__ import annotations

import pytest


def _protobuf_available() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401
        return True
    except ImportError:
        return False


pytestmark = pytest.mark.skipif(
    not _protobuf_available(),
    reason="transformWithState needs google.protobuf (absent here)",
)

import datetime as dt

from pyspark.sql import types as T

from anomaly_detection_spark.streaming.replay import replay


def test_tws_drawdown_matches_batch_window_law(spark):
    """DrawdownProcessor (ValueState peak + MapState bucket ordinals)
    vs the batch running-max / lagged-max / per-bucket row_number law
    over a single-batch replay (the registrable-when-protobuf-ships
    driver-row shape; see COVERAGE.md §2.10)."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from anomaly_detection_spark.streaming.tws import tws_drawdown

    schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("cents", T.LongType()),
        T.StructField("bucket", T.LongType()),
    ])
    rows = [
        (1, 10, dt.datetime(2024, 1, 1, 0, 0), 500, 0),
        (1, 11, dt.datetime(2024, 1, 1, 0, 1), 300, 0),
        (1, 12, dt.datetime(2024, 1, 1, 0, 2), 500, 0),   # ties peak
        (1, 13, dt.datetime(2024, 1, 1, 0, 3), 900, 1),   # new peak
        (1, 14, dt.datetime(2024, 1, 1, 0, 3), 100, 0),   # ts tie: event_id
        (2, 20, dt.datetime(2024, 1, 1, 0, 0), 700, 1),
        (2, 21, dt.datetime(2024, 1, 1, 0, 1), 700, 1),
    ]
    df = spark.createDataFrame(rows, schema)
    got = sorted(tuple(r) for r in replay([[df]], tws_drawdown).collect())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id") \
        .rowsBetween(Window.unboundedPreceding, 0)
    wp = Window.partitionBy("user_id").orderBy("ts", "event_id") \
        .rowsBetween(Window.unboundedPreceding, -1)
    wb = Window.partitionBy("user_id", "bucket").orderBy("ts", "event_id")
    expect = sorted(tuple(r) for r in df.select(
        "user_id", "event_id", "ts", "cents",
        F.max("cents").over(w).alias("peak_cents"),
        (F.max("cents").over(w) - F.col("cents")).alias("drawdown_cents"),
        F.when(
            F.col("cents")
            >= F.coalesce(F.max("cents").over(wp), F.col("cents")), 1
        ).otherwise(0).cast("int").alias("new_peak"),
        F.row_number().over(wb).cast("long").alias("nth_in_bucket"),
    ).collect())
    assert got == expect
    assert len(got) == 7

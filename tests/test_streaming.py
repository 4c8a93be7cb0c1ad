"""Streaming tests: micro-batch replays through file sources → memory
sink (streaming/replay.py), including out-of-order late data (SURVEY.md
§5 streaming tests)."""

from __future__ import annotations

import datetime as dt
import os
import shutil
import tempfile

import pytest

from pyspark.sql import types as T

from anomaly_detection_spark.streaming.replay import replay
from anomaly_detection_spark.streaming.rules_stream import (
    stateful_run_length, windowed_series_stats,
)

SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("ts", T.TimestampNTZType()),
    T.StructField("value", T.DoubleType()),
])


def _write_batch(spark, path, rows, n):
    df = spark.createDataFrame(rows, SCHEMA)
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(path, f"b{n}"))


def _run_length(stream):
    return stateful_run_length(stream, "user_id", "ts", "value",
                               value_rep_lim=3)


@pytest.fixture()
def stream_dir():
    d = tempfile.mkdtemp()
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_stateful_run_length_across_batches(spark):
    """Run state must survive micro-batch boundaries: a run of 3 split
    across two batches still trips the flag."""
    base = dt.datetime(2024, 1, 1)
    # batch 1: two repeats of 5.0
    b1 = spark.createDataFrame([
        (1, base + dt.timedelta(minutes=0), 1.0),
        (1, base + dt.timedelta(minutes=1), 5.0),
        (1, base + dt.timedelta(minutes=2), 5.0),
    ], SCHEMA)
    by_ts = {r.ts: r for r in replay([[b1]], _run_length).collect()}
    assert by_ts[base + dt.timedelta(minutes=2)].data_repetitions == 2

    # batch 2: third repeat + an out-of-order stale row
    b2 = spark.createDataFrame([
        (1, base + dt.timedelta(minutes=3), 5.0),
        (1, base + dt.timedelta(minutes=1, seconds=30), 9.9),  # late, dropped
        (1, base + dt.timedelta(minutes=4), 7.0),
    ], SCHEMA)
    # a memory sink cannot resume, so replay both batches afresh
    by_ts = {r.ts: r for r in replay([[b1, b2]], _run_length).collect()}
    third = by_ts[base + dt.timedelta(minutes=3)]
    assert third.data_repetitions == 3
    assert third.data_repetitions_flag == 1
    # the late row never surfaced as an observation…
    assert base + dt.timedelta(minutes=1, seconds=30) not in by_ts
    # …and was reported as dropped on the next emitted row for the key
    # (batch rows are event-time sorted, so minute-3 follows the late row)
    assert third.late_dropped == 1
    assert by_ts[base + dt.timedelta(minutes=4)].late_dropped == 0
    assert by_ts[base + dt.timedelta(minutes=4)].data_repetitions == 1


def test_stateful_trailing_flags_matches_batch(spark):
    """Streaming rule engine vs batch rule engine on the planted
    fixture: the same spike / repetition verdicts must come out for
    each series' final observation (the batch-streaming differential
    the reference did informally between its SQL and R engines)."""
    from anomaly_detection_spark.config import DetectorConfig
    from anomaly_detection_spark.detect.rules import rule_flags
    from anomaly_detection_spark.streaming.rules_stream import stateful_trailing_flags
    from pyspark.sql import functions as F
    from tests.ticker_fixture import EVAL_TS, REPEAT_KEY, SPIKE_KEY, fixture_df

    # single-key encoding so the streaming op (one long key col) applies
    fixture = fixture_df(spark).withColumn(
        "series_id", F.col("index_id") * 1000 + F.col("granularity_item_id")
    ).select("series_id", "data_timestamp", "data_value")

    res = replay([[fixture]], lambda s: stateful_trailing_flags(
        s, "series_id", "data_timestamp", "data_value"
    ))
    # newest row per series from the stream output
    from pyspark.sql.window import Window
    w = Window.partitionBy("series_id").orderBy(F.col("ts").desc())
    last = {
        r.series_id: r
        for r in res.withColumn("rn", F.row_number().over(w))
        .where("rn = 1").collect()
    }
    batch = rule_flags(
        fixture, ["series_id"], "data_timestamp", "data_value",
        DetectorConfig(eval_ts=EVAL_TS), emit="latest",
    )
    batch_rows = {r.series_id: r for r in batch.collect()}
    spike_id = SPIKE_KEY[0] * 1000 + SPIKE_KEY[1]
    repeat_id = REPEAT_KEY[0] * 1000 + REPEAT_KEY[1]
    assert last[spike_id].standard_deviation_flag == 1
    assert last[repeat_id].data_repetitions_flag == 1
    for sid, b in batch_rows.items():
        s = last[sid]
        assert s.standard_deviation_flag == b.standard_deviation_flag, sid
        assert s.data_repetitions_flag == b.data_repetitions_flag, sid
        assert s.data_repetitions == b.data_repetitions, sid


def test_stateful_stl_matches_batch_verdict(spark):
    """Streaming decomposition scores: the final arrival's verdict per
    series must match the batch STL engine run over the same trailing
    window (the spike series says Yes, clean series say No)."""
    from anomaly_detection_spark.streaming.rules_stream import stateful_stl_scores
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window
    from tests.ticker_fixture import SPIKE_KEY, CLEAN_KEYS, fixture_df

    fixture = fixture_df(spark).withColumn(
        "series_id", F.col("index_id") * 1000 + F.col("granularity_item_id")
    ).select("series_id", "data_timestamp", "data_value")
    res = replay([[fixture]], lambda s: stateful_stl_scores(
        s, "series_id", "data_timestamp", "data_value"
    ))
    w = Window.partitionBy("series_id").orderBy(F.col("ts").desc())
    last = {
        r.series_id: r
        for r in res.withColumn("rn", F.row_number().over(w)).where("rn = 1").collect()
    }
    spike_id = SPIKE_KEY[0] * 1000 + SPIKE_KEY[1]
    assert last[spike_id].anomaly == "Yes"
    assert last[spike_id].score > 1.0
    # true differential: batch STL over the same trailing-28 window
    # must agree with the stream's final verdict on every series
    from anomaly_detection_spark.detect.stl import stl_iqr_detect
    from anomaly_detection_spark.operators.topn import trailing_n_per_group
    trailing = trailing_n_per_group(
        fixture, ["series_id"], "data_timestamp", 28, keep_rn=False
    )
    batch = {
        r.series_id: r.anomaly
        for r in stl_iqr_detect(
            trailing, ["series_id"], "data_timestamp", "data_value"
        ).collect()
    }
    for sid, verdict in batch.items():
        assert last[sid].anomaly == verdict, sid


def test_foreachbatch_parquet_sink(spark, stream_dir):
    """S5 streaming sink: foreachBatch writing per-epoch parquet —
    the exactly-once sink pattern (idempotent by epoch id)."""
    import glob
    base = dt.datetime(2024, 1, 1)
    src = os.path.join(stream_dir, "src")
    out = os.path.join(stream_dir, "out")
    os.makedirs(src)
    _write_batch(spark, src, [(1, base + dt.timedelta(minutes=m), float(m)) for m in range(6)], 1)
    stream = spark.readStream.schema(SCHEMA).parquet(src + "/*")

    def sink(df, epoch_id):
        df.write.mode("overwrite").parquet(os.path.join(out, f"epoch={epoch_id}"))

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", os.path.join(stream_dir, "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    files = glob.glob(os.path.join(out, "epoch=*"))
    assert len(files) >= 1
    back = spark.read.parquet(os.path.join(out, "epoch=0"))
    assert back.count() == 6


def test_windowed_stats_append_after_watermark(spark):
    """Tumbling-window aggs emit closed windows once the watermark
    passes; late rows beyond the watermark don't resurrect windows."""
    base = dt.datetime(2024, 1, 1)
    batches = [
        spark.createDataFrame(
            [(1, base + dt.timedelta(minutes=m), float(m)) for m in range(3)],
            SCHEMA,
        ),
        # advance event time far past the first day so its window closes
        spark.createDataFrame([(1, base + dt.timedelta(days=2), 99.0)], SCHEMA),
    ]
    res = replay([batches], lambda s: windowed_series_stats(
        s, ["user_id"], "ts", "value", window="1 day", watermark="1 hour"
    )).collect()
    assert len(res) == 1  # only the closed day-1 window is appended
    r = res[0]
    assert r.window_start == base and r.n_obs == 3
    assert r.avg_value == pytest.approx(1.0)
    assert r.last_ts == base + dt.timedelta(minutes=2)


def test_checkpoint_restart_preserves_state(spark, stream_dir):
    """Kill a stateful query after batch 1, restart from the SAME
    checkpoint, feed batch 2: the run-length state must carry over (a
    run split across the restart still trips the flag), proving state
    recovery — the property that makes 24/7 operation safe. (Memory
    sinks can't recover; a parquet sink can.)"""
    base = dt.datetime(2024, 1, 1)
    src = os.path.join(stream_dir, "src")
    ckpt = os.path.join(stream_dir, "ckpt")
    sink = os.path.join(stream_dir, "sink")
    os.makedirs(src)

    def run_once():
        stream = (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", 1).parquet(src + "/*")
        )
        q = (
            _run_length(stream).writeStream.outputMode("append").format("parquet")
            .option("path", sink).option("checkpointLocation", ckpt).start()
        )
        q.processAllAvailable()
        q.stop()

    _write_batch(spark, src, [
        (1, base + dt.timedelta(minutes=0), 5.0),
        (1, base + dt.timedelta(minutes=1), 5.0),
    ], 1)
    run_once()

    _write_batch(spark, src, [
        (1, base + dt.timedelta(minutes=2), 5.0),
    ], 2)
    run_once()  # restart from the same checkpoint

    rows = {r.ts: r for r in spark.read.parquet(sink).collect()}
    assert len(rows) == 3  # exactly-once across the restart, no dupes
    third = rows[base + dt.timedelta(minutes=2)]
    # run length continues from recovered state: 3 -> flag fires
    assert third.data_repetitions == 3
    assert third.data_repetitions_flag == 1


def test_staleness_timeout_fires_stale_then_recovers(spark, stream_dir):
    """Timeout-DRIVEN emission: a key that goes silent for the
    processing-time threshold must emit a STALE alert row from the
    timeout branch (no new data for it), and fresh data afterwards
    must emit RECOVERED.  Uses a live query with a short trigger so
    empty micro-batches run and fire the timeout."""
    import time

    from anomaly_detection_spark.streaming.rules_stream import staleness_monitor

    base = dt.datetime(2024, 1, 1)
    src = os.path.join(stream_dir, "src")
    os.makedirs(src)
    _write_batch(spark, src, [(7, base, 1.0)], 0)

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "*"))
    )
    alerts = staleness_monitor(stream, "user_id", "ts",
                               stale_after_seconds=2.0, watermark="0 seconds")
    q = (
        alerts.writeStream.outputMode("update")
        .format("memory").queryName("stale_alerts")
        .option("checkpointLocation", os.path.join(stream_dir, "ckpt"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        def rows():
            return {(r.user_id, r.alert)
                    for r in spark.sql("SELECT * FROM stale_alerts").collect()}

        deadline = time.time() + 60
        while (7, "STALE") not in rows() and time.time() < deadline:
            time.sleep(0.5)
        assert (7, "STALE") in rows(), "timeout never produced a STALE row"

        stale_row = [r for r in spark.sql("SELECT * FROM stale_alerts").collect()
                     if r.alert == "STALE"][0]
        assert stale_row.silent_seconds >= 2.0
        assert stale_row.last_seen == base

        # new data for the key -> RECOVERED from the data branch
        _write_batch(spark, src, [(7, base + dt.timedelta(minutes=1), 2.0)], 1)
        deadline = time.time() + 60
        while (7, "RECOVERED") not in rows() and time.time() < deadline:
            time.sleep(0.5)
        assert (7, "RECOVERED") in rows(), "fresh data never produced RECOVERED"
    finally:
        q.stop()
        spark.catalog.dropTempView("stale_alerts")


def test_streaming_session_windows(spark):
    """Native session windows (session_window + watermark) in a stream:
    gaps > 30 min split sessions; closed sessions emit once the
    watermark passes; results match the batch session_window over the
    same rows."""
    from pyspark.sql import functions as F

    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, base + dt.timedelta(minutes=0), 1.0),
        (1, base + dt.timedelta(minutes=10), 2.0),   # same session
        (1, base + dt.timedelta(minutes=60), 3.0),   # gap 50m → new session
        (2, base + dt.timedelta(minutes=5), 4.0),
    ]
    batches = [
        spark.createDataFrame(rows, SCHEMA),
        # event-time sentinel far ahead so every session closes
        spark.createDataFrame([(9, base + dt.timedelta(days=3), 0.0)], SCHEMA),
    ]

    def agg(stream):
        # watermarks require TIMESTAMP (not NTZ); UTC session makes the
        # cast lossless
        return (
            stream.withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", "1 hour")
            .groupBy(F.session_window("ts", "30 minutes").alias("sw"),
                     "user_id")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
            .select("user_id", F.col("sw.start").alias("start"), "n", "s")
        )

    got = {(r.user_id, r.start): (r.n, r.s)
           for r in replay([batches], agg).collect()}

    batch = (
        spark.createDataFrame(rows + [(9, base + dt.timedelta(days=3), 0.0)],
                              SCHEMA)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .select("user_id", F.col("sw.start").alias("start"), "n", "s")
    )
    # the sentinel's own session never closes (nothing advances the
    # watermark past it) — compare the real users only
    want = {(r.user_id, r.start): (r.n, r.s) for r in batch.collect()
            if r.user_id != 9}
    assert got == want
    # structure: user 1 has two sessions, the first holding 2 events
    assert got[(1, base)] == (2, 3.0)
    assert got[(1, base + dt.timedelta(minutes=60))] == (1, 3.0)


def test_session_histogram_gap_split_and_event_time_timeout(spark):
    """Sessions close two ways: a later in-stream event revealing the
    gap (immediate emit), and the WATERMARK passing last_event + gap
    (event-time timeout emit). Both must carry the right categorical
    histogram."""
    from anomaly_detection_spark.streaming.rules_stream import (
        stateful_session_histogram,
    )

    tschema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("event_type", T.StringType()),
    ])
    base = dt.datetime(2024, 1, 1)
    batches = [spark.createDataFrame(rows, tschema) for rows in [
        [
            (1, base + dt.timedelta(minutes=0), "view"),
            (1, base + dt.timedelta(minutes=5), "view"),
            (1, base + dt.timedelta(minutes=10), "click"),
            (2, base + dt.timedelta(minutes=0), "purchase"),
        ],
        # user 1 reappears past the 30-min gap -> session A closes in-stream
        [(1, base + dt.timedelta(hours=3), "click")],
        # far-future rows push the watermark past everyone's last+gap ->
        # event-time timeouts close user 1's session B and user 2's session
        [(3, base + dt.timedelta(hours=10), "view")],
        [(3, base + dt.timedelta(hours=10, minutes=1), "view")],
    ]]
    got = {
        (r.user_id, r.session_start): (
            r.session_end, r.n_events, r.n_types, r.top_type, r.top_count
        )
        for r in replay([batches], lambda s: stateful_session_histogram(
            s, "user_id", "ts", "event_type", gap_seconds=1800.0
        )).collect()
    }
    assert got[(1, base)] == (
        base + dt.timedelta(minutes=10), 3, 2, "view", 2
    )
    assert got[(1, base + dt.timedelta(hours=3))] == (
        base + dt.timedelta(hours=3), 1, 1, "click", 1
    )
    assert got[(2, base)] == (base, 1, 1, "purchase", 1)
    # user 3's session is still open (watermark never passed it)
    assert not any(k[0] == 3 for k in got)


def test_session_histogram_stream_matches_batch_mirror(spark):
    """Full-replay parity with the driver-verifiable batch mirror
    (queries.py:session_histogram_batch): replaying the fixture events
    through the stateful streaming op — plus a far-future sentinel to
    flush every open session via event-time timeout — must reproduce
    the batch gaps-and-islands sessionization row for row."""
    from anomaly_detection_spark import queries as reg
    from anomaly_detection_spark.sources.tables import load_table
    from anomaly_detection_spark.streaming.rules_stream import (
        stateful_session_histogram,
    )

    sf = "/root/testdata/sf0.001"
    ev = (
        load_table(spark, "events", sf)
        .select("user_id", "ts", "event_type")
        .orderBy("ts")
    )
    rows = ev.collect()
    tschema = ev.schema
    # replay in event-time order across several micro-batches so state
    # genuinely crosses batch boundaries
    n_batches = 4
    per = (len(rows) + n_batches - 1) // n_batches
    batches = [
        spark.createDataFrame(rows[b * per:(b + 1) * per], tschema)
        for b in range(n_batches)
    ]
    flush_ts = max(r.ts for r in rows) + dt.timedelta(days=365)
    batches.append(spark.createDataFrame(
        [(-1, flush_ts, "flush"), (-1, flush_ts + dt.timedelta(minutes=1), "flush")],
        tschema,
    ))
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events,
         r.n_types, r.top_type, r.top_count)
        for r in replay([batches], lambda s: stateful_session_histogram(
            s, "user_id", "ts", "event_type", gap_seconds=1800.0
        )).collect()
        if r.user_id != -1
    }
    want = {
        (r.user_id, r.session_start, r.session_end, r.n_events,
         r.n_types, r.top_type, r.top_count)
        for r in reg.QUERIES["session_histogram_batch"](spark, sf).collect()
    }
    assert got == want and len(want) > 500


def test_windowed_distinct_sketch_matches_batch(spark):
    """The HLL windowed distinct stream must produce, after replay,
    exactly the estimates the same sketch aggregation produces in
    batch (associative state merge across micro-batches), and stay
    within the documented HLL error band of the exact counts."""
    from pyspark.sql import functions as F

    from anomaly_detection_spark.sources.tables import load_table
    from anomaly_detection_spark.streaming.rules_stream import (
        windowed_distinct_sketch,
    )

    sf = "/root/testdata/sf0.001"
    ev = (
        load_table(spark, "events", sf)
        .select("ts", "event_type", "user_id")
        .orderBy("ts")
    )
    rows = ev.collect()
    per = (len(rows) + 3) // 4
    batches = [
        spark.createDataFrame(rows[b * per:(b + 1) * per], ev.schema)
        for b in range(4)
    ]
    flush = max(r.ts for r in rows) + dt.timedelta(days=30)
    batches.append(spark.createDataFrame(
        [(flush, "flush", -1), (flush + dt.timedelta(hours=1), "flush", -1)],
        ev.schema,
    ))
    got = {
        (r.window_start, r.event_type): (r.approx_distinct, r.n_events)
        for r in replay([batches], windowed_distinct_sketch).collect()
        if r.event_type != "flush"
    }

    batch = (
        spark.createDataFrame(rows, ev.schema)
        .groupBy(
            F.window(F.col("ts").cast("timestamp"), "1 day").alias("win"),
            "event_type",
        )
        .agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(14)))
            .cast("long").alias("est"),
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("exact"),
        )
        .select(
            F.col("win.start").cast("timestamp_ntz").alias("ws"),
            "event_type", "est", "n", "exact",
        )
        .collect()
    )
    want = {(r.ws, r.event_type): (r.est, r.n) for r in batch}
    assert got == want and len(want) > 50
    # HLL estimates within 5% of exact at this cardinality
    for r in batch:
        assert abs(r.est - r.exact) <= max(2, 0.05 * r.exact)


def test_stateful_heavy_hitters_mg_guarantee(spark):
    """After a multi-batch replay, every TRUE heavy hitter (frequency
    > N/(capacity+1)) must appear in the final per-key summary with
    counter >= true_count - N/(capacity+1) — the Misra-Gries
    guarantee carried across micro-batch boundaries."""
    from collections import Counter

    from pyspark.sql import functions as F

    from anomaly_detection_spark.streaming.rules_stream import (
        stateful_heavy_hitters,
    )

    # skewed synthetic stream: two keys, one dominant item each + noise
    rows = []
    for b in range(3):
        for i in range(100):
            rows.append(("a", 7 if i % 3 == 0 else 1000 + (b * 100 + i) % 57))
            rows.append(("b", 9 if i % 2 == 0 else 2000 + (b * 100 + i) % 91))
    sch = "event_type string, user_id long"
    per = 200
    batches = [
        spark.createDataFrame(rows[b * per:(b + 1) * per], sch)
        for b in range(3)
    ]
    res = replay([batches], lambda s: stateful_heavy_hitters(
        s, "event_type", "user_id", capacity=8
    )).collect()

    for key in ("a", "b"):
        true = Counter(v for k, v in rows if k == key)
        n = sum(true.values())
        final_n = max(r.emitted_n for r in res if r.event_type == key)
        assert final_n == n  # state saw every row exactly once
        final = {
            r.item: r.lower_bound
            for r in res
            if r.event_type == key and r.emitted_n == final_n
        }
        assert len(final) <= 8  # bounded state
        thresh = n / 9  # capacity + 1
        for item, cnt in true.items():
            if cnt > thresh:
                assert item in final, (key, item)
                assert final[item] >= cnt - thresh
    # the dominant items specifically
    a_final = {r.item for r in res if r.event_type == "a"
               and r.emitted_n == 300}
    b_final = {r.item for r in res if r.event_type == "b"
               and r.emitted_n == 300}
    assert 7 in a_final and 9 in b_final


def test_minute_rollup_stream_matches_batch_hierarchy(spark, stream_dir):
    """Continuous-aggregate parity: stream → 1-min partials → batch
    re-aggregation to day grain must equal the pure-batch
    hierarchical_rollup_events on the identical rows, including the
    n_minutes/n_hours bucket counts, with out-of-order (in-watermark)
    arrivals across micro-batches."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from anomaly_detection_spark import queries as reg
    from anomaly_detection_spark.streaming.rules_stream import (
        minute_rollup_partials, reaggregate_minutes_to_day,
    )

    schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ])
    base = dt.datetime(2024, 1, 1, 0, 0, 0)

    def m(minutes):
        return base + dt.timedelta(minutes=minutes)

    rows = [
        (1, m(0), "view", 1.25),
        (2, m(0), "view", 2.5),          # same minute, same type
        (1, m(1), "click", 3.0),
        (1, m(61), "view", 4.0),          # next hour
        (2, m(60 * 24), "view", 5.0),     # next day
        (1, m(60 * 24 + 30), "click", 6.0),
    ]
    # out-of-order but inside the 1h watermark: minute-1 row arrives
    # in a later batch than minute-61
    batches = [
        [rows[0], rows[1], rows[3]],
        [rows[2]],                        # late minute-1 event
        [rows[4], rows[5]],
        # watermark flush: append mode only emits CLOSED windows, so a
        # far-future sentinel advances event time past day 2 (it stays
        # out of the comparison and of the batch reference)
        [(99, m(60 * 72), "flush", 0.0)],
    ]
    streamed_day = replay(
        [[spark.createDataFrame(b, schema) for b in batches]],
        minute_rollup_partials, reaggregate_minutes_to_day,
    )

    # the pure-batch reference on the identical rows
    full = spark.createDataFrame(rows, schema).withColumn(
        "event_id", F.monotonically_increasing_id()
    ).withColumn("props", F.lit("{}"))
    pq.write_table(
        pa.Table.from_pandas(full.toPandas()),
        os.path.join(stream_dir, "events.parquet"),
    )
    batch_day = reg.QUERIES["hierarchical_rollup_events"](spark, stream_dir)

    got = {(str(r.day), r.event_type): (r.n_events, r.sum_value,
                                        r.n_minutes, r.n_hours)
           for r in streamed_day.collect() if r.event_type != "flush"}
    want = {(str(r.day), r.event_type): (r.n_events, r.sum_value,
                                         r.n_minutes, r.n_hours)
            for r in batch_day.collect()}
    assert got == want and got    # non-empty, bucket counts included

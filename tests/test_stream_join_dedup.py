"""Stream-stream interval join and watermarked dedup over file
replays, differentially tested against batch equivalents."""

from __future__ import annotations

import datetime as dt
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from anomaly_detection_spark.streaming.ingest import exactly_once_dedup
from anomaly_detection_spark.streaming.joins import stream_interval_join
from anomaly_detection_spark.streaming.replay import replay

SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("ts", T.TimestampNTZType()),
    T.StructField("kind", T.StringType()),
])

BASE = dt.datetime(2024, 1, 1)


def _mk(eid, uid, minutes, kind):
    return (eid, uid, BASE + dt.timedelta(minutes=minutes), kind)


ROWS = [
    _mk(1, 1, 0, "error"),
    _mk(2, 1, 10, "purchase"),      # within 30m of error 1
    _mk(3, 1, 40, "purchase"),      # outside
    _mk(4, 2, 0, "error"),
    _mk(5, 2, 29, "purchase"),      # within
    _mk(6, 3, 5, "purchase"),       # no error for user 3
    _mk(7, 2, 95, "error"),
    _mk(8, 2, 100, "purchase"),     # within 30m of error 7
]


@pytest.fixture()
def workdir():
    d = tempfile.mkdtemp()
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _batches(spark, chunks):
    return [[spark.createDataFrame(chunk, SCHEMA) for chunk in chunks]]


def _interval_join(stream, err_id, pur_id, **kw):
    """Errors joined to purchases of the same user in [e_ts, e_ts+30m)."""
    errors = stream.where(F.col("kind") == "error").select(
        F.col("event_id").alias(err_id), "user_id", F.col("ts").alias("e_ts")
    )
    purchases = stream.where(F.col("kind") == "purchase").select(
        F.col("event_id").alias(pur_id), "user_id", F.col("ts").alias("p_ts"),
    )
    return stream_interval_join(
        errors, purchases, ["user_id"], "e_ts", "p_ts", 1800, **kw
    )


def test_stream_interval_join_matches_batch(spark):
    joined = replay(
        _batches(spark, [ROWS[:4], ROWS[4:]]),
        lambda s: _interval_join(s, "error_id", "purchase_id"),
    )
    got = sorted((r.error_id, r.purchase_id) for r in joined.collect())
    assert got == [(1, 2), (4, 5), (7, 8)]


def test_stream_dedup_within_watermark(spark):
    # same event_id delivered in two consecutive micro-batches
    b1 = [_mk(1, 1, 0, "error"), _mk(2, 1, 1, "purchase")]
    b2 = [_mk(2, 1, 1, "purchase"), _mk(3, 1, 2, "view")]
    deduped = replay(
        _batches(spark, [b1, b2]),
        lambda s: exactly_once_dedup(s, ["event_id"]),
    )
    assert sorted(r.event_id for r in deduped.collect()) == [1, 2, 3]


def test_streaming_curated_ingest(spark, workdir):
    """Each microbatch is curated against the already-accepted corpus:
    exact and near copies of earlier-ingested docs are dropped, fresh
    docs are appended — including near-dups of docs accepted in a
    PREVIOUS trigger."""
    from anomaly_detection_spark.streaming.ingest import make_curated_ingest

    d = workdir
    src = os.path.join(d, "src")
    corpus = os.path.join(d, "corpus")
    ckpt = os.path.join(d, "ckpt")
    os.makedirs(src)

    doc_schema = "doc_id long, text string"
    base = {
        0: "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        1: "one two three four five six seven eight nine ten eleven",
        2: "red orange yellow green blue indigo violet pink brown black",
    }
    b0 = [(i, t) for i, t in base.items()]
    b1 = [
        (10, "completely different words here about spark and parquet files"),
        (11, base[1]),                       # exact copy of doc 1 -> drop
        (12, base[2] + " extra"),            # near copy of doc 2 -> drop
    ]
    b2 = [
        (20, "final batch brings this genuinely novel document body text"),
        (21, b1[0][1] + " tail"),            # near copy of doc 10 (accepted in b1) -> drop
        (22, "final batch brings this genuinely novel document body text"),  # exact dup of 20 IN-batch -> drop
    ]
    for i, rows in enumerate([b0, b1, b2]):
        spark.createDataFrame(rows, doc_schema).coalesce(1).write.parquet(
            os.path.join(src, f"b{i}")
        )

    stream = (
        spark.readStream.schema(doc_schema)
        .option("maxFilesPerTrigger", 1).parquet(src + "/*")
    )
    q = (
        stream.writeStream.foreachBatch(
            make_curated_ingest(corpus, jaccard_threshold=0.5)
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {r.doc_id for r in spark.read.parquet(corpus).collect()}
    assert got == {0, 1, 2, 10, 20}, got


def test_streaming_incremental_rollup(spark, workdir):
    """Three triggers of events maintain a per-user rollup state; the
    final state must equal the full GROUP BY over everything fed —
    merge == recompute, continuously."""

    from anomaly_detection_spark.streaming.ingest import (
        make_incremental_rollup, read_rollup_state,
    )

    src, state, ckpt = (os.path.join(workdir, x)
                        for x in ("src", "state", "ckpt"))
    os.makedirs(src)
    schema = "user_id long, v long"

    batches = [
        [(1, 10), (1, 20), (2, 5)],
        [(1, 1), (3, 7), (3, 8)],
        [(2, 100), (1, 2)],
    ]
    cents = F.col("v")
    on_batch = make_incremental_rollup(
        state,
        keys=["user_id"],
        updates={"n": F.count("v"), "s": F.sum(cents),
                 "mn": F.min("v"), "mx": F.max("v")},
        merges={"n": F.sum("n"), "s": F.sum("s"),
                "mn": F.min("mn"), "mx": F.max("mx")},
    )

    stream = (
        spark.readStream.schema(schema).parquet(src)
        .writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
    )
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q = stream.start()
        q.awaitTermination(120)

    got = {
        r.user_id: (r.n, r.s, r.mn, r.mx)
        for r in read_rollup_state(spark, state).collect()
    }
    all_rows = [r for b in batches for r in b]
    full = spark.createDataFrame(all_rows, schema).groupBy("user_id").agg(
        F.count("v").alias("n"), F.sum("v").alias("s"),
        F.min("v").alias("mn"), F.max("v").alias("mx"),
    )
    want = {r.user_id: (r.n, r.s, r.mn, r.mx) for r in full.collect()}
    assert got == want
    # versioning: one state version per trigger that saw data
    import glob
    assert len(glob.glob(os.path.join(state, "v=*"))) >= 3


def test_incremental_rollup_redelivery_idempotent(spark, workdir):
    """A crashed trigger redelivers its batch with the SAME batch id;
    the stamped version directory is the transaction marker, so the
    second delivery must not double-merge."""

    from anomaly_detection_spark.streaming.ingest import (
        make_incremental_rollup, read_rollup_state,
    )

    state = os.path.join(workdir, "state")
    on_batch = make_incremental_rollup(
        state, keys=["k"],
        updates={"n": F.count("v"), "s": F.sum("v")},
        merges={"n": F.sum("n"), "s": F.sum("s")},
    )
    schema = "k long, v long"
    b0 = spark.createDataFrame([(1, 10), (1, 5)], schema)
    b1 = spark.createDataFrame([(1, 100)], schema)

    on_batch(b0, 0)
    on_batch(b1, 1)
    on_batch(b1, 1)   # redelivery of batch 1 — must be a no-op
    got = {r.k: (r.n, r.s) for r in read_rollup_state(spark, state).collect()}
    assert got == {1: (3, 115)}


def test_streaming_cdc_apply_matches_batch(spark, workdir):
    """Three triggers of CDC changes maintain the current-state table;
    the final live view must equal batch cdc_apply over everything fed
    — including a delete, a later-seq resurrect, and a late lower-seq
    row that must NOT resurrect a deleted key."""
    from anomaly_detection_spark.operators.upsert import cdc_apply
    from anomaly_detection_spark.streaming.ingest import (
        make_cdc_apply, read_cdc_state,
    )

    src, state, ckpt = (os.path.join(workdir, x)
                        for x in ("src", "state", "ckpt"))
    os.makedirs(src)
    schema = "key long, seq long, op string, val double"

    batches = [
        [(1, 1, "I", 5.0), (2, 1, "I", 7.0)],
        [(1, 3, "U", 20.0), (2, 2, "D", 0.0), (3, 1, "I", 1.0)],
        # late lower-seq row for deleted key 2 (stays dead) +
        # higher-seq resurrect for key 2 is NOT sent; key 1 late U(2)
        [(2, 1, "U", 9.0), (1, 2, "U", 10.0)],
    ]
    on_batch = make_cdc_apply(state, ["key"], "seq")
    stream = (
        spark.readStream.schema(schema).parquet(src)
        .writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
    )
    for rows in batches:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q = stream.start()
        q.awaitTermination(120)

    got = sorted(map(tuple, read_cdc_state(spark, state).collect()))
    all_rows = [r for b in batches for r in b]
    want = sorted(map(tuple, cdc_apply(
        spark.createDataFrame(all_rows, schema), ["key"], "seq"
    ).collect()))
    assert got == want
    # key 2 stays deleted; keys 1 and 3 live at their max seq
    keys = {t[0] for t in got}
    assert keys == {1, 3}


def test_stream_interval_join_left_outer_emits_unmatched_after_watermark(spark):
    """LEFT OUTER stream-stream interval join: the matched pair emits
    normally; an error with NO purchase in its 30-min interval emits
    with NULL right columns once the watermark proves no match can
    still arrive; a still-open left row does not emit."""
    batches = [
        [_mk(1, 1, 0, "error"), _mk(2, 1, 10, "purchase"),
         _mk(3, 2, 0, "error")],                 # u2: never matched
        [_mk(4, 9, 300, "error")],               # watermark pusher
        [_mk(5, 8, 302, "purchase")],            # extra trigger (user 8:
                                                 # right-only, never emits)
    ]
    out = replay(
        _batches(spark, batches),
        lambda s: _interval_join(s, "err_id", "pur_id", how="leftOuter"),
    )
    rows = {r.err_id: (r.pur_id, r.p_ts) for r in out.collect()}
    assert rows[1] == (2, BASE + dt.timedelta(minutes=10))
    assert rows[3] == (None, None)   # watermark-proven unmatched
    assert 4 not in rows             # still open, must not emit

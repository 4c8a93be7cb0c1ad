"""Deterministic micro-batch replay of batch frames through a real
Structured Streaming query — the harness behind every ``streaming_*``
registry row and the streaming tests.

Each input is a list of frames, one per micro-batch. Every frame is
written to its own single-file part dir and read back with
``maxFilesPerTrigger`` 1, so trigger ``i`` sees exactly frame ``i`` of
every input and nothing can be late-dropped inside a frame. The
caller's lane runs into an append-mode memory sink; after
``processAllAvailable`` its batch finishing step is applied to the sink
table and the result is cut from its lineage with an eager
``localCheckpoint``, so the sink view and the workdir can be removed
before returning (a replay leaves no session table and no directory
behind). Exactly-once holds per replay: the checkpoint's offset log
assigns each file to one trigger (Armbrust et al., SIGMOD 2018).
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import tempfile
import uuid
from typing import Callable, Optional, Sequence

from pyspark.sql import DataFrame

# Event time far past every fixture: a row stamped with it advances the
# watermark so every real window, session and outer-join row closes,
# while its own state never closes (nothing replays after it).
FLUSH_TS = dt.datetime(2030, 1, 1)


def flush_row(like: DataFrame, ts_col: str, **values) -> DataFrame:
    """One-row frame with ``like``'s schema: ``ts_col`` at
    :data:`FLUSH_TS`, every other column from ``values``."""
    row = tuple(
        FLUSH_TS if f.name == ts_col else values[f.name]
        for f in like.schema.fields
    )
    return like.sparkSession.createDataFrame([row], like.schema)


def replay_sources(work: str, inputs: Sequence[Sequence[DataFrame]]
                   ) -> list[DataFrame]:
    """Write every micro-batch frame of every input under ``work`` and
    return one file stream per input, one frame per trigger."""
    streams = []
    for i, batches in enumerate(inputs):
        src = os.path.join(work, f"in{i}")
        for b, frame in enumerate(batches):
            frame.coalesce(1).write.parquet(os.path.join(src, f"b{b}"))
        streams.append(
            batches[0].sparkSession.readStream.schema(batches[0].schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*")
        )
    return streams


def replay(
    inputs: Sequence[Sequence[DataFrame]],
    lane: Callable[..., DataFrame],
    finish: Optional[Callable[[DataFrame], DataFrame]] = None,
) -> DataFrame:
    """Replay ``inputs`` through ``lane(*streams)`` into a memory sink
    and return ``finish(sink)`` (the sink itself by default),
    materialized; nothing of the replay outlives the call."""
    spark = inputs[0][0].sparkSession
    work = tempfile.mkdtemp(prefix="stream_replay_")
    qname = f"replay_{uuid.uuid4().hex}"
    try:
        q = (
            lane(*replay_sources(work, inputs))
            .writeStream.outputMode("append")
            .format("memory").queryName(qname)
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        sink = spark.table(qname)
        return (finish(sink) if finish else sink).localCheckpoint(eager=True)
    finally:
        spark.catalog.dropTempView(qname)
        shutil.rmtree(work, ignore_errors=True)

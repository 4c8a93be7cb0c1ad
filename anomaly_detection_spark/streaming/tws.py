"""A drawdown monitor on the transformWithStateInPandas API.

Spark 4's ``transformWithState`` supersedes ``applyInPandasWithState``
with typed per-key state handles (ValueState/ListState/MapState),
event-time timers, and state-schema evolution: per-key state is read
and written through those handles — O(1) per live key, RocksDB-backed
on a real cluster — instead of the old API's whole-tuple get/update.
The runtime needs ``google.protobuf`` for its state-server protocol.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor, StatefulProcessorHandle,
)
from pyspark.sql.types import (
    IntegerType, LongType, StructField, StructType, TimestampNTZType,
)

_PEAK_SCHEMA = StructType([StructField("peak_cents", LongType())])
_BUCKET_KEY_SCHEMA = StructType([StructField("bucket", LongType())])
_BUCKET_CNT_SCHEMA = StructType([StructField("cnt", LongType())])


class DrawdownProcessor(StatefulProcessor):
    """Per-key high-water-mark drawdown monitor on TWO typed handles:
    a ValueState (running peak, exact cents) and a MapState (per value
    bucket -> occurrences so far) — the handle surface that
    distinguishes transformWithState from applyInPandasWithState.

    Per event (processed in (ts, event_id) order): the running peak
    including the current row, the drawdown (peak - current), whether
    the row sets-or-ties a new peak, and how many events of this row's
    value bucket the key has produced so far."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._peak = handle.getValueState("peak", _PEAK_SCHEMA)
        self._buckets = handle.getMapState(
            "buckets", _BUCKET_KEY_SCHEMA, _BUCKET_CNT_SCHEMA
        )

    def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
        peak = self._peak.get()[0] if self._peak.exists() else None
        # a key's rows may span arrow batches: concat BEFORE sorting so
        # the (ts, event_id) order is global within the micro-batch
        pdfs = list(rows)
        pdf = (pd.concat(pdfs) if len(pdfs) > 1 else pdfs[0]).sort_values(
            ["ts", "event_id"]
        )
        out = []
        for eid, ts, cents, bucket in zip(
            pdf["event_id"], pdf["ts"], pdf["cents"], pdf["bucket"]
        ):
            cents, bucket = int(cents), int(bucket)
            new_peak = 1 if (peak is None or cents >= peak) else 0
            peak = cents if (peak is None or cents > peak) else peak
            bk = (bucket,)
            cnt = (
                self._buckets.getValue(bk)[0]
                if self._buckets.containsKey(bk) else 0
            ) + 1
            self._buckets.updateValue(bk, (cnt,))
            out.append((
                key[0], int(eid), ts, cents, peak, peak - cents,
                new_peak, cnt,
            ))
        self._peak.update((peak,))
        if out:
            yield pd.DataFrame(
                out,
                columns=["user_id", "event_id", "ts", "cents", "peak_cents",
                         "drawdown_cents", "new_peak", "nth_in_bucket"],
            )

    def close(self) -> None:
        pass


def tws_drawdown(stream: DataFrame) -> DataFrame:
    """transformWithStateInPandas drawdown monitor over
    (user_id, event_id, ts, cents, bucket) rows."""
    out_schema = StructType([
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("ts", TimestampNTZType()),
        StructField("cents", LongType()),
        StructField("peak_cents", LongType()),
        StructField("drawdown_cents", LongType()),
        StructField("new_peak", IntegerType()),
        StructField("nth_in_bucket", LongType()),
    ])
    return stream.groupBy("user_id").transformWithStateInPandas(
        DrawdownProcessor(),
        outputStructType=out_schema,
        outputMode="Append",
        timeMode="None",
    )


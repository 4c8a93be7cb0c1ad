"""Stream-stream interval join.

Not in the reference (a daily batch, SURVEY.md §2.10), but required the
moment its pipeline goes continuous: "purchases within 30 min of an
error" (the batch ``interval_join_error_purchases``) becomes a
stream-stream join whose state must be bounded. (Watermarked dedup of
re-deliveries is ``ingest.exactly_once_dedup``.)

The join leans on watermarks for state cleanup: Spark keeps only rows
whose event time is above watermark − join-bound, so state is
O(rate × (watermark + interval)) per key — independent of stream
lifetime. That bounded-state argument is the whole 100 TB story for
continuous operation.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_ts: str,
    right_ts: str,
    interval_seconds: int,
    watermark: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """Join right rows with
    ``left_ts <= right_ts < left_ts + interval_seconds`` on equal
    ``keys``. Both sides watermarked so the state store evicts rows
    older than watermark + interval.

    ``how="leftOuter"``: an UNMATCHED left row emits with NULL right
    columns only once the WATERMARK proves no future right row can
    still fall inside its interval — the "error with no purchase
    within 30 min" alerting shape, where the *absence* of a match is
    the signal. The outer-null emission is inherently watermark-delayed
    (correctness requires waiting out the interval); that is the
    documented Spark semantic, not a limitation of this operator.

    Column collisions: callers pass pre-aliased frames (only ``keys``
    shared), same contract as the batch `interval_join`.
    """
    l = left.withColumn(left_ts, F.col(left_ts).cast("timestamp"))
    r = right.withColumn(right_ts, F.col(right_ts).cast("timestamp"))
    l = l.withWatermark(left_ts, watermark)
    r = r.withWatermark(right_ts, watermark)
    cond = F.lit(True)
    for k in keys:
        cond = cond & (l[k] == r[k])
    cond = (
        cond
        & (r[right_ts] >= l[left_ts])
        & (r[right_ts] < l[left_ts] + F.expr(f"INTERVAL {interval_seconds} SECONDS"))
    )
    out = l.join(r, cond, how)
    # drop the duplicated key columns from the right side
    for k in keys:
        out = out.drop(r[k])
    return out


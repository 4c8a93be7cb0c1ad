"""SQL-callable per-series detector — a Python UDTF over a TABLE
argument (Spark 4).

The reference's R engine applies ``detect_anomaly`` serially per ticker
(func.R:133).  The engine's primary port is the parallel
``applyInPandas`` path (`detect/stl.py:stl_iqr_detect`); this module
exposes the SAME semantics as a *SQL-native table function*, so a
SQL-only user can run the detector without touching the DataFrame API:

    SELECT * FROM detect_series(
        TABLE(SELECT user_id AS k, ts, value AS v FROM events)
        PARTITION BY k ORDER BY ts)

``PARTITION BY k`` gives each series its own UDTF instance (Spark
shuffles by k exactly as applyInPandas would); ``ORDER BY ts`` hands
rows in time order, so the instance keeps only a streaming buffer and
emits one summary row from ``terminate()``.  Numbers are produced by
the same numpy decompose/anomalize/score kernels as the DataFrame path
— the differential test pins the two surfaces row-for-row equal.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.functions import udtf

from anomaly_detection_spark.detect.stl import (
    ALPHA_DEFAULT, MAX_ANOMS_DEFAULT, summarize_series,
)

_RETURN_TYPE = (
    "k bigint, data_timestamp timestamp, value double, "
    "seven_day_avg double, score double, anomaly string, "
    "repetitions bigint, frequency double"
)


def make_detect_udtf(
    period: int = 7,
    alpha: float = ALPHA_DEFAULT,
    max_anoms: float = MAX_ANOMS_DEFAULT,
    min_points: int = 2,
    reference_quirks: bool = False,
):
    """Build the UDTF class with the detector config baked in
    (UDTF constructors take no user arguments)."""

    class DetectSeries:
        def __init__(self) -> None:
            self._rows: list[tuple] = []

        def eval(self, row) -> None:  # one call per input row
            self._rows.append((row["k"], row["ts"], row["v"]))

        def terminate(self):
            import numpy as np

            if len(self._rows) < min_points:
                return
            # ORDER BY ts already sorts the feed; re-sort defensively so
            # an unordered call is wrong-free, just slower
            rows = sorted(self._rows, key=lambda r: r[1])
            vals = np.array([r[2] for r in rows], dtype=np.float64)
            yield (rows[0][0],) + summarize_series(
                vals, [r[1] for r in rows], period, alpha, max_anoms,
                reference_quirks,
            )

    return udtf(DetectSeries, returnType=_RETURN_TYPE)


def register_detect_udtf(spark: SparkSession, name: str = "detect_series",
                         **config) -> str:
    """Register the detector as a SQL table function; returns the name."""
    spark.udtf.register(name, make_detect_udtf(**config))
    return name

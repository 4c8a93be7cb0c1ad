"""Decomposition-based anomaly engine — the Spark-native port of the
reference's R engine (``func.R:84-157``: tibbletime/anomalize
``time_decompose → anomalize(remainder) → time_recompose`` + scoring).

The reference runs a **serial** per-ticker loop in one R process
(``func.R:131-133`` — its own "TODO: optimize time" bottleneck). Here
the same per-series computation runs as ``groupBy(keys).applyInPandas``:
each series is a bounded pandas frame (trailing-N rows) processed on an
executor, Arrow-batched, embarrassingly parallel across keys — the
single biggest scalability win of the port (SURVEY.md §2.9 M7). At
100 TB key cardinality grows but group size stays bounded, so executor
memory is flat and the job scales linearly.

Decomposition: the vendored pure-numpy LOESS STL
(``detect/loess_stl.py``, periodic seasonal, robust outer loop) — the
stand-in for R's ``stl(s.window="periodic", robust=TRUE)``; series
shorter than two periods fall back to a moving-average trend. The IQR
anomaly test only needs the detrended/deseasonalized remainder.

Anomaly test: the anomalize package's IQR method (its default):
limits ``q25 − k·IQR`` / ``q75 + k·IQR`` with ``k = 0.15/alpha``
(alpha=0.05 → 3×IQR), flagged fraction capped at ``max_anoms``
(ranked by distance outside the limits). Score per ``func.R:99-102``:
``buffer_zero=(l1+l2)/2; buffer_radius=|l2−buffer_zero|;
score=|remainder−buffer_zero|/buffer_radius``.

Reference quirks (``reference_quirks=True`` reproduces them,
default normalizes — SURVEY.md §7.3):
- ``seven_day_avg`` actually averages the trailing **8** points
  (``func.R:107``); normalized: trailing 7.
- ``repetitions`` counts the prior **9** values equal to the final
  value (``func.R:110``, R operator-precedence accident); normalized:
  prior 7.
- ``frequency`` reads a global variable instead of the group's frame
  (``func.R:111`` — a genuine bug); always fixed here: the group's own
  last sampling gap in days.
"""

from __future__ import annotations

from typing import Optional, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

ALPHA_DEFAULT = 0.05
MAX_ANOMS_DEFAULT = 0.2
SECONDS_PER_DAY = 86400.0


def _moving_average_trend(values: np.ndarray, period: int) -> np.ndarray:
    """Centered moving-average trend (classical decomposition).

    Even periods use the standard half-weight endpoints (2×period MA).
    Edges are extended with the nearest interior estimate.
    """
    n = len(values)
    if period % 2 == 0:
        kernel = np.ones(period + 1)
        kernel[0] = kernel[-1] = 0.5
        kernel /= period
    else:
        kernel = np.ones(period) / period
    half = len(kernel) // 2
    if n < len(kernel):
        return np.full(n, np.median(values))
    core = np.convolve(values, kernel, mode="valid")
    trend = np.empty(n)
    trend[half:n - half] = core
    trend[:half] = core[0]
    trend[n - half:] = core[-1]
    return trend


def decompose(values: np.ndarray, period: int = 7,
              robust: bool = True) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """observed → (season, trend, remainder), additive.

    LOESS STL when the series is long enough (≥ 2 full periods, the
    same constraint the reference hits — SURVEY.md §7.6.3); a
    moving-average trend with zero season otherwise.
    """
    values = np.asarray(values, dtype=np.float64)
    n = len(values)
    if n < 2 * period:
        # too short for seasonal estimation — trend-only fallback
        trend = _moving_average_trend(values, min(period, max(1, n // 2)))
        season = np.zeros(n)
        return season, trend, values - trend
    # vendored pure-numpy LOESS STL (periodic seasonal, robust outer
    # loop) — the faithful stand-in for R's stl(s.window="periodic",
    # robust=TRUE); fidelity pinned by tests/test_stl_fidelity.py
    from anomaly_detection_spark.detect.loess_stl import stl_periodic
    return stl_periodic(values, period=period, robust=robust)


def iqr_anomalize(remainder: np.ndarray, alpha: float = ALPHA_DEFAULT,
                  max_anoms: float = MAX_ANOMS_DEFAULT
                  ) -> tuple[np.ndarray, float, float]:
    """anomalize-style IQR test → (is_anomaly bool array, l1, l2)."""
    q25, q75 = np.percentile(remainder, [25.0, 75.0])
    iqr = q75 - q25
    k = 0.15 / alpha
    l1, l2 = q25 - k * iqr, q75 + k * iqr
    outside = (remainder < l1) | (remainder > l2)
    cap = int(np.floor(max_anoms * len(remainder)))
    if outside.sum() > cap:
        # keep only the `cap` most extreme (distance outside the band)
        dist = np.maximum(l1 - remainder, remainder - l2)
        keep = np.argsort(-dist)[:cap]
        capped = np.zeros_like(outside)
        capped[keep] = True
        outside = capped
    return outside, float(l1), float(l2)


def _score(remainder: np.ndarray, l1: float, l2: float) -> np.ndarray:
    buffer_zero = (l1 + l2) / 2.0
    buffer_radius = abs(l2 - buffer_zero)
    if buffer_radius == 0:
        return np.where(remainder == buffer_zero, 0.0, np.inf)
    return np.abs(remainder - buffer_zero) / buffer_radius


SUMMARY_COLUMNS = [
    "data_timestamp", "value", "seven_day_avg", "score", "anomaly",
    "repetitions", "frequency",
]


def summarize_series(
    vals: np.ndarray,
    ts: Sequence,
    period: int = 7,
    alpha: float = ALPHA_DEFAULT,
    max_anoms: float = MAX_ANOMS_DEFAULT,
    reference_quirks: bool = False,
) -> tuple:
    """The detector's summary row (``SUMMARY_COLUMNS``) for one series
    sorted by time: the last observation's timestamp, value, trailing
    mean, score and verdict, its repeats among the prior values, and
    the last sampling gap in days."""
    rep_window = 9 if reference_quirks else 7
    avg_tail = 8 if reference_quirks else 7
    n = len(vals)
    _season, _trend, remainder = decompose(vals, period=period)
    is_anom, l1, l2 = iqr_anomalize(remainder, alpha=alpha, max_anoms=max_anoms)
    last = vals[-1]
    prior = vals[max(0, n - 1 - rep_window):n - 1]
    gap = (
        (ts[-1] - ts[-2]).total_seconds() / SECONDS_PER_DAY
        if n >= 2 else float("nan")
    )
    return (
        ts[-1], float(last), float(vals[-avg_tail:].mean()),
        float(_score(remainder, l1, l2)[-1]),
        "Yes" if bool(is_anom[-1]) else "No",
        int((prior == last).sum()), gap,
    )


def stl_iqr_detect(
    fact: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    period: int = 7,
    alpha: float = ALPHA_DEFAULT,
    max_anoms: float = MAX_ANOMS_DEFAULT,
    reference_quirks: bool = False,
    min_points: Optional[int] = None,
) -> DataFrame:
    """One summary row per series (the reference's ``detect_anomaly``).

    Output: keys…, ``data_timestamp`` (last obs), ``value``,
    ``seven_day_avg``, ``score``, ``anomaly`` ("Yes"/"No"),
    ``repetitions``, ``frequency`` (last sampling gap, days).
    """
    keys = list(keys)
    min_pts = min_points if min_points is not None else 2

    key_fields = ", ".join(
        f"{k} {fact.schema[k].dataType.simpleString()}" for k in keys
    )
    out_schema = (
        f"{key_fields}, data_timestamp timestamp, value double, "
        "seven_day_avg double, score double, anomaly string, "
        "repetitions long, frequency double"
    )

    def detect(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ts_col)
        vals = pdf[value_col].to_numpy(dtype=np.float64)
        if len(vals) < min_pts:
            return pd.DataFrame(columns=keys + SUMMARY_COLUMNS)
        row = {k: pdf[k].iloc[0] for k in keys}
        row.update(zip(SUMMARY_COLUMNS, summarize_series(
            vals, pdf[ts_col].tolist(), period, alpha, max_anoms,
            reference_quirks,
        )))
        return pd.DataFrame([row])

    # project before the grouped map (applyInPandas ships every column
    # through Arrow) and pin the shuffle width: AQE would coalesce the
    # now-tiny shuffle to ~1 partition by BYTE size, serializing the
    # Python compute — an explicit repartition keeps the stage wide
    slim = fact.select(*keys, ts_col, value_col).repartition(
        fact.sparkSession.sparkContext.defaultParallelism, *keys
    )
    return slim.groupBy(*keys).applyInPandas(detect, schema=out_schema)


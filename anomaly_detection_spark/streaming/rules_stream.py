"""Structured Streaming generalizations of the batch engine
(SURVEY.md §2.10 — extensions; the reference is a daily batch job
parameterized by ``eval_date`` with streaming as an explicit TODO,
``func.R:3``).

| batch concept (reference)            | streaming operator here          |
|--------------------------------------|----------------------------------|
| eval_date daily rerun                | watermarked tumbling window aggs |
| trailing-N window stats (W5/W7/W8)   | bounded per-key state deque      |
| run length of repeats (W10/W11)      | per-key (last_value, run) state  |
| staleness flag (D7)                  | state + processing-time timeout  |

Late data: ``withWatermark`` bounds state; within a micro-batch rows
are sorted by event time before state updates; rows older than the
key's high-water mark are counted as ``late_dropped`` rather than
corrupting run state (documented allowed-lateness policy).

Scale: state is O(1) per key (a float, a counter, a timestamp — the
trailing-stats variant keeps a bounded deque of N=28 floats), so state
store size is linear in live key cardinality and independent of
throughput — the property that lets this run on 100 TB/day streams.
"""

from __future__ import annotations

import datetime as dt
from typing import Iterator, Sequence

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def _keyed_state(
    stream: DataFrame,
    key: str,
    ts_col: str,
    watermark: str,
    update,
    out_schema: str,
    state_schema: str,
    timeout: str = GroupStateTimeout.NoTimeout,
    output_mode: str = "append",
) -> DataFrame:
    """Watermarked per-key ``applyInPandasWithState`` — the chain every
    keyed-state lane shares."""
    # watermarks require TIMESTAMP (LTZ); UTC session makes the NTZ→LTZ
    # cast the identity on the wall clock
    stream = stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(key)
        .applyInPandasWithState(
            update, out_schema, state_schema, output_mode, timeout
        )
    )


class _HighWaterMark:
    """One key's in-order arrival filter: :meth:`arrivals` yields the
    micro-batch's ``(ts, ts_us, value)`` rows in event-time order,
    skipping (and counting in ``late``) every row at or before the
    key's newest event time ``max_ts_us``."""

    def __init__(self, max_ts_us: int, late: int = 0):
        self.max_ts_us = max_ts_us
        self.late = late

    def arrivals(self, pdfs: Iterator[pd.DataFrame], ts_col: str,
                 value_col: str):
        for pdf in pdfs:
            pdf = pdf.sort_values(ts_col)
            for ts, v in zip(pdf[ts_col], pdf[value_col]):
                ts_us = int(pd.Timestamp(ts).value // 1000)
                if ts_us <= self.max_ts_us:
                    self.late += 1
                    continue
                self.max_ts_us = ts_us
                yield ts, ts_us, v


def windowed_series_stats(
    stream: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value_col: str,
    window: str = "1 day",
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked tumbling-window stats per series — the streaming
    form of the reference's daily rerun. Append-mode compatible."""
    # watermarks require TIMESTAMP (LTZ); UTC session makes the
    # NTZ→LTZ cast the identity on the wall clock
    stream = stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"), *keys)
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.round(F.avg(value_col), 4).alias("avg_value"),
            F.round(F.stddev_samp(value_col), 4).alias("stddev_value"),
            F.round(F.min(value_col), 4).alias("min_value"),
            F.round(F.max(value_col), 4).alias("max_value"),
            F.max(ts_col).alias("last_ts"),
        )
        .select(
            F.col("win.start").cast("timestamp_ntz").alias("window_start"),
            F.col("win.end").cast("timestamp_ntz").alias("window_end"),
            *keys, "n_obs", "avg_value", "stddev_value",
            "min_value", "max_value",
            F.col("last_ts").cast("timestamp_ntz").alias("last_ts"),
        )
    )


def stateful_run_length(
    stream: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
    value_rep_lim: int = 3,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Per-key consecutive-repetition counter with persistent state —
    the streaming W10/W11 (run length survives across micro-batches).

    Emits one row per processed observation:
    (key, ts, value, data_repetitions, data_repetitions_flag).
    Out-of-order rows older than the key's high-water mark are dropped
    and surfaced in the ``late_dropped`` count of the NEXT emitted row
    for that key.
    """
    out_schema = (
        f"{key} long, ts timestamp_ntz, value double, "
        "data_repetitions long, data_repetitions_flag int, late_dropped long"
    )
    state_schema = "last_value double, run_len long, max_ts_us long, pending_late long"

    def update(key_tuple, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.exists:
            last_value, run_len, max_ts_us, pending_late = state.get
        else:
            last_value, run_len, max_ts_us, pending_late = None, 0, -1, 0
        hwm = _HighWaterMark(max_ts_us, pending_late)
        rows = []
        for ts, _ts_us, v in hwm.arrivals(pdfs, ts_col, value_col):
            if last_value is not None and v == last_value:
                run_len += 1
            else:
                run_len = 1
            last_value = float(v)
            rows.append((
                key_tuple[0], ts, float(v), run_len,
                1 if run_len >= value_rep_lim else 0, hwm.late,
            ))
            hwm.late = 0
        state.update((last_value, run_len, hwm.max_ts_us, hwm.late))
        if rows:
            yield pd.DataFrame(
                rows,
                columns=[key, "ts", "value", "data_repetitions",
                         "data_repetitions_flag", "late_dropped"],
            )

    return _keyed_state(stream, key, ts_col, watermark, update, out_schema,
                        state_schema)


def stateful_trailing_flags(
    stream: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
    data_periods: int = 28,
    stddev_lim: float = 4.5,
    value_rep_lim: int = 3,
    update_lim: float = 1.0,
    watermark: str = "10 minutes",
) -> DataFrame:
    """The FULL rule engine as a streaming operator: per-key state holds
    a bounded deque of the trailing ``data_periods`` observations, and
    every arriving observation is scored exactly like the batch
    ``detect.rules.rule_flags`` row for that point (z-score of |Δ|
    against the trailing window, run length, staleness vs mean gap).

    State size: ``data_periods`` (value, ts) pairs per key — O(1) per
    key, linear in live key cardinality overall.
    """
    out_schema = (
        f"{key} long, ts timestamp_ntz, value double, "
        "absolute_one_period_difference double, average double, "
        "standard_deviation double, "
        "absolute_standard_deviations_from_avg double, "
        "data_repetitions long, avg_days_bw_data double, "
        "standard_deviation_flag int, data_repetitions_flag int, "
        "days_since_last_update_flag int, anomaly int"
    )
    # deque encoded as parallel arrays in state
    state_schema = (
        "ts_us array<long>, vals array<double>, run_len long, max_ts_us long"
    )

    def update(key_tuple, pdfs: Iterator[pd.DataFrame], state: GroupState):
        import numpy as np
        if state.exists:
            ts_us_list, vals_list, run_len, max_ts_us = state.get
            ts_us_list, vals_list = list(ts_us_list), list(vals_list)
        else:
            ts_us_list, vals_list, run_len, max_ts_us = [], [], 0, -1
        hwm = _HighWaterMark(max_ts_us)
        rows = []
        # late rows are dropped (watermark policy)
        for ts, ts_us, v in hwm.arrivals(pdfs, ts_col, value_col):
            v = round(float(v), 4)
            run_len = run_len + 1 if (vals_list and vals_list[-1] == v) else 1
            ts_us_list.append(ts_us)
            vals_list.append(v)
            if len(vals_list) > data_periods:
                ts_us_list = ts_us_list[-data_periods:]
                vals_list = vals_list[-data_periods:]
            varr = np.asarray(vals_list)
            tarr = np.asarray(ts_us_list, dtype=np.int64)
            diffs = np.abs(np.round(np.diff(varr), 4))
            gaps_days = np.diff(tarr) / 86400e6
            cur_diff = float(diffs[-1]) if len(diffs) else float("nan")
            avg = float(np.round(diffs.mean(), 4)) if len(diffs) else float("nan")
            std = (
                float(np.round(diffs.std(ddof=1), 4)) if len(diffs) >= 2 else 0.0
            )
            z = round(abs(cur_diff - avg) / std, 4) if std else 0.0
            avg_gap = float(np.round(gaps_days.mean(), 6)) if len(gaps_days) else float("nan")
            # staleness at ingest time = gap since previous obs vs mean gap
            cur_gap = float(gaps_days[-1]) if len(gaps_days) else 0.0
            sd_flag = 1 if (len(diffs) and z >= stddev_lim) else 0
            rep_flag = 1 if run_len >= value_rep_lim else 0
            stale_flag = (
                1 if (len(gaps_days) >= 2 and cur_gap > update_lim * avg_gap) else 0
            )
            rows.append((
                key_tuple[0], ts, v,
                cur_diff if len(diffs) else None, avg if len(diffs) else None,
                std, z, run_len, avg_gap if len(gaps_days) else None,
                sd_flag, rep_flag, stale_flag,
                1 if (sd_flag or rep_flag or stale_flag) else 0,
            ))
        state.update((ts_us_list, vals_list, run_len, hwm.max_ts_us))
        if rows:
            yield pd.DataFrame(rows, columns=[
                key, "ts", "value", "absolute_one_period_difference",
                "average", "standard_deviation",
                "absolute_standard_deviations_from_avg", "data_repetitions",
                "avg_days_bw_data", "standard_deviation_flag",
                "data_repetitions_flag", "days_since_last_update_flag",
                "anomaly",
            ])

    return _keyed_state(stream, key, ts_col, watermark, update, out_schema,
                        state_schema)


def stateful_stl_scores(
    stream: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
    data_periods: int = 28,
    period: int = 7,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming decomposition detector: per-key state keeps the
    trailing ``data_periods`` observations; every arrival re-fits the
    decomposition + IQR band over that window and scores the newest
    point — the streaming generalization of the R engine
    (detect/stl.py), same deque-state contract as the trailing flags.

    Output: one row per processed observation with the remainder,
    band, score, and anomaly verdict for the arrival.
    """
    import numpy as np

    from anomaly_detection_spark.detect.stl import (
        decompose, iqr_anomalize, _score,
    )

    out_schema = (
        f"{key} long, ts timestamp_ntz, value double, remainder double, "
        "remainder_l1 double, remainder_l2 double, score double, "
        "anomaly string"
    )
    state_schema = "ts_us array<long>, vals array<double>, max_ts_us long"

    def update(key_tuple, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.exists:
            ts_us_list, vals_list, max_ts_us = state.get
            ts_us_list, vals_list = list(ts_us_list), list(vals_list)
        else:
            ts_us_list, vals_list, max_ts_us = [], [], -1
        hwm = _HighWaterMark(max_ts_us)
        rows = []
        # late rows are dropped (watermark policy)
        for ts, ts_us, v in hwm.arrivals(pdfs, ts_col, value_col):
            ts_us_list.append(ts_us)
            vals_list.append(float(v))
            if len(vals_list) > data_periods:
                ts_us_list = ts_us_list[-data_periods:]
                vals_list = vals_list[-data_periods:]
            arr = np.asarray(vals_list)
            if len(arr) < 4:
                rows.append((key_tuple[0], ts, float(v),
                             None, None, None, None, "No"))
                continue
            _season, _trend, rem = decompose(arr, period=period)
            is_anom, l1, l2 = iqr_anomalize(rem)
            sc = _score(rem, l1, l2)
            rows.append((
                key_tuple[0], ts, float(v), float(rem[-1]),
                float(l1), float(l2),
                float(sc[-1]) if np.isfinite(sc[-1]) else None,
                "Yes" if bool(is_anom[-1]) else "No",
            ))
        state.update((ts_us_list, vals_list, hwm.max_ts_us))
        if rows:
            yield pd.DataFrame(rows, columns=[
                key, "ts", "value", "remainder", "remainder_l1",
                "remainder_l2", "score", "anomaly",
            ])

    return _keyed_state(stream, key, ts_col, watermark, update, out_schema,
                        state_schema)


def _make_staleness_update(key: str, ts_col: str, stale_after_seconds: float):
    """Build the staleness state-machine closure (module-level so the
    timeout transitions are unit-testable with a fake GroupState —
    driving ProcessingTimeTimeout deterministically through a live
    query isn't practical)."""

    def update(key_tuple, pdfs: Iterator[pd.DataFrame], state: GroupState):
        now_us = int(dt.datetime.utcnow().timestamp() * 1e6)
        if state.hasTimedOut:
            last_ts_us, _ = state.get if state.exists else (0, False)
            state.update((last_ts_us, True))
            state.setTimeoutDuration(int(stale_after_seconds * 1000))
            yield pd.DataFrame(
                [(key_tuple[0], "STALE",
                  pd.Timestamp(last_ts_us, unit="us"),
                  round((now_us - last_ts_us) / 1e6, 3))],
                columns=[key, "alert", "last_seen", "silent_seconds"],
            )
            return
        last_ts_us, alerted = state.get if state.exists else (-1, False)
        for pdf in pdfs:
            if len(pdf):
                batch_max = int(pd.Timestamp(pdf[ts_col].max()).value // 1000)
                last_ts_us = max(last_ts_us, batch_max)
        state.update((last_ts_us, False))
        state.setTimeoutDuration(int(stale_after_seconds * 1000))
        if alerted:
            yield pd.DataFrame(
                [(key_tuple[0], "RECOVERED",
                  pd.Timestamp(last_ts_us, unit="us"), 0.0)],
                columns=[key, "alert", "last_seen", "silent_seconds"],
            )

    return update


def staleness_monitor(
    stream: DataFrame,
    key: str,
    ts_col: str,
    stale_after_seconds: float = 86400.0,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Staleness alerts via processing-time timeouts — the streaming D7.

    While events flow, state tracks each key's newest event time. When
    a key goes quiet for ``stale_after_seconds`` of processing time,
    the timeout fires and a stale alert row is emitted. New data for
    the key clears the alert (emits a recovery row).

    Deliberately LOCAL-ONLY (no driver/oracle row): ProcessingTimeTimeout
    fires on WALL-CLOCK time, so an availableNow replay cannot reproduce
    its emissions deterministically — which rows appear depends on how
    long the replay takes.  The state-machine transitions are instead
    unit-tested against a fake GroupState (`_make_staleness_update` is
    module-level for exactly this), and the deterministic twin of this
    lane — event-time timers, which fire on watermark advancement — owns
    a real driver row (`streaming_session_histogram_events`).
    """
    out_schema = (
        f"{key} long, alert string, last_seen timestamp_ntz, "
        "silent_seconds double"
    )
    state_schema = "last_ts_us long, alerted boolean"
    update = _make_staleness_update(key, ts_col, stale_after_seconds)
    return _keyed_state(stream, key, ts_col, watermark, update, out_schema,
                        state_schema, GroupStateTimeout.ProcessingTimeTimeout,
                        "update")


def _make_session_histogram_update(key, ts_col, type_col, gap_seconds):
    import pandas as pd

    gap_us = int(gap_seconds * 1_000_000)

    def _emit(k, start_us, last_us, types, counts):
        n = sum(counts)
        # top type: max count, ties to the lexicographically first type
        top_i = min(range(len(types)),
                    key=lambda i: (-counts[i], types[i]))
        return pd.DataFrame([{
            key: k,
            "session_start": pd.Timestamp(start_us, unit="us"),
            "session_end": pd.Timestamp(last_us, unit="us"),
            "n_events": n,
            "n_types": len(types),
            "top_type": types[top_i],
            "top_count": counts[top_i],
        }])

    def update(keys, pdfs, state):
        (k,) = keys
        if state.hasTimedOut:
            start_us, last_us, types, counts = state.get
            state.remove()
            yield _emit(k, start_us, last_us, list(types), list(counts))
            return
        if state.exists:
            start_us, last_us, types, counts = state.get
            types, counts = list(types), list(counts)
        else:
            start_us, last_us, types, counts = None, None, [], []
        for pdf in pdfs:
            pdf = pdf.sort_values(ts_col)
            for ts, et in zip(pdf[ts_col], pdf[type_col]):
                ts_us = int(pd.Timestamp(ts).value // 1000)
                if last_us is not None and ts_us - last_us > gap_us:
                    # gap observed in-stream: close the session NOW
                    yield _emit(k, start_us, last_us, types, counts)
                    start_us, types, counts = None, [], []
                if start_us is None:
                    start_us = ts_us
                last_us = ts_us if last_us is None else max(last_us, ts_us)
                if et in types:
                    counts[types.index(et)] += 1
                else:
                    types.append(et)
                    counts.append(1)
        if last_us is not None:
            state.update((start_us, last_us, types, counts))
            # close via watermark when the stream goes quiet past the gap
            state.setTimeoutTimestamp(last_us // 1000 + gap_us // 1000)

    return update


def stateful_session_histogram(
    stream: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    gap_seconds: float = 1800.0,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Per-session categorical histograms with EVENT-TIME timeout
    emission: each key's session accumulates an event-type → count map
    in state; the session closes (one output row: bounds, volume,
    distinct types, top type) either when a later event reveals a gap
    > ``gap_seconds``, or when the WATERMARK passes the last event +
    gap — the event-time-timer path that ``session_window`` cannot
    express for arbitrary per-session aggregates like categorical
    argmax.

    State per live key is O(distinct types in one session), bounded by
    the type vocabulary — safe at any key cardinality.
    """
    out_schema = (
        f"{key} long, session_start timestamp_ntz, "
        "session_end timestamp_ntz, n_events long, n_types long, "
        "top_type string, top_count long"
    )
    state_schema = (
        "start_us long, last_us long, types array<string>, "
        "counts array<long>"
    )
    update = _make_session_histogram_update(key, ts_col, type_col, gap_seconds)
    return _keyed_state(stream, key, ts_col, watermark, update, out_schema,
                        state_schema, GroupStateTimeout.EventTimeTimeout)


def windowed_distinct_sketch(
    stream: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    entity_col: str = "user_id",
    window: str = "1 day",
    watermark: str = "1 hour",
    lg_k: int = 14,
) -> DataFrame:
    """Streaming windowed distinct-entity counts via MERGEABLE HLL
    sketch states (the streaming mirror of the batch
    ``incremental_distinct_users`` rollup): per (window, key) the
    aggregation state is a Datasketches HLL sketch, so partial states
    from every micro-batch and executor merge associatively — the same
    property that makes sketch rollups work across 1000 executors
    makes them work across triggers here.

    Append-mode compatible (the watermark closes windows); state per
    live (window, key) is the fixed-size sketch (~2^lg_k bytes), never
    a distinct-entity set — the distinction that survives 100 TB/day
    streams where exact per-window sets would OOM the state store.
    """
    stream = stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"), key_col)
        .agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg(entity_col, F.lit(lg_k))
            ).alias("approx_distinct"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("win.start").cast("timestamp_ntz").alias("window_start"),
            F.col(key_col),
            F.col("approx_distinct").cast("long").alias("approx_distinct"),
            "n_events",
        )
    )


def stateful_heavy_hitters(
    stream: DataFrame,
    key_col: str = "event_type",
    item_col: str = "user_id",
    capacity: int = 8,
) -> DataFrame:
    """Streaming Misra-Gries heavy hitters per key: the state per key
    is a bounded (item -> counter) summary of at most ``capacity``
    entries — O(capacity) memory regardless of stream length or item
    cardinality, the property that lets per-key top-item tracking run
    forever on an unbounded stream.

    Classic MG fold (Misra & Gries 1982): increment a tracked item,
    start tracking into a free slot, else decrement EVERY counter
    (evicting zeros).  The standard guarantee carries across
    micro-batches because the fold is sequential over the state:
    any item with true frequency > N/(capacity+1) is guaranteed
    present, with counter >= true_count - N/(capacity+1).

    Each trigger emits the key's current summary (append mode), so the
    sink holds a time series of summaries; readers take the latest
    ``emitted_n`` per key.  Batch twin: pipeline/sketches.py
    (misra_gries_partials + exact verify).
    """
    out_schema = (
        f"{key_col} string, item long, lower_bound long, emitted_n long"
    )
    state_schema = "items array<long>, counts array<long>, n long"

    def update(keys, pdfs, state):
        (k,) = keys
        if state.hasTimedOut:  # pragma: no cover - no timeout configured
            return
        if state.exists:
            items, counts, n = state.get
            items, counts, n = list(items), list(counts), int(n)
        else:
            items, counts, n = [], [], 0
        for pdf in pdfs:
            for v in pdf[item_col]:
                v = int(v)
                n += 1
                if v in items:
                    counts[items.index(v)] += 1
                elif len(items) < capacity:
                    items.append(v)
                    counts.append(1)
                else:
                    counts = [c - 1 for c in counts]
                    keep = [(i, c) for i, c in zip(items, counts) if c > 0]
                    items = [i for i, _ in keep]
                    counts = [c for _, c in keep]
        state.update((items, counts, n))
        yield pd.DataFrame({
            key_col: [k] * len(items),
            "item": items,
            "lower_bound": counts,
            "emitted_n": [n] * len(items),
        })

    return (
        stream.groupBy(key_col)
        .applyInPandasWithState(
            update, out_schema, state_schema, "append",
            GroupStateTimeout.NoTimeout,
        )
    )


def minute_rollup_partials(
    stream: DataFrame,
    keys: Sequence[str] = ("event_type",),
    ts_col: str = "ts",
    value_col: str = "value",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming leg of the hierarchical (continuous-aggregate) rollup:
    1-minute tumbling windows emitting MERGEABLE partials — an exact
    integer event count and cent sum per (minute, keys) — so coarser
    grains (hour/day) are pure batch re-aggregations of the stream's
    output and never touch the raw feed again (the streaming mirror of
    ``hierarchical_rollup_events``).

    Append-mode after the watermark closes a minute; exactly the cells
    a 100 TB/day feed would persist (minutes × keys, thousands of times
    smaller than the event stream).
    """
    stream = stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    cents = F.round(F.col(value_col) * 10000, 0).cast("long")
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), "1 minute").alias("win"), *keys)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents).alias("sum_cents"),
        )
        .select(
            F.col("win.start").cast("timestamp_ntz").alias("minute_ts"),
            *keys, "n_events", "sum_cents",
        )
    )


def reaggregate_minutes_to_day(
    minutes: DataFrame, keys: Sequence[str] = ("event_type",)
) -> DataFrame:
    """Batch re-aggregation of streamed minute partials to day grain:
    counts sum, cent sums sum, bucket counts count — the mergeable-
    partials law the batch engine's ``hierarchical_rollup_events``
    oracle proves.  Output schema matches that query exactly so a
    stream-replay parity test can diff the two paths row for row."""
    hour = minutes.groupBy(
        F.date_trunc("hour", F.col("minute_ts")).alias("hour_ts"), *keys
    ).agg(
        F.sum("n_events").alias("n_events"),
        F.sum("sum_cents").alias("sum_cents"),
        F.count(F.lit(1)).alias("n_minutes"),
    )
    return hour.groupBy(
        F.to_date(F.date_trunc("day", F.col("hour_ts"))).alias("day"), *keys
    ).agg(
        F.sum("n_events").alias("n_events"),
        F.round(F.sum("sum_cents").cast("double") / 10000.0, 4)
        .alias("sum_value"),
        F.sum("n_minutes").alias("n_minutes"),
        F.count(F.lit(1)).alias("n_hours"),
    )

"""The benchmark's workloads.  Each is a closed loop of passes: the next
pass starts only after the previous one has completed and been checked.

A workload object owns its inputs (``setup``), runs one pass through
the engine's public functions (``run_pass``, every call wrapped by the
``Tracer``), checks that pass's output (``check_pass``, raises
``CheckFailed``) and, once every pass is done, runs the checks that
compare passes with each other or with a reference computed after the
timed passes (``final_checks``, returns the failed pass ids).
"""

from __future__ import annotations

import hashlib
import os
import sys
import time
from collections import Counter

import pandas as pd

from perfbench import inputs

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class CheckFailed(Exception):
    pass


def expect(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


def digest(rows) -> str:
    """Order-insensitive digest of collected rows."""
    h = hashlib.sha256()
    for r in sorted(repr(tuple(r)) for r in rows):
        h.update(r.encode())
    return h.hexdigest()


def scan(df):
    """Materialize every column of ``df`` with a noop write; returns
    ``df`` unchanged for the calls that consume it."""
    df.write.format("noop").mode("overwrite").save()
    return df


def majority_failures(digests: dict[int, str]) -> set[int]:
    """Passes whose output digest differs from the most common one."""
    if not digests:
        return set()
    common = Counter(digests.values()).most_common(1)[0][0]
    return {p for p, d in digests.items() if d != common}


class DailyFlags:
    """The reference's daily job: the SQL rules engine and the STL+IQR
    engine over the three ticker tables."""

    name = "daily_flags"
    SIZES = {"full": 300, "tiny": 150}
    # warm passes keep speeding up as the JVM compiles the driver-side
    # planning code (4.1, 3.6, 3.4 s, then 2.5-3.2 s): three untimed
    # warm-up passes, then a fixed count, so the median does not depend
    # on how many passes fit the window
    WARMUP_PASSES = 3
    MIN_WARM_PASSES = 3

    def __init__(self, spark, scale: str):
        self.spark = spark
        self.n_series = self.SIZES[scale]
        self.digests: dict[int, str] = {}

    def setup(self, data_dir: str, seed: int) -> None:
        self.sf_dir = os.path.join(data_dir, "tickers")
        meta = inputs.write_tickers(self.sf_dir, seed, self.n_series)
        self.planted, self.rows = meta["planted"], meta["rows"]

    def input_desc(self) -> dict:
        return {"series": self.n_series, "rows": self.rows,
                "planted": {k: len(v) for k, v in self.planted.items()}}

    def run_pass(self, tracer):
        from anomaly_detection_spark.config import DetectorConfig
        from anomaly_detection_spark.detect.master import (
            master_anomaly_detector, master_rule_flags,
        )
        from anomaly_detection_spark.sources.tables import load_table

        spark, sf = self.spark, self.sf_dir
        cfg = DetectorConfig(eval_ts=inputs.EVAL_TS)
        data = tracer.call("sources.load_table",
                           lambda: load_table(spark, "ticker_data", sf),
                           scan)
        gran = load_table(spark, "ticker_gran", sf)
        info = load_table(spark, "ticker_info", sf)
        rules = tracer.call(
            "detect.master.rule_flags",
            lambda: master_rule_flags(data, gran, info, cfg, emit="latest"),
            lambda df: df.collect())
        stl = tracer.call(
            "detect.master.anomaly_detector",
            lambda: master_anomaly_detector(data, gran, info, cfg),
            lambda df: df.collect())
        return rules, stl

    def check_pass(self, pass_id: int, out) -> None:
        rules, stl = out
        expect(len(rules) == self.n_series,
               f"rule_flags: {len(rules)} rows for {self.n_series} series")
        expect(len(stl) == self.n_series,
               f"anomaly_detector: {len(stl)} rows for {self.n_series} series")
        by_key = {(r.index_id, r.granularity_id): r for r in rules}
        flag = {"spike": "standard_deviation_flag",
                "repeat": "data_repetitions_flag",
                "stale": "days_since_last_update_flag"}
        for kind, keys in self.planted.items():
            for k in keys:
                expect(k in by_key and by_key[k][flag[kind]] == 1,
                       f"rule_flags missed planted {kind} {k}")
        stl_key = {(r["index"], r["region"]): r for r in stl}
        eval_ts = pd.Timestamp(inputs.EVAL_TS)
        for k in self.planted["spike"]:
            expect(k in stl_key and stl_key[k].anomaly == "Yes",
                   f"anomaly_detector missed planted spike {k}")
        for k in self.planted["repeat"]:
            expect(k in stl_key and stl_key[k].repetitions >= 3,
                   f"anomaly_detector missed planted repeat {k}")
        for k in self.planted["stale"]:
            last = pd.Timestamp(stl_key[k].data_timestamp) if k in stl_key else eval_ts
            expect((eval_ts - last).days >= inputs.STALE_DAYS,
                   f"anomaly_detector missed planted stale {k}")
        self.digests[pass_id] = digest(rules) + digest(stl)

    def final_checks(self) -> set[int]:
        return majority_failures(self.digests)

    def kernel_ms_per_series(self, max_series: int = 300) -> float:
        """Serial in-process ``decompose`` + ``iqr_anomalize`` over the
        generated series, median of three sweeps."""
        from anomaly_detection_spark.detect.stl import decompose, iqr_anomalize

        data = pd.read_parquet(os.path.join(self.sf_dir, "ticker_data.parquet"))
        series = [g["data_value"].to_numpy() for _, g in
                  data.sort_values("data_timestamp").groupby(
                      ["index_id", "granularity_item_id"])][:max_series]
        sweeps = []
        for _ in range(3):
            t0 = time.perf_counter()
            for v in series:
                _, _, rem = decompose(v, period=7)
                iqr_anomalize(rem)
            sweeps.append((time.perf_counter() - t0) * 1e3 / len(series))
        return sorted(sweeps)[1]


class CorpusDedup:
    """The LLM-pipeline dedup path: three registry callables of the
    duplicate-graph family over a seeded corpus in the shape of the
    sf0.1 ``documents`` fixture, replicated K times with disjoint token
    spaces.  (``pagerank_dup_graph`` shares the LSH edge-list front half
    that ``kcore_dup_graph`` measures, and ``curated_corpus`` launches
    3 of a pass's ~77 jobs; both are left out to keep a run short.)"""

    name = "corpus_dedup"
    WARMUP_PASSES = 0
    MIN_WARM_PASSES = 1
    MEMBERS = ("minhash_near_dups", "kcore_dup_graph", "dedup_detector_eval")
    SIZES = {"full": (2500, 2), "tiny": (1000, 2)}

    def __init__(self, spark, scale: str):
        self.spark = spark
        self.n_docs, self.k = self.SIZES[scale]
        self.rows = self.n_docs * self.k
        self.digests: dict[int, str] = {}

    def setup(self, data_dir: str, seed: int) -> None:
        meta = inputs.write_docs(data_dir, seed, self.n_docs, self.k,
                                 self.spark.sparkContext.defaultParallelism)
        self.base_dir, self.sf_dir = meta["base"], meta["sf_dir"]
        clusters = meta["clusters"]
        self.pairs = {(a, b) for c in clusters
                      for i, a in enumerate(c) for b in c[i + 1:]}
        # a planted cluster is a clique: in its 2-core when it has 3+ members
        self.core = {d: len(c) - 1 for c in clusters if len(c) >= 3 for d in c}
        # dedup_detector_eval plants one copy of each doc whose id is 0 or
        # 10 mod 20 (COPY_OFFSET is a multiple of 20: the same docs per copy)
        self.eval_truth = self.k * len(range(0, self.n_docs, 10))

    def input_desc(self) -> dict:
        return {"docs": self.n_docs, "copies": self.k, "rows": self.rows,
                "planted_pairs": len(self.pairs), "core_docs": len(self.core)}

    def run_pass(self, tracer):
        from anomaly_detection_spark import queries as reg

        out = {}
        for m in self.MEMBERS:
            out[m] = tracer.call(f"queries.{m}",
                                 lambda m=m: reg.QUERIES[m](self.spark, self.sf_dir),
                                 lambda df: df.collect())
        return out

    def per_copy(self, rows, key) -> dict[int, set]:
        """Rows split by copy, each with the copy offset removed from
        its ids; a row whose ids lie in two copies fails the check."""
        out: dict[int, set] = {c: set() for c in range(self.k)}
        for r in rows:
            ids = key(r)
            copies = {i // inputs.COPY_OFFSET for i in ids[0]}
            expect(len(copies) == 1, f"{ids[0]} crosses copies")
            c = copies.pop()
            out[c].add((tuple(i - c * inputs.COPY_OFFSET for i in ids[0]),) + ids[1:])
        return out

    def check_pass(self, pass_id: int, out) -> None:
        """The replication law: no pair or core member crosses copies,
        and every copy's minhash pairs and 2-core equal the planted ones
        after removing the copy offset; the detector evaluation finds
        every planted copy."""
        pairs = self.per_copy(out["minhash_near_dups"],
                              lambda r: ((r.id_a, r.id_b),))
        want = {(p,) for p in self.pairs}
        for c, got in pairs.items():
            expect(got == want, f"copy {c}: {len(got)} minhash pairs, "
                                f"{len(want)} planted")
        core = self.per_copy(out["kcore_dup_graph"],
                             lambda r: ((r.doc_id,), r.core_degree))
        want = {((d,), deg) for d, deg in self.core.items()}
        expect(bool(want), "no planted cluster of three or more docs")
        for c, got in core.items():
            expect(got == want, f"copy {c}: {len(got)} docs in the 2-core, "
                                f"{len(want)} planted")
        ev = out["dedup_detector_eval"]
        expect(len(ev) == 1 and ev[0].tp == self.eval_truth and ev[0].fn == 0
               and ev[0].recall_ppm == 1_000_000,
               f"dedup_detector_eval: {ev[0] if ev else None}, "
               f"{self.eval_truth} planted copies")
        self.digests[pass_id] = "".join(digest(out[m]) for m in self.MEMBERS)

    def final_checks(self) -> set[int]:
        return majority_failures(self.digests)

    def matches_replicated_docs(self) -> bool:
        """Whether the generated copies equal
        ``scripts/scale_probe.replicated_docs`` of the base corpus (the
        self-test asks; a run does not, to keep Spark out of setup and
        the run short)."""
        scripts = os.path.join(ROOT, "scripts")
        if scripts not in sys.path:
            sys.path.insert(0, scripts)
        import scale_probe

        scale_probe.SF_DIR = self.base_dir
        want = scale_probe.replicated_docs(self.spark, self.k)
        got = self.spark.read.parquet(os.path.join(self.sf_dir, "documents.parquet"))
        return not want.exceptAll(got).union(got.exceptAll(want)).limit(1).count()


class StreamFlags:
    """The streaming monitor: ``stateful_trailing_flags`` replays a
    backlog (a 28-day history file, then one file per day) through the
    file source, one file per trigger, into a memory sink that the
    check reads back."""

    name = "stream_flags"
    WARMUP_PASSES = 0
    MIN_WARM_PASSES = 1
    SIZES = {"full": (250, 34), "tiny": (20, 30)}
    SCHEMA = "series_id long, data_timestamp timestamp_ntz, data_value double"

    def __init__(self, spark, scale: str):
        self.spark = spark
        self.n_keys, self.n_days = self.SIZES[scale]
        self.last_flags: dict[int, dict] = {}
        self.digests: dict[int, str] = {}
        self.progress: dict[int, list] = {}
        self.replay_s: dict[int, float] = {}

    def setup(self, data_dir: str, seed: int) -> None:
        self.data_dir = data_dir
        self.day_dir = os.path.join(data_dir, "days")
        meta = inputs.write_stream_days(self.day_dir, seed, self.n_keys, self.n_days)
        self.planted, self.rows = meta["planted"], meta["rows"]
        self.files = meta["files"]

    def input_desc(self) -> dict:
        return {"keys_per_trigger": self.n_keys, "days": self.n_days,
                "files": self.files, "rows": self.rows}

    def run_pass(self, tracer):
        from anomaly_detection_spark.streaming.rules_stream import (
            stateful_trailing_flags,
        )

        spark, pid = self.spark, tracer.pass_id
        name = f"stream_flags_{pid}"
        ckpt = os.path.join(self.data_dir, f"ckpt-{pid}")

        def build():
            src = (spark.readStream.schema(self.SCHEMA)
                   .option("maxFilesPerTrigger", 1).parquet(self.day_dir))
            return stateful_trailing_flags(
                src, "series_id", "data_timestamp", "data_value")

        def execute(df):
            t0 = time.time()
            q = (df.writeStream.outputMode("append").format("memory")
                 .queryName(name).option("checkpointLocation", ckpt).start())
            tracer.link(str(q.runId))
            try:
                q.processAllAvailable()
            finally:
                q.stop()
            self.replay_s[pid] = time.time() - t0
            # trigger 0 ingests the history file; the day-file triggers
            # are the steady state the trigger metrics describe
            self.progress[pid] = [p.durationMs["triggerExecution"]
                                  for p in q.recentProgress
                                  if p.batchId > 0 and p.numInputRows > 0]
            rows = spark.table(name).toPandas()
            spark.catalog.dropTempView(name)
            return rows

        return tracer.call("streaming.stateful_trailing_flags", build, execute)

    def check_pass(self, pass_id: int, out: pd.DataFrame) -> None:
        expect(len(out) == self.rows,
               f"stream emitted {len(out)} rows for {self.rows} inputs")
        last = out.sort_values("ts").groupby("series_id").tail(1)
        flags = {
            int(r.series_id): (int(r.standard_deviation_flag),
                               int(r.data_repetitions_flag),
                               int(r.data_repetitions))
            for r in last.itertuples()
        }
        for k in self.planted["spike"]:
            expect(flags.get(k, (0,))[0] == 1, f"stream missed planted spike {k}")
        for k in self.planted["repeat"]:
            expect(flags.get(k, (0, 0))[1] == 1, f"stream missed planted repeat {k}")
        self.last_flags[pass_id] = flags
        self.digests[pass_id] = digest(out.itertuples(index=False))

    def final_checks(self) -> set[int]:
        """The law of ``test_stateful_trailing_flags_matches_batch``:
        each series' newest stream row carries the batch engine's
        ``rule_flags(emit="latest")`` verdicts on the same feed."""
        from anomaly_detection_spark.config import DetectorConfig
        from anomaly_detection_spark.detect.rules import rule_flags

        feed = self.spark.read.schema(self.SCHEMA).parquet(self.day_dir)
        batch = {
            int(r.series_id): (int(r.standard_deviation_flag),
                               int(r.data_repetitions_flag),
                               int(r.data_repetitions))
            for r in rule_flags(feed, ["series_id"], "data_timestamp",
                                "data_value", DetectorConfig(),
                                emit="latest").collect()
        }
        bad = {p for p, flags in self.last_flags.items() if flags != batch}
        return bad | majority_failures(self.digests)


WORKLOADS = {w.name: w for w in (DailyFlags, CorpusDedup, StreamFlags)}

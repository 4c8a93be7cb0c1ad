#!/usr/bin/env python3
"""Self-test of the benchmark at tiny sizes.

    python3 perfbench/selftest.py

1. Every output check fails when its output is corrupted: a dropped
   planted anomaly, a cross-copy pair, a missing pair, a missing or
   empty 2-core, a detector evaluation with a miss, generated copies
   that differ from ``replicated_docs``, a wrong stream verdict, a pass
   whose digest disagrees with the others.
2. For every workload, ``run.py --scale tiny`` prints every metric of
   ``BENCHMARK.json`` with its unit (end-to-end with ``--trace 0``,
   per-layer with ``--trace 1``), ``correct`` true and no failed pass,
   and the per-layer counters of the calls the workload makes are
   non-zero.
3. In a directory holding only ``BENCHMARK.json`` and the benchmark's
   own files, ``run.py`` exits non-zero without printing a result.

Exits non-zero if any check fails.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

PERF_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(PERF_DIR)
sys.path.insert(0, ROOT)

# per workload: traced metrics that must read non-zero
EXERCISED = {
    "daily_flags": ["sources.load_table.jobs", "detect.master.rule_flags.jobs",
                    "detect.master.anomaly_detector.exec_s",
                    "detect.stl.kernel_ms_per_series",
                    "spark.python_bytes_sent", "spark.shuffle_write_bytes",
                    "memory.peak_mb", "memory.jvm_rss_mb"],
    "corpus_dedup": [f"queries.{m}.jobs" for m in (
        "minhash_near_dups", "kcore_dup_graph", "dedup_detector_eval")] + [
        "queries.kcore_dup_graph.build_jobs", "driver.idle_s"],
    "stream_flags": ["streaming.stateful_trailing_flags.jobs",
                     "streaming.add_batch_ms_p50", "streaming.state_rows",
                     "streaming.rows_per_trigger", "spark.task_run_s"],
}

failures: list[str] = []


def check(cond: bool, msg: str) -> None:
    print(("ok   " if cond else "FAIL ") + msg, flush=True)
    if not cond:
        failures.append(msg)


def rejects(fn, msg: str) -> None:
    from perfbench.workloads import CheckFailed

    try:
        fn()
    except CheckFailed:
        check(True, msg)
        return
    check(False, msg)


def with_field(row, **changes):
    from pyspark.sql import Row

    d = row.asDict()
    d.update(changes)
    return Row(**d)


def corrupted_outputs(tmp: str) -> None:
    import pandas as pd

    from perfbench import inputs, run as runner
    from perfbench.trace import Tracer
    from perfbench.workloads import CorpusDedup, DailyFlags, StreamFlags

    runner.configure_env(tmp, trace=False)
    from anomaly_detection_spark.session import get_spark

    spark = get_spark("perfbench-selftest", cpus=2)
    spark.sparkContext.setLogLevel("ERROR")
    tracer = Tracer(spark, enabled=False)
    try:
        wl = DailyFlags(spark, "tiny")
        wl.setup(os.path.join(tmp, "daily"), 7)
        rules, stl = wl.run_pass(tracer)
        wl.check_pass(0, (rules, stl))
        spike = wl.planted["spike"][0]
        rejects(lambda: wl.check_pass(1, (
            [with_field(r, standard_deviation_flag=0)
             if (r.index_id, r.granularity_id) == spike else r for r in rules], stl)),
            "daily_flags: rule_flags output missing a planted spike is rejected")
        rejects(lambda: wl.check_pass(1, (rules, [
            with_field(r, anomaly="No") if (r["index"], r["region"]) == spike else r
            for r in stl])),
            "daily_flags: anomaly_detector output missing a planted spike is rejected")
        stale = wl.planted["stale"][0]
        rejects(lambda: wl.check_pass(1, (
            [r for r in rules if (r.index_id, r.granularity_id) != stale], stl)),
            "daily_flags: rule_flags output missing a series is rejected")
        wl.digests = {0: "a", 1: "a", 2: "b"}
        check(wl.final_checks() == {2}, "daily_flags: a pass with another digest fails")

        wl = CorpusDedup(spark, "tiny")
        wl.setup(os.path.join(tmp, "corpus"), 7)
        out = wl.run_pass(tracer)
        wl.check_pass(0, out)
        pairs = out["minhash_near_dups"]
        first = pairs[0]
        cross = with_field(first, id_b=first.id_b + inputs.COPY_OFFSET)
        rejects(lambda: wl.check_pass(1, {**out, "minhash_near_dups": pairs + [cross]}),
                "corpus_dedup: a pair across copies is rejected")
        in_copy1 = [r for r in pairs if r.id_a // inputs.COPY_OFFSET == 1]
        rejects(lambda: wl.check_pass(1, {**out, "minhash_near_dups": [
            r for r in pairs if r is not in_copy1[0]]}),
            "corpus_dedup: a copy missing one pair is rejected")
        core = out["kcore_dup_graph"]
        check(len(core) == len(wl.core) * wl.k > 0,
              f"corpus_dedup: the 2-core holds the {len(wl.core)} planted "
              "members of clusters of three or more, in every copy")
        rejects(lambda: wl.check_pass(1, {**out, "kcore_dup_graph": core[1:]}),
                "corpus_dedup: a 2-core missing one member is rejected")
        rejects(lambda: wl.check_pass(1, {**out, "kcore_dup_graph": []}),
                "corpus_dedup: an empty 2-core is rejected")
        ev = out["dedup_detector_eval"][0]
        rejects(lambda: wl.check_pass(1, {**out, "dedup_detector_eval": [
            with_field(ev, tp=ev.tp - 1, fn=1, recall_ppm=999_000)]}),
            "corpus_dedup: a detector evaluation that misses a copy is rejected")
        check(wl.matches_replicated_docs(),
              "corpus_dedup: generated copies equal scale_probe.replicated_docs")
        part = os.path.join(wl.sf_dir, "documents.parquet", "part-00000.parquet")
        docs = pd.read_parquet(part)
        docs.loc[0, "text"] += " extra"
        docs.to_parquet(part, index=False)
        check(not wl.matches_replicated_docs(),
              "corpus_dedup: copies that differ from replicated_docs are told apart")

        wl = StreamFlags(spark, "tiny")
        wl.setup(os.path.join(tmp, "stream"), 7)
        tracer.start_pass(0, traced=False)
        rows = wl.run_pass(tracer)
        wl.check_pass(0, rows)
        spike = wl.planted["spike"][0]
        last = rows[rows.series_id == spike]["ts"].max()
        bad = rows.copy()
        bad.loc[(bad.series_id == spike) & (bad.ts == last), "standard_deviation_flag"] = 0
        rejects(lambda: wl.check_pass(1, bad),
                "stream_flags: output missing a planted spike is rejected")
        rejects(lambda: wl.check_pass(1, rows.iloc[1:]),
                "stream_flags: output missing a row is rejected")
        check(wl.final_checks() == set(), "stream_flags: stream matches batch rule_flags")
        key = next(iter(wl.last_flags[0]))
        sd, rep, n = wl.last_flags[0][key]
        wl.last_flags[0][key] = (sd, rep, n + 1)
        check(wl.final_checks() == {0},
              "stream_flags: a verdict differing from batch rule_flags fails")
    finally:
        spark.stop()
        runner.stop_jvm()


def cli_runs(workloads: list[str], cwd: str) -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for w in workloads:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            proc = subprocess.run(
                [sys.executable, os.path.join(PERF_DIR, "run.py"), "--workload", w,
                 "--seed", "3", "--seconds", "1", "--trace", str(trace),
                 "--scale", "tiny"],
                cwd=cwd, capture_output=True, text=True, timeout=400)
            tag = f"{w} --trace {trace}"
            check(proc.returncode == 0, f"{tag}: exit code 0 (got {proc.returncode})")
            try:
                res = json.loads(proc.stdout.strip().splitlines()[-1])
            except (IndexError, ValueError):
                check(False, f"{tag}: last stdout line is the JSON result")
                print(proc.stderr[-2000:])
                continue
            check(sorted(res) == ["attempted", "correct", "failed", "metrics"],
                  f"{tag}: result has exactly the four keys")
            check(res["correct"] and res["failed"] == 0 and res["attempted"] >= 2,
                  f"{tag}: correct, {res['attempted']} attempted, {res['failed']} failed")
            want = {m["name"]: m["unit"] for m in spec[kind]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            check(got == want, f"{tag}: prints every {kind} metric with its unit")
            if trace == 0:
                check(all(v["value"] > 0 for v in res["metrics"].values()),
                      f"{tag}: no end-to-end metric reads 0")
            else:
                zero = [m for m in EXERCISED[w] if not res["metrics"][m]["value"] > 0]
                check(not zero, f"{tag}: exercised layers measured (zero: {zero})")


def bare_checkout(d: str) -> None:
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
    shutil.copytree(PERF_DIR, os.path.join(d, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "daily_flags",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=d, capture_output=True, text=True, timeout=180,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"})
    check(proc.returncode != 0 and not proc.stdout.strip(),
          "bare checkout: non-zero exit, no result printed")


def main() -> int:
    tmp_root = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(tmp_root, exist_ok=True)
    base = tempfile.mkdtemp(prefix="selftest-", dir=tmp_root)
    dirs = {k: os.path.join(base, k) for k in ("bare", "inproc", "cwd")}
    for d in dirs.values():
        os.makedirs(d)
    try:
        bare_checkout(dirs["bare"])
        cli_runs(["daily_flags", "corpus_dedup", "stream_flags"], dirs["cwd"])
        corrupted_outputs(dirs["inproc"])
    finally:
        shutil.rmtree(base, ignore_errors=True)
        try:
            os.rmdir(tmp_root)
        except OSError:
            pass  # a benchmark run is using it
    print(f"{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())

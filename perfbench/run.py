#!/usr/bin/env python3
"""Benchmark entry point: one workload, one fresh JVM, one result line.

    python3 perfbench/run.py --workload daily_flags --seed 1 --seconds 10 --trace 0

Runs from any working directory.  The run:

1. starts the engine's session through ``get_spark`` on ``local[N]``
   (N = the CPUs this process may use) and generates the workload's
   inputs from ``--seed`` three times (``setup_s`` = process start to
   session up, plus the median input generation); generation runs no
   Spark job, so the first pass is the JVM's first work;
2. runs one first pass, the workload's ``WARMUP_PASSES`` (checked,
   not timed), then warm passes in a closed loop for ``--seconds``
   seconds (at least the workload's ``MIN_WARM_PASSES``), checking
   every pass's output;
3. prints, as the last line of standard output, one JSON object with
   ``correct``, ``attempted``, ``failed`` and ``metrics``: the
   end-to-end metrics of ``BENCHMARK.json`` with ``--trace 0``, its
   per-layer metrics with ``--trace 1``.

With ``--trace 1`` warm passes alternate between traced (job groups,
``statusTracker`` reads, spans) and untraced, and the Spark event log is
on for the whole run.  Standard error gets one ``# {...}`` line with
the CPU count, the inputs, every pass time and, when traced, the spans.

Temporary, checkpoint and event-log directories live in one run
directory under ``.perfbench_tmp/`` at the checkout root, deleted at
exit.  ``--scale tiny`` runs the self-test sizes.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

PERF_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(PERF_DIR)

SETUP_REPEATS = 3
PASS_LOOP_LIMIT_S = 120  # no new pass starts after this: runs end < 180 s


def process_start_epoch() -> float:
    """This process's start time, from /proc (clock-tick resolution)."""
    with open("/proc/self/stat") as fh:
        ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(line.split()[1]) for line in fh if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def configure_env(run_dir: str, trace: bool) -> str:
    """Point every temp/scratch path of the driver, the JVM and the
    Python workers into ``run_dir``; returns the event-log dir."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    events = os.path.join(run_dir, "events")
    for d in (tmp, local, events):
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # workers import the package: make it importable from any cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    conf = {"spark.ui.showConsoleProgress": "false"}
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{events}",
            "spark.eventLog.compress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    args = [f"--driver-java-options -Djava.io.tmpdir={tmp}"]
    args += [f"--conf {k}={v}" for k, v in conf.items()]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
    return events


def run(args, run_dir: str, cpus: int) -> tuple[dict, dict]:
    from anomaly_detection_spark.session import get_spark
    from perfbench.trace import (
        ProgressLog, MemorySampler, Tracer, pct, spark_layer, stream_layer,
    )
    from perfbench.workloads import WORKLOADS, CheckFailed

    trace = bool(args.trace)
    events = configure_env(run_dir, trace)
    t_proc = process_start_epoch()
    t0 = time.time()
    spark = get_spark(f"perfbench-{args.workload}", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    t_session = time.time()
    mem = MemorySampler()
    try:
        wl = WORKLOADS[args.workload](spark, args.scale)
        gens = []
        for i in range(SETUP_REPEATS):
            a = time.time()
            wl.setup(os.path.join(run_dir, f"inputs{i}"), args.seed)
            gens.append(time.time() - a)
        setup_s = (t_session - t_proc) + statistics.median(gens)

        tracer = Tracer(spark, enabled=trace)
        progress = ProgressLog(spark) if trace and args.workload == "stream_flags" else None
        passes: list[dict] = []

        def one_pass(pid: int, traced: bool) -> None:
            tracer.start_pass(pid, traced)
            a = time.time()
            err = None
            try:
                wl.check_pass(pid, wl.run_pass(tracer))
            except CheckFailed as e:
                err = f"check: {e}"
            except Exception:  # a failed pass is counted, never retried
                err = traceback.format_exc(limit=3)
            b = time.time()
            spark.catalog.clearCache()
            if err:
                print(f"# pass {pid} failed: {err}", file=sys.stderr)
            passes.append({"id": pid, "traced": tracer.traced_pass, "start": a,
                           "end": b, "wall": b - a, "ok": err is None})

        mem.active(True)
        one_pass(0, traced=False)
        first_warm = 1 + wl.WARMUP_PASSES
        for pid in range(1, first_warm):
            one_pass(pid, traced=False)
        warm_start, pid = time.time(), first_warm
        while time.time() - t_proc < PASS_LOOP_LIMIT_S:
            warm = passes[first_warm:]
            more = (time.time() - warm_start < args.seconds
                    or len(warm) < wl.MIN_WARM_PASSES)
            if trace:
                more |= not ({True, False} <= {p["traced"] for p in warm})
            if not more:
                break
            one_pass(pid, traced=pid % 2 == 1)
            pid += 1
        mem.active(False)
        tracer.start_pass(-1, traced=False)  # later jobs belong to no pass

        bad = wl.final_checks()
        for p in passes:
            if p["id"] in bad:
                p["ok"] = False
                print(f"# pass {p['id']} failed the cross-pass check", file=sys.stderr)

        warm = passes[first_warm:]
        plain = [p for p in warm if not p["traced"]]
        metrics: dict[str, float] = {}
        if not trace:
            walls = [p["wall"] for p in plain]
            if args.workload == "stream_flags":
                # a pass that raised has no progress: its wall time stands in
                trig = [float(t) for p in plain
                        for t in wl.progress.get(p["id"], [p["wall"] * 1e3])]
                rows_per_s = (wl.rows * len(plain)
                              / sum(wl.replay_s.get(p["id"], p["wall"]) for p in plain))
            else:
                trig = [w * 1e3 for w in walls]
                rows_per_s = statistics.median(wl.rows / w for w in walls)
            metrics.update({
                "setup_s": setup_s,
                "first_pass_s": passes[0]["wall"],
                "wall_s": statistics.median(walls),
                "rows_per_s": rows_per_s,
                "trigger_ms_p50": pct(trig, 50),
                "trigger_ms_p90": pct(trig, 90),
                "python_pss_mb": mem.python_peak / 2**20,
            })
        else:
            traced = [p for p in warm if p["traced"]]
            metrics["trace.overhead_frac"] = (
                statistics.median(p["wall"] for p in traced)
                / statistics.median(p["wall"] for p in plain) - 1.0)
            metrics["session.get_spark_s"] = t_session - t0
            metrics["memory.peak_mb"] = mem.peak / 2**20
            metrics["memory.jvm_rss_mb"] = mem.jvm_peak / 2**20
            tracer.settle()
            for call, stats in tracer.call_stats().items():
                for field, v in stats.items():
                    metrics[f"{call}.{field}"] = v
            if args.workload == "daily_flags":
                metrics["detect.stl.kernel_ms_per_series"] = wl.kernel_ms_per_series()
            if progress is not None:
                metrics.update(stream_layer(progress.progress))
        desc = {"workload": args.workload, "seed": args.seed, "cpus": cpus,
                "scale": args.scale, "inputs": wl.input_desc(),
                "setup_gen_s": gens,
                "passes": [{k: p[k] for k in ("id", "traced", "wall", "ok")}
                           for p in passes]}
    finally:
        mem.close()
        spark.stop()
    if trace:
        metrics.update(spark_layer(
            events, {p["id"]: (p["start"], p["end"]) for p in warm}, cpus,
            tracer.linked))
        desc["spans"] = tracer.spans  # with the cpus and seed they ran on
    result = {
        "correct": all(p["ok"] for p in passes),
        "attempted": len(passes),
        "failed": sum(not p["ok"] for p in passes),
        "metrics": metrics,
    }
    return result, desc


def stop_jvm() -> None:
    """Terminate the JVM that pyspark launched, if any, and wait for it
    to exit (its Python workers exit with it)."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None and proc.poll() is None:
        proc.terminate()
        proc.wait(timeout=60)


def render(result: dict, trace: bool) -> dict:
    """Keep exactly the metrics ``BENCHMARK.json`` names for this mode,
    with their units; a metric this workload does not exercise (a call
    it never makes, a stream counter on a batch workload) reads 0."""
    spec = load_spec()["per_layer" if trace else "end_to_end"]
    got = result["metrics"]
    if not trace:
        missing = [m["name"] for m in spec if m["name"] not in got]
        if missing:
            raise KeyError(f"end-to-end metrics not measured: {missing}")
    result["metrics"] = {
        m["name"]: {"value": float(got.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in spec
    }
    return result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import anomaly_detection_spark  # noqa: F401
        import perfbench.workloads as workloads
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"known: {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    # a terminated run still unwinds: Spark stops, the run dir goes
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cpus = len(os.sched_getaffinity(0))
    tmp_root = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(tmp_root, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=tmp_root)
    cwd = os.getcwd()
    os.chdir(run_dir)  # stray relative writes (spark-warehouse) land here
    try:
        result, desc = run(args, run_dir, cpus)
        result = render(result, bool(args.trace))
    finally:
        stop_jvm()
        os.chdir(cwd)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(tmp_root)
        except OSError:
            pass  # another run is using it
    print("# " + json.dumps(desc), file=sys.stderr)
    sys.stderr.flush()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

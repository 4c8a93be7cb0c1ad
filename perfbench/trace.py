"""Measurement plumbing: per-call spans and Spark status, the Spark
event-log parser, streaming progress capture and a process-tree memory
sampler.

Everything here observes the engine from outside: it wraps calls into
the package's public functions, tags their jobs with a job group and
reads Spark's public status APIs.  Nothing is added inside the package.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict

# Per-call counters, in the order they are printed.
CALL_FIELDS = ("build_s", "build_jobs", "exec_s", "jobs", "stages", "tasks",
               "failed_tasks")


class Tracer:
    """Times each call in two legs — *build* (the call returns its
    DataFrame, including any eager ``localCheckpoint``/``collect``/
    ``count`` legs inside it) and *exec* (the benchmark materializes
    every output column).  With ``enabled`` it also tags each leg's
    jobs with a job group ``<pass>|<call>|<leg>`` and keeps a span
    (name, start, end, parent, pass) in memory; without it a call costs
    two clock reads.

    With ``enabled``, a pass that is not traced still gets a
    ``<pass>|pass|-`` job group, so the event log can attribute its jobs.
    Jobs that Spark runs under its own group (a streaming query's
    triggers run under the query's ``runId``) are attributed to the
    running call and pass through ``link``.
    """

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.pass_id = 0
        self.traced_pass = False
        self.spans: list[dict] = []
        self.legs: list[dict] = []  # pass, call, leg, job groups, seconds
        self.linked: dict[str, int] = {}  # foreign job group -> pass
        self._leg_groups: list[str] = []

    def _group(self, group: str) -> None:
        self.spark.sparkContext.setJobGroup(group, group)

    def start_pass(self, pass_id: int, traced: bool) -> None:
        self.pass_id = pass_id
        self.traced_pass = self.enabled and traced
        if self.enabled and not self.traced_pass:
            self._group(f"{pass_id}|pass|-")

    def span(self, name: str, start: float, end: float, parent: str | None) -> None:
        if self.traced_pass:
            self.spans.append({"name": name, "start": start, "end": end,
                               "parent": parent, "pass": self.pass_id})

    def link(self, group: str) -> None:
        """Count jobs of the foreign job group ``group`` as the running
        call leg's."""
        self._leg_groups.append(group)
        self.linked[group] = self.pass_id

    def call(self, name: str, build, execute):
        """``execute(build())`` with both legs timed (and traced)."""
        legs = []
        t0 = time.time()
        for leg, fn in (("build", build), ("exec", execute)):
            self._leg_groups = [f"{self.pass_id}|{name}|{leg}"]
            if self.traced_pass:
                self._group(self._leg_groups[0])
            a = time.time()
            out = fn() if leg == "build" else fn(out)
            b = time.time()
            legs.append((leg, self._leg_groups, a, b))
        if self.traced_pass:
            for leg, groups, a, b in legs:
                self.legs.append({"pass": self.pass_id, "call": name,
                                  "leg": leg, "groups": groups, "s": b - a})
                self.span(f"{name}.{leg}", a, b, name)
            self.span(name, t0, legs[-1][3], "pass")
            self._group(f"{self.pass_id}|pass|-")
        return out

    def call_stats(self) -> dict[str, dict[str, float]]:
        """Per call: median over traced passes of each CALL_FIELDS
        counter, read from ``statusTracker`` by job group.  Call this
        once the last job has finished (``settle``)."""
        tracker = self.spark.sparkContext.statusTracker()
        per: dict[str, dict[int, dict[str, float]]] = defaultdict(dict)
        for leg in self.legs:
            row = per[leg["call"]].setdefault(
                leg["pass"], dict.fromkeys(CALL_FIELDS, 0.0))
            jobs = [j for g in leg["groups"] for j in tracker.getJobIdsForGroup(g)]
            row[f"{leg['leg']}_s"] += leg["s"]
            if leg["leg"] == "build":
                row["build_jobs"] += len(jobs)
            row["jobs"] += len(jobs)
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else []):
                    st = tracker.getStageInfo(sid)
                    # a stage whose shuffle output was reused is listed
                    # but never runs (no tasks): not counted
                    if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                        continue
                    row["stages"] += 1
                    row["tasks"] += st.numCompletedTasks
                    row["failed_tasks"] += st.numFailedTasks
        return {
            call: {f: statistics.median(r[f] for r in rows.values())
                   for f in CALL_FIELDS}
            for call, rows in per.items()
        }

    def settle(self, timeout: float = 10.0) -> None:
        """Wait until no job is active and the status store has caught
        up with the listener bus (job ids stop changing)."""
        tracker = self.spark.sparkContext.statusTracker()
        deadline = time.time() + timeout
        last = None
        while time.time() < deadline:
            seen = (tuple(tracker.getActiveJobsIds()),
                    sum(len(tracker.getJobIdsForGroup(g))
                        for leg in self.legs[-20:] for g in leg["groups"]))
            if not seen[0] and seen == last:
                return
            last = seen
            time.sleep(0.2)


def parse_event_log(log_dir: str) -> tuple[dict[int, dict], list[dict]]:
    """(jobs, tasks) from an uncompressed Spark event log.  ``jobs``
    maps job id to ``{"group", "start", "end"}`` (epoch ms); ``tasks``
    lists per-task metrics with the task's job id."""
    stage_job: dict[int, int] = {}
    jobs: dict[int, dict] = {}
    tasks: list[dict] = []
    for path in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True):
        if not os.path.isfile(path):
            continue
        with open(path) as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id", ""),
                        "start": ev.get("Submission Time"), "end": None,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev.get("Completion Time")
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(_task_row(ev, stage_job.get(ev.get("Stage ID"))))
    return jobs, tasks


def _task_row(ev: dict, job_id: int | None) -> dict:
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    acc = defaultdict(int)
    for a in (ev.get("Task Info") or {}).get("Accumulables", []):
        try:
            acc[a.get("Name")] += int(a.get("Update") or 0)
        except (TypeError, ValueError):
            pass
    return {
        "job": job_id,
        "task_run_s": m.get("Executor Run Time", 0) / 1e3,
        "task_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1e3,
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
        + sr.get("Local Bytes Read", 0),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
        "python_bytes_sent": acc["data sent to Python workers"],
        "python_bytes_received": acc["data returned from Python workers"],
    }


def pct(values: list[float], q: int) -> float:
    """The ``q``-th percentile, interpolated between samples."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


SPARK_FIELDS = ("task_run_s", "task_cpu_s", "gc_s", "shuffle_read_bytes",
                "shuffle_write_bytes", "input_bytes", "python_bytes_sent",
                "python_bytes_received", "busy_frac")


def spark_layer(log_dir: str, passes: dict[int, tuple[float, float]],
                cpus: int, linked: dict[str, int]) -> dict[str, float]:
    """``spark.*`` and ``driver.idle_s`` as medians over ``passes``
    (pass id -> (start, end) epoch seconds).  A job belongs to the pass
    named at the front of its job group, or to the pass ``linked`` maps
    its group to."""
    jobs, tasks = parse_event_log(log_dir)
    job_pass = {}
    for jid, j in jobs.items():
        head = j["group"].split("|", 1)[0]
        p = int(head) if head.isdigit() else linked.get(j["group"])
        if p in passes:
            job_pass[jid] = p
    sums = {p: defaultdict(float) for p in passes}
    for t in tasks:
        p = job_pass.get(t["job"])
        if p is None:
            continue
        for k in SPARK_FIELDS[:-1]:  # busy_frac is derived below
            sums[p][k] += t[k]
    idle = {}
    for p, (a, b) in passes.items():
        spans = sorted(
            (max(j["start"] / 1e3, a), min(j["end"] / 1e3, b))
            for jid, j in jobs.items()
            if job_pass.get(jid) == p and j["start"] and j["end"]
        )
        covered, cur_a, cur_b = 0.0, None, None
        for s, e in spans:
            if cur_b is None or s > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = s, e
            else:
                cur_b = max(cur_b, e)
        if cur_b is not None:
            covered += cur_b - cur_a
        idle[p] = max(0.0, (b - a) - covered)
        sums[p]["busy_frac"] = sums[p]["task_run_s"] / ((b - a) * cpus)
    out = {f"spark.{k}": statistics.median(sums[p][k] for p in passes)
           for k in SPARK_FIELDS}
    out["driver.idle_s"] = statistics.median(idle.values())
    return out


class ProgressLog:
    """Every streaming trigger's progress, via a
    ``StreamingQueryListener`` (``recentProgress`` keeps only the last
    100 per query)."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        log = self.progress = []

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                log.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Listener()
        spark.streams.addListener(self.listener)


STREAM_DURATIONS = {
    "add_batch": "addBatch", "query_planning": "queryPlanning",
    "wal_commit": "walCommit", "commit_offsets": "commitOffsets",
    "latest_offset": "latestOffset",
}


def stream_layer(progress: list[dict]) -> dict[str, float]:
    """``streaming.*`` from the progress of every day-file trigger of
    the warm passes (queries are named ``stream_flags_<pass>``; pass 0
    is the cold first pass, trigger 0 of a pass ingests the history)."""
    warm = [p for p in progress if p.get("name") != "stream_flags_0"
            and p["batchId"] > 0 and p["numInputRows"] > 0]
    out = {}
    for key, src in STREAM_DURATIONS.items():
        out[f"streaming.{key}_ms_p50"] = pct(
            [float(p["durationMs"].get(src, 0)) for p in warm], 50)
    ops = [p["stateOperators"][0] for p in warm if p.get("stateOperators")]
    out["streaming.state_commit_ms_p50"] = pct([float(o["commitTimeMs"]) for o in ops], 50)
    out["streaming.state_update_ms_p50"] = pct([float(o["allUpdatesTimeMs"]) for o in ops], 50)
    out["streaming.state_rows"] = float(max(o["numRowsTotal"] for o in ops))
    out["streaming.state_memory_bytes"] = float(max(o["memoryUsedBytes"] for o in ops))
    out["streaming.rows_per_trigger"] = pct([float(p["numInputRows"]) for p in warm], 50)
    return out


def _tree_memory_bytes(root: int, page: int) -> tuple[int, int]:
    """(JVM RSS, summed PSS of every other process) over ``root`` and
    all its descendants.  PSS divides each shared page among the
    processes that map it, so the forked Python workers (copy-on-write
    children of the worker daemon) are not counted once per worker, as
    they are in summed RSS.  The JVM shares next to nothing, and its PSS
    would cost a walk of its whole heap on every sample, so it is read
    as RSS; a child of the JVM still named ``java`` is a helper caught
    between fork and exec, mapping its parent's pages, and is skipped."""
    children = defaultdict(list)
    rss, java = {}, set()
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                head, fields = fh.read().rsplit(")", 1)
        except OSError:
            continue
        fields = fields.split()
        children[int(fields[1])].append(int(d))
        rss[int(d)] = int(fields[21]) * page
        if head.endswith("(java"):
            java.add(int(d))
    jvm = other = 0
    todo = [(root, None)]
    while todo:
        pid, parent = todo.pop()
        if pid in java:
            if parent not in java:
                jvm += rss.get(pid, 0)
        else:
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    other += 1024 * next(int(line.split()[1]) for line in fh
                                         if line.startswith("Pss:"))
            except (OSError, StopIteration):
                pass  # the process has exited
        todo.extend((c, pid) for c in children.get(pid, ()))
    return jvm, other


class MemorySampler:
    """Peak memory of this process and all its descendants, sampled
    every ``INTERVAL_S`` seconds while ``active``: of the whole tree
    (``peak``), of the JVM (``jvm_peak``, RSS) and of the Python
    processes, this one and the workers (``python_peak``, summed PSS)."""

    INTERVAL_S = 0.25

    def __init__(self):
        self.peak = self.jvm_peak = self.python_peak = 0
        self._on = threading.Event()
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.is_set():
            if self._on.is_set():
                jvm, python = _tree_memory_bytes(os.getpid(), self._page)
                self.peak = max(self.peak, jvm + python)
                self.jvm_peak = max(self.jvm_peak, jvm)
                self.python_peak = max(self.python_peak, python)
            self._stop.wait(self.INTERVAL_S)

    def active(self, on: bool) -> None:
        (self._on.set if on else self._on.clear)()

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

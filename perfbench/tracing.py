"""Tracing for the benchmark's traced runs (``--trace 1``).

Three sources, all installed from the benchmark's side of the public
API, never inside the library:

- ``Tracer``: in-memory spans ``(name, start, end, thread)`` recorded by
  timing wrappers around public module functions and around the
  benchmark's own calls into each layer;
- ``ProgressListener``: a ``StreamingQueryListener`` that keeps every
  ``StreamingQueryProgress`` of the run;
- Spark's own uncompressed, non-rolling event log, read back after the
  session stops by ``rollup_event_log``.

All timestamps are wall-clock epoch seconds so spans and event-log
times (epoch milliseconds) share one clock.
"""

from __future__ import annotations

import functools
import glob
import importlib
import json
import sys
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

PACKAGE = "last_minute_legends_spark"

# layer name -> (module, public function) wrapped in traced runs
WRAPPED = {
    "tables.load": ("sources.tables", "load_table"),
    "layout_cache.build": ("sources.layout_cache", "build_once"),
    "sinks.write": ("sources.sinks", "write_time_partitioned"),
}


class Tracer:
    """Spans ``(name, start, end)`` kept in memory until the run ends."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple[str, float, float]] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t0 = time.time()
        try:
            yield
        finally:
            with self._lock:
                self.spans.append((name, t0, time.time()))

    def install_wrappers(self) -> None:
        """Replace every module-level binding of each WRAPPED function
        in the loaded package (callers that did ``from x import f``
        hold their own binding) with a timing wrapper. Call it after
        the workload has imported everything it runs."""
        if not self.enabled:
            return
        for name, (modname, attr) in WRAPPED.items():
            orig = getattr(importlib.import_module(f"{PACKAGE}.{modname}"),
                           attr)

            def wrapper(*a, __orig=orig, __name=name, **k):
                with self.span(__name):
                    return __orig(*a, **k)

            wrapped = functools.wraps(orig)(wrapper)
            for mname, mod in list(sys.modules.items()):
                if not mname.startswith(PACKAGE) or mod is None:
                    continue
                for key, val in list(vars(mod).items()):
                    if val is orig:
                        setattr(mod, key, wrapped)

    def summary(self, t0: float, t1: float) -> tuple[dict, dict]:
        """(total seconds, count) per span name inside [t0, t1]."""
        tot: dict[str, float] = {}
        cnt: dict[str, int] = {}
        for name, a, b in self.spans:
            if a >= t0 and b <= t1:
                tot[name] = tot.get(name, 0.0) + (b - a)
                cnt[name] = cnt.get(name, 0) + 1
        return tot, cnt


def union(intervals) -> list[tuple[float, float]]:
    merged: list[list[float]] = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if merged and a <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], b)
        else:
            merged.append([a, b])
    return [(a, b) for a, b in merged]


def self_times(spans, jobs, ops) -> dict[str, float]:
    """Split the wall time of each op ``(start, end)`` into exclusive
    parts: time covered by a Spark job (``spark.job_wall_s``, from the
    event log's clock), else the innermost (latest-started) span
    covering it (``<name>.self_s``), else ``driver.other_s``. The parts
    sum to the ops' wall time."""
    parts: dict[str, float] = {}
    jobs = union(jobs)
    for a, b in ops:
        cuts = {a, b}
        inside = [s for s in spans if s[2] > a and s[1] < b]
        for _, x, y in inside:
            cuts.update((max(a, x), min(b, y)))
        for x, y in jobs:
            if y > a and x < b:
                cuts.update((max(a, x), min(b, y)))
        pts = sorted(cuts)
        for x, y in zip(pts, pts[1:]):
            mid = (x + y) / 2
            if any(j0 <= mid < j1 for j0, j1 in jobs):
                key = "spark.job_wall_s"
            else:
                cover = [s for s in inside if s[1] <= mid < s[2]]
                key = (max(cover, key=lambda s: s[1])[0] + ".self_s"
                       if cover else "driver.other_s")
            parts[key] = parts.get(key, 0.0) + (y - x)
    return parts


class ProgressListener(StreamingQueryListener):
    """Keeps every progress event of the run (listener-bus thread)."""

    def __init__(self):
        self.progress: list = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def listener_metrics(progress: list, t0: float, t1: float) -> dict:
    """Streaming layer metrics from the progress events of batches
    that started inside [t0, t1]."""
    from datetime import datetime

    out = {"stream.epochs": 0, "stream.add_batch_s": 0.0,
           "stream.query_planning_s": 0.0, "stream.wal_commit_s": 0.0,
           "stream.latest_offset_s": 0.0, "stream.state_rows": 0,
           "stream.state_commit_s": 0.0}
    for p in progress:
        ts = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
        if not t0 <= ts.timestamp() <= t1:
            continue
        d = p.get("durationMs", {})
        out["stream.epochs"] += 1
        out["stream.add_batch_s"] += d.get("addBatch", 0) / 1e3
        out["stream.query_planning_s"] += d.get("queryPlanning", 0) / 1e3
        out["stream.wal_commit_s"] += d.get("walCommit", 0) / 1e3
        out["stream.latest_offset_s"] += d.get("latestOffset", 0) / 1e3
        for op in p.get("stateOperators", []):
            out["stream.state_rows"] += op.get("numRowsUpdated", 0)
            out["stream.state_commit_s"] += op.get("commitTimeMs", 0) / 1e3
    return out


_PY_ACCUMS = {
    "time to run Python workers": ("python.run_s", 1e-3),
    "time to start Python workers": ("python.start_s", 1e-3),
    "data sent to Python workers": ("python.bytes_out", 1),
    "data returned from Python workers": ("python.bytes_in", 1),
}


def rollup_event_log(log_dir: str, t0: float, t1: float, cores: int) -> tuple[dict, list]:
    """Scheduler, executor, shuffle and Python-worker metrics for the
    jobs, stages and tasks that started inside [t0, t1], plus the job
    intervals (epoch seconds) for self-time attribution."""
    m = {"spark.jobs": 0, "spark.stages": 0, "spark.tasks": 0,
         "spark.failed_tasks": 0,
         "exec.run_s": 0.0, "exec.cpu_s": 0.0, "exec.gc_s": 0.0,
         "shuffle.write_bytes": 0, "shuffle.read_bytes": 0,
         "shuffle.fetch_wait_s": 0.0,
         "python.run_s": 0.0, "python.start_s": 0.0,
         "python.bytes_out": 0, "python.bytes_in": 0}
    tiny = 0
    job_start: dict[int, float] = {}
    jobs: list[tuple[float, float]] = []
    lo, hi = t0 * 1e3, t1 * 1e3
    for path in glob.glob(f"{log_dir}/*"):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    job_start[ev["Job ID"]] = ev["Submission Time"]
                elif kind == "SparkListenerJobEnd":
                    s = job_start.get(ev["Job ID"])
                    if s is not None and lo <= s <= hi:
                        m["spark.jobs"] += 1
                        jobs.append((s / 1e3, ev["Completion Time"] / 1e3))
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if not lo <= info.get("Submission Time", 0) <= hi:
                        continue
                    m["spark.stages"] += 1
                    for acc in info.get("Accumulables", []):
                        key = _PY_ACCUMS.get(acc.get("Name"))
                        if key:
                            m[key[0]] += float(acc["Value"]) * key[1]
                elif kind == "SparkListenerTaskEnd":
                    ti = ev["Task Info"]
                    if not lo <= ti["Launch Time"] <= hi:
                        continue
                    m["spark.tasks"] += 1
                    m["spark.failed_tasks"] += int(ti.get("Failed", False))
                    tiny += (ti["Finish Time"] - ti["Launch Time"]) < 5
                    tm = ev.get("Task Metrics") or {}
                    m["exec.run_s"] += tm.get("Executor Run Time", 0) / 1e3
                    m["exec.cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    m["exec.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    sw = tm.get("Shuffle Write Metrics", {})
                    sr = tm.get("Shuffle Read Metrics", {})
                    m["shuffle.write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    m["shuffle.read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                                + sr.get("Local Bytes Read", 0))
                    m["shuffle.fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
    m["spark.tiny_task_frac"] = tiny / max(m["spark.tasks"], 1)
    window = max(t1 - t0, 1e-9)
    m["exec.busy_frac"] = m["exec.run_s"] / (window * cores)
    return m, jobs

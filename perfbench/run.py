#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload olap_queries --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. It generates the workload's inputs
from ``--seed`` under ``.perfbench_work/`` in the checkout, starts the
library's tuned session on ``local[$SPARK_GRAFT_CPUS]`` (default: all
cores), sets up and warms up, measures for ``--seconds``, checks the
outputs, deletes its work directory and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` (Spark event
log + timing wrappers + streaming listener on) the per-layer ones.
A ``perfbench-diag`` JSON line before it carries validity diagnostics.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class MemSampler(threading.Thread):
    """Peak memory of this process and all its descendants (driver JVM,
    Python workers), sampled from /proc every 0.2 s. Each process
    counts its proportional set size (Pss: resident pages, a shared
    page split among its sharers), so the short-lived forks the JVM
    makes for local file-system commands do not count the JVM's heap
    a second time."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self.by_pid: dict[int, int] = {}
        self._done = threading.Event()

    @staticmethod
    def _pss(pid: int) -> int:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
        return 0

    def sample(self) -> int:
        parent = {}
        for ent in os.listdir("/proc"):
            if ent.isdigit():
                try:
                    with open(f"/proc/{ent}/stat") as fh:
                        parent[int(ent)] = int(fh.read().rsplit(")", 1)[1].split()[1])
                except OSError:
                    continue
        kids: dict[int, list[int]] = {}
        for pid, ppid in parent.items():
            kids.setdefault(ppid, []).append(pid)
        total, stack = 0, [os.getpid()]
        while stack:
            pid = stack.pop()
            try:
                pss = self._pss(pid)
            except OSError:  # exited since the listing
                continue
            total += pss
            self.by_pid[pid] = max(self.by_pid.get(pid, 0), pss)
            stack.extend(kids.get(pid, ()))
        return total

    def run(self):
        while not self._done.wait(0.2):
            self.peak = max(self.peak, self.sample())

    def stop(self) -> int:
        self._done.set()
        self.join()
        return max(self.peak, self.sample())


def isolate(work: str, trace: bool) -> None:
    """Everything the run writes goes under ``work``; workers can
    import the package from the checkout."""
    for d in ("tmp", "spark-local", "layout-cache", "eventlog"):
        os.makedirs(os.path.join(work, d))
    env = os.environ
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    env["SPARK_GRAFT_LAYOUT_CACHE"] = os.path.join(work, "layout-cache")
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["TMPDIR"] = os.path.join(work, "tmp")
    # -XX:-UsePerfData: no hsperfdata file in /tmp (outside the checkout)
    env["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    confs = [f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={work}/tmp"
             " -XX:-UsePerfData",
             f"spark.sql.warehouse.dir={work}/spark-warehouse"]
    if trace:
        confs += ["spark.eventLog.enabled=true",
                  f"spark.eventLog.dir=file://{work}/eventlog",
                  "spark.eventLog.compress=false",
                  "spark.eventLog.rolling.enabled=false"]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(c)}" for c in confs) + " pyspark-shell"
    tempfile.tempdir = env["TMPDIR"]
    os.chdir(work)


def percentile(xs: list[float], pct: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(-(-pct * len(s) // 100)) - 1))]


def tail_pct(n: int) -> int:
    """The highest whole percentile with at least 10 of ``n`` samples
    beyond its nearest rank (the median if there are too few)."""
    return max(50, 100 * (n - 10) // n)


def steal_seconds() -> float:
    """CPU-seconds the hypervisor took from the machine since boot."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def failed_tasks(spark) -> int:
    """Cumulative failed tasks across executors (status store)."""
    execs = spark.sparkContext._jsc.sc().statusStore().executorList(True)
    return sum(execs.apply(i).failedTasks() for i in range(execs.size()))


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM (and with it the Python
    worker daemon it forked), waiting until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def run(args) -> tuple[dict, dict]:
    import bench  # the repo's /proc CPU helpers
    from last_minute_legends_spark.session import get_spark
    from last_minute_legends_spark.sources import layout_cache
    import tracing as tr
    from workloads import WORKLOADS

    cpus = os.environ["SPARK_GRAFT_CPUS"]
    cores = int(cpus) if cpus.isdigit() else os.cpu_count()
    tracer = tr.Tracer(args.trace == 1)
    wl = WORKLOADS[args.workload](os.getcwd(), args.seed, tracer)
    mem = MemSampler()
    mem.start()

    t = time.time()
    spark = get_spark(f"perfbench-{args.workload}")
    session_s = time.time() - t
    spark.sparkContext.setLogLevel("ERROR")
    phases = {"session": session_s}
    try:
        t = time.time()
        wl.make_inputs(spark, args.seconds)
        phases["inputs"] = time.time() - t
        listener = tr.ProgressListener()
        if args.trace:
            spark.streams.addListener(listener)
        tracer.install_wrappers()
        t = time.time()
        wl.setup(spark)
        phases["setup"] = time.time() - t
        setup_s = session_s + phases["setup"]

        stats0 = {k: dict(v) for k, v in layout_cache.STATS.items()}
        fail0 = failed_tasks(spark)
        cpu0, mach0 = bench.tree_cpu_seconds(), bench.machine_cpu_seconds()
        steal0 = steal_seconds()
        w = wl.measure(spark, args.seconds)
        cpu1, mach1 = bench.tree_cpu_seconds(), bench.machine_cpu_seconds()
        steal = steal_seconds() - steal0
        retries = failed_tasks(spark) - fail0
        builds = {k: v["builds"] - stats0.get(k, {}).get("builds", 0)
                  for k, v in layout_cache.STATS.items()}
        t = time.time()
        failed = wl.check(spark, w)
        phases["check"] = time.time() - t
    finally:
        peak = mem.stop()
        stop_spark(spark)

    wall = w.t1 - w.t0
    self_cores = (cpu1 - cpu0) / wall
    # machine busy time counts steal; report it apart
    other_cores = max(0.0, (mach1 - mach0) - (cpu1 - cpu0) - steal) / wall
    steal_cores = steal / wall
    tail = tail_pct(len(w.latencies))
    diag = {"workload": args.workload, "seed": args.seed, "cores": cores,
            "samples": len(w.latencies), "tail_pct": tail,
            "failed_frac": failed / w.attempted,
            "self_cores": round(self_cores, 3),
            "other_cores": round(other_cores, 3),
            "steal_cores": round(steal_cores, 3),
            "failed_task_retries": retries,
            "layout_builds_in_window": {k: v for k, v in builds.items() if v},
            "phase_s": {k: round(v, 2) for k, v in phases.items()},
            "peak_rss_gb": round(peak / 2 ** 30, 3),
            "mem_peak_by_pid_gb": sorted(
                (round(v / 2 ** 30, 3) for v in mem.by_pid.values()),
                reverse=True)[:4],
            **w.diag}
    reasons = []
    if other_cores > 0.5:
        reasons.append("other processes used CPU during the window")
    if steal_cores > 0.25:
        reasons.append("the hypervisor took CPU (steal) during the window")
    if retries:
        reasons.append("failed-task retries inside the window")
    if diag["layout_builds_in_window"]:
        reasons.append("layout-cache build inside the window")
    if w.diag.get("generator_behind"):
        reasons.append("generator fell behind its schedule")
    diag["contaminated"] = reasons

    e2e = {"setup_s": (setup_s, "s"),
           "latency_p50_s": (statistics.median(w.latencies), "s"),
           "latency_tail_s": (percentile(w.latencies, tail), "s"),
           "records_per_s": (w.records / w.busy_s, "1/s")}
    metrics = e2e
    if args.trace:
        diag["e2e_with_tracing"] = {k: v for k, (v, _) in e2e.items()}
        metrics = layer_metrics(tr, tracer, listener, w, session_s,
                                layout_cache.STATS, cores)
        metrics["peak_rss_gb"] = (peak / 2 ** 30, "GB")
    result = {"correct": failed == 0, "attempted": w.attempted,
              "failed": failed,
              "metrics": {k: {"value": v, "unit": u}
                          for k, (v, u) in metrics.items()}}
    return result, diag


def layer_metrics(tr, tracer, listener, w, session_s, stats, cores) -> dict:
    """The per-layer metrics of a traced run (see README.md)."""
    m, jobs = tr.rollup_event_log("eventlog", w.t0, w.t1, cores)
    tot, cnt = tracer.summary(w.t0, w.t1)
    ops_wall = sum(b - a for a, b in w.ops)
    parts = tr.self_times(tracer.spans, jobs, w.ops)
    job_wall = parts.get("spark.job_wall_s", 0.0)

    def total(key):  # whole run: first-touch builds belong to set-up
        return sum(v[key] for v in stats.values())

    out = {
        "session.start_s": (session_s, "s"),
        "layout_cache.builds": (total("builds"), "count"),
        "layout_cache.hits": (total("hits"), "count"),
        "layout_cache.build_s": (total("build_sec"), "s"),
        "tables.load_calls": (cnt.get("tables.load", 0), "count"),
        "tables.load_s": (tot.get("tables.load", 0.0), "s"),
        "plans.build_s": (tot.get("plans.build", 0.0), "s"),
        "plans.exec_s": (tot.get("plans.exec", 0.0), "s"),
        "spark.job_wall_s": (job_wall, "s"),
        "spark.job_gap_s": (ops_wall - job_wall, "s"),
    }
    units = {"spark.jobs": "count", "spark.stages": "count",
             "spark.tasks": "count", "spark.failed_tasks": "count",
             "spark.tiny_task_frac": "ratio", "exec.busy_frac": "ratio",
             "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
             "python.bytes_out": "bytes", "python.bytes_in": "bytes"}
    for k, v in m.items():
        out[k] = (v, units.get(k, "s"))
    for k, v in tr.listener_metrics(listener.progress, w.t0, w.t1).items():
        out[k] = (v, "count" if k in ("stream.epochs", "stream.state_rows")
                  else "s")
    out["stream.backlog_records"] = (w.diag.get("backlog_records", 0), "count")
    out["stream.generator_lag_s"] = (w.diag.get("generator_lag_s", 0.0), "s")
    out["sinks.write_s"] = (tot.get("sinks.write", 0.0), "s")
    out["sinks.files"] = (w.diag.get("sink_files", 0), "count")
    out["sinks.bytes"] = (w.diag.get("sink_bytes", 0), "bytes")
    out["incremental.fold_s"] = (tot.get("incremental.fold", 0.0), "s")
    for name in ("plans.build", "plans.exec", "tables.load",
                 "layout_cache.build", "stream.sink", "sinks.write",
                 "incremental.fold"):
        out[f"{name}_self_s"] = (parts.get(f"{name}.self_s", 0.0), "s")
    out["driver.other_s"] = (parts.get("driver.other_s", 0.0), "s")
    out["trace.wall_s"] = (ops_wall, "s")
    # share of the wall time a named layer (a Spark job or a span)
    # accounts for; the rest is driver.other_s (idle, for a stream)
    out["trace.attributed_frac"] = (
        1.0 - out["driver.other_s"][0] / ops_wall, "ratio")
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "last_minute_legends_spark")):
        print("perfbench: run from a checkout of the repository "
              "(last_minute_legends_spark/ not found)", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    isolate(work, bool(args.trace))
    try:
        result, diag = run(args)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    print("perfbench-diag " + json.dumps(diag))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

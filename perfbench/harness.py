"""Measurement plumbing: the Spark session with pinned settings, spans,
latency statistics, Spark event-log parsing and /proc diagnostics."""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

CORES = min(4, os.cpu_count() or 1)

# Pinned Spark settings: every run of every workload uses exactly these.
SPARK_CONF = {
    "spark.master": f"local[{CORES}]",
    "spark.sql.shuffle.partitions": "8",
    "spark.default.parallelism": str(CORES),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2000",
    "spark.driver.memory": "2g",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    "spark.python.worker.reuse": "true",
    "spark.eventLog.compress": "false",
}


def start_spark(work: str, trace: bool):
    from pyspark.sql import SparkSession

    b = SparkSession.builder.appName("perfbench")
    conf = dict(SPARK_CONF)
    conf["spark.local.dir"] = os.path.join(work, "spark-local")
    conf["spark.sql.warehouse.dir"] = os.path.join(work, "warehouse")
    if trace:
        ev = os.path.join(work, "events")
        os.makedirs(ev, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = ev
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def tail(xs: list[float]) -> tuple[float, float, int] | None:
    """(value, percentile, n) at the highest percentile with at least ten
    samples beyond it, or None when there are fewer than 11 samples."""
    n = len(xs)
    if n < 11:
        return None
    s = sorted(xs)
    idx = n - 11           # ten samples above s[idx]
    return s[idx], round(100.0 * (idx + 1) / n, 1), n


class Recorder:
    """Spans at the benchmark's calls into each layer.  Spans live in
    memory; ``spans`` holds (layer, op, start, end, parent, attrs).
    With ``trace`` off only the call-level timings the workload needs
    are kept (no job descriptions, no nesting)."""

    def __init__(self, spark=None, trace: bool = False):
        self.spark = spark
        self.trace = trace
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.calls: dict[str, list[float]] = {}

    @contextmanager
    def span(self, layer: str, op: str, **attrs):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "layer": layer, "op": op, "parent": parent, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        sc = self.spark.sparkContext if (self.trace and self.spark) else None
        if sc is not None:
            sc.setJobDescription(self._label(sid))
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                sc.setJobDescription(
                    self._label(self._stack[-1]) if self._stack else None
                )
            rec["t0"], rec["t1"] = t0, t1
            self.calls.setdefault(f"{layer}.{op}", []).append(t1 - t0)

    def _label(self, sid: int) -> str:
        sp = self.spans[sid]
        return f"pb:{sid}:{sp['layer']}.{sp['op']}"

    def total(self, key: str) -> float:
        return sum(self.calls.get(key, []))

    def of(self, key: str) -> list[float]:
        return self.calls.get(key, [])

    def p50(self, key: str) -> float:
        xs = self.of(key)
        return statistics.median(xs) if xs else float("nan")


def parse_event_log(work: str) -> dict:
    """Per span id: jobs, tasks, summed executor run time (s) and shuffle
    bytes written, from the Spark event log of this run."""
    files = [
        os.path.join(root, n)
        for root, _, names in os.walk(os.path.join(work, "events"))
        for n in names if n.startswith(("events_", "local-"))
    ]
    stage_span: dict[int, int] = {}
    out: dict[int, dict] = {}
    jobs: dict[int, tuple[int, float]] = {}
    for path in files:
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get(
                        "spark.job.description"
                    ) or ""
                    if not desc.startswith("pb:"):
                        continue
                    sid = int(desc.split(":")[1])
                    d = out.setdefault(sid, empty_job_stats())
                    d["jobs"] += 1
                    jobs[ev["Job ID"]] = (sid, ev["Submission Time"] / 1e3)
                    for st in ev.get("Stage IDs", []):
                        stage_span[st] = sid
                elif kind == "SparkListenerJobEnd":
                    j = jobs.get(ev["Job ID"])
                    if j is not None:
                        out[j[0]]["job_s"] += ev["Completion Time"] / 1e3 - j[1]
                elif kind == "SparkListenerTaskEnd":
                    sid = stage_span.get(ev.get("Stage ID"))
                    if sid is None:
                        continue
                    m = ev.get("Task Metrics") or {}
                    d = out[sid]
                    d["tasks"] += 1
                    d["run_s"] += m.get("Executor Run Time", 0) / 1e3
                    d["shuffle_write"] += (
                        m.get("Shuffle Write Metrics") or {}
                    ).get("Shuffle Bytes Written", 0)
    return out


def empty_job_stats() -> dict:
    return {"jobs": 0, "tasks": 0, "run_s": 0.0, "job_s": 0.0,
            "shuffle_write": 0}


class ProcWindow:
    """Steal share and load average over a window, from /proc.  Recorded
    as diagnostics only; never used to drop or rerun anything."""

    def __enter__(self):
        self.s0, self.t0 = _jiffies()
        return self

    def __exit__(self, *exc):
        s1, t1 = _jiffies()
        self.steal_share = (s1 - self.s0) / max(1, t1 - self.t0)
        self.loadavg = _loadavg()
        return False


def _jiffies() -> tuple[int, int]:
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        return (vals[7] if len(vals) > 7 else 0), sum(vals)
    except OSError:
        return 0, 0


def _loadavg() -> float:
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return float("nan")


def reset_peak_rss() -> None:
    """Reset this process's VmHWM so the peak excludes input generation."""
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


def peak_rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    import resource

    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for name in files:
            if name.endswith(".crc"):
                continue
            total += os.path.getsize(os.path.join(root, name))
    return total

"""Benchmark entry point.

    python3 perfbench/run.py --workload serve_zipf --seed 1 --seconds 6 --trace 0

Run from the root of a source checkout.  Inputs are generated from the
seed into ``.perfbench_work/`` (removed at exit).  With ``--trace 0`` the
last stdout line is ``{"correct", "attempted", "failed", "metrics"}`` with
every end-to-end metric; with ``--trace 1`` the metrics are the per-layer
ones.  The line before it is a report with the measured input
properties, latency sample counts and tail percentiles, and /proc
diagnostics.  See perfbench/NOTES.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import harness, probes, workloads as W  # noqa: E402
from perfbench.queries import CLASS_MIX, CLASSES as QUERY_CLASSES  # noqa: E402

WORKLOADS = ("serve_zipf", "ingest_mutate")
DEADLINE_S = 170
SPARK_OPS = ("build", "append", "upsert", "compact", "search", "search_many",
             "search_rank_cd", "udf_lexemes")
SHUFFLE_OPS = ("build", "append", "compact")
CURATION_OPS = ("html_to_text", "url_dedup", "line_dedup", "repetition_signals",
                "duplicate_spans", "pii_scrub", "ts_rank_cd_scan")
E2E = {
    "setup_s": "s", "serve_qps": "1/s", "serve_p50_ms": "ms",
    "serve_tail_ms": "ms", "spark_query_p50_ms": "ms",
    "ingest_docs_per_s": "docs/s", "index_bytes_per_doc": "B",
    "driver_peak_rss_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric the traced run reports, with its unit."""
    u = {f"kernel.lexemes_{k}_mchars_per_s": "Mchar/s" for k in ("latin", "cjk", "html")}
    u["kernel.parse_query_us"] = "us"
    u["kernel.ts_rank_cd_docs_per_s"] = "docs/s"
    u["codec.decode_varints_mb_per_s"] = "MB/s"
    u["codec.encode_varints_mb_per_s"] = "MB/s"
    u.update({f"query.local_ms.{c}": "ms" for c in QUERY_CLASSES})
    u.update({"query.miss_ms": "ms", "query.load_stats_us": "us",
              "query.load_tombstones_ms": "ms", "query.spark_overhead_ms": "ms",
              "query.search_many_per_query_ms": "ms"})
    for op in SPARK_OPS + CURATION_OPS:
        u[f"spark.jobs_per_call.{op}"] = "count"
        u[f"spark.tasks_per_call.{op}"] = "count"
        u[f"spark.task_busy_share.{op}"] = "ratio"
    for op in SHUFFLE_OPS + CURATION_OPS:
        u[f"spark.shuffle_write_bytes_per_doc.{op}"] = "B/doc"
    u["spark.udf_lexemes_docs_per_s"] = "docs/s"
    u.update({"index.build_docs_per_s": "docs/s", "index.append_docs_per_s": "docs/s",
              "index.upsert_docs_per_s": "docs/s", "index.delete_docs_ms": "ms",
              "index.compact_s": "s", "index.compact_docs_per_s": "docs/s"})
    u.update({f"ops.{op}_docs_per_s": "docs/s" for op in CURATION_OPS})
    u.update({"trace.coverage_timed": "ratio", "trace.spark_job_cover": "ratio",
              "trace.span_cost_us": "us", "trace.serve_p50_ms": "ms",
              "trace.spark_query_p50_ms": "ms", "diag.steal_share": "ratio",
              "diag.loadavg_1m": "load"})
    return u


def _args():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def _timeout(*_):
    raise TimeoutError(f"run exceeded {DEADLINE_S}s")


def _terminate(*_):
    signal.signal(signal.SIGTERM, signal.SIG_IGN)   # one cleanup only
    sys.exit(143)


def _sweep_stale(base: str) -> None:
    """Remove work dirs of earlier runs whose process is gone."""
    for name in os.listdir(base) if os.path.isdir(base) else ():
        pid = name.rsplit("-", 1)[-1]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(base, name), ignore_errors=True)


def main() -> int:
    a = _args()
    if not os.path.isdir(os.path.join(ROOT, "pg_cjk_parser_spark")):
        print("perfbench: no pg_cjk_parser_spark package next to perfbench/",
              file=sys.stderr)
        return 2
    signal.signal(signal.SIGALRM, _timeout)
    signal.signal(signal.SIGTERM, _terminate)
    signal.alarm(DEADLINE_S)
    _sweep_stale(os.path.join(ROOT, ".perfbench_work"))
    work = os.path.join(ROOT, ".perfbench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # everything the run writes stays inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM, the spark-submit launcher too: no /tmp/hsperfdata files
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable

    ctx = W.Ctx(work, a.seed, a.seconds, bool(a.trace))
    try:
        return _run(a, ctx)
    finally:
        _stop(ctx)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def _run(a, ctx) -> int:
    t0 = time.perf_counter()
    prep, body = {
        "serve_zipf": (W.prepare_serve, W.serve_zipf),
        "ingest_mutate": (W.prepare_ingest, W.ingest_mutate),
    }[a.workload]
    inp = prep(ctx)
    gen_s = time.perf_counter() - t0
    harness.reset_peak_rss()
    with harness.ProcWindow() as win:
        res = body(ctx, inp)
    rss = harness.peak_rss_mb()
    lat = res["serve_lat"]
    sp = res["spark_lat"]
    e2e = {
        "setup_s": res["setup_s"],
        "serve_qps": len(lat) / sum(lat),
        "serve_p50_ms": 1e3 * statistics.median(lat),
        "serve_tail_ms": 1e3 * harness.tail(lat)[0],
        "spark_query_p50_ms": 1e3 * statistics.median(sp),
        "ingest_docs_per_s": res["ingest_docs"] / res["ingest_s"],
        "index_bytes_per_doc": res["index_bytes_per_doc"],
        "driver_peak_rss_mb": rss,
    }
    report = {
        "workload": a.workload,
        "seed": a.seed,
        "input": inp["props"],
        "query_classes": {c: len(v) for c, v in inp["queries"].items()},
        "class_mix": CLASS_MIX,
        "gen_s": round(gen_s, 3),
        "serve": W.latency_summary(lat),
        "serve_p50_ms_by_class": {
            c: round(1e3 * statistics.median(ctx.rec.of(f"query.local.{c}")), 2)
            for c in QUERY_CLASSES if ctx.rec.of(f"query.local.{c}")},
        "spark_search": W.latency_summary(sp),
        "timed_wall_s": round(res["timed"][1] - res["timed"][0], 3),
        "steal_share": round(win.steal_share, 4),
        "loadavg_1m": win.loadavg,
        "errors": ctx.errors,
    }
    for k in ("cycles", "served", "index_stats"):
        if k in res:
            report[k] = res[k]
    report.update(ctx.report)
    report["seconds_by_call"] = {k: round(sum(v), 3) for k, v in ctx.rec.calls.items()}
    if a.trace:
        values, units = _per_layer(ctx, inp, res, e2e, win, report), per_layer_units()
    else:
        values, units = e2e, E2E
    if set(values) != set(units):
        raise RuntimeError(f"metric set mismatch: {sorted(set(values) ^ set(units))}")
    metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }))
    return 0


def _per_layer(ctx, inp, res, e2e, win, report) -> dict:
    rec = ctx.rec
    # coverage: top-level program-call spans inside the timed window
    lo, hi = res["timed"]
    covered = sum(s["t1"] - s["t0"] for s in rec.spans
                  if s["parent"] is None and s.get("t0") is not None
                  and s["t0"] >= lo and s["t1"] <= hi)
    m = {}
    m.update(probes.kernels(ctx, inp))
    m.update(probes.codec(ctx, inp))
    m.update(probes.query(ctx, inp, res))
    m.update(probes.udf(ctx, inp))
    m.update(probes.curation_ops(ctx, inp))
    comp = probes.index_maintenance(ctx, inp, res)
    n_compact = comp.pop("compact_docs")
    m.update(comp)
    # span cost with job descriptions on
    t0 = time.perf_counter()
    for _ in range(200):
        with rec.span("trace", "empty"):
            pass
    m["trace.span_cost_us"] = (time.perf_counter() - t0) / 200 * 1e6
    _stop(ctx)
    ev = harness.parse_event_log(ctx.work)

    docs = dict(res["batch_docs"], compact=n_compact,
                udf_lexemes=len(inp["corpus"].tokens))
    for op in CURATION_OPS:
        docs[op] = probes.OPS_DOCS
    by_op: dict[str, list] = {}
    for s in rec.spans:
        if s.get("t0") is not None:
            by_op.setdefault(s["op"], []).append(s)
    job_s = span_s = 0.0
    for op in SPARK_OPS + CURATION_OPS:
        spans = by_op.get(op, [])
        st = [ev.get(s["id"]) or harness.empty_job_stats() for s in spans]
        n = max(1, len(spans))
        wall = sum(s["t1"] - s["t0"] for s in spans)
        m[f"spark.jobs_per_call.{op}"] = sum(x["jobs"] for x in st) / n
        m[f"spark.tasks_per_call.{op}"] = sum(x["tasks"] for x in st) / n
        m[f"spark.task_busy_share.{op}"] = (
            sum(x["run_s"] for x in st) / (wall * harness.CORES) if wall else 0.0)
        if op in SHUFFLE_OPS or op in CURATION_OPS:
            m[f"spark.shuffle_write_bytes_per_doc.{op}"] = (
                sum(x["shuffle_write"] for x in st) / (docs[op] * n))
        job_s += sum(x["job_s"] for x in st)
        span_s += wall
    for op in ("build", "append", "upsert"):
        m[f"index.{op}_docs_per_s"] = docs[op] * len(rec.of(f"index.{op}")) / rec.total(f"index.{op}")
    m["index.delete_docs_ms"] = 1e3 * rec.p50("index.delete")
    m["trace.coverage_timed"] = covered / (hi - lo)
    m["trace.spark_job_cover"] = job_s / span_s if span_s else 0.0
    m["trace.serve_p50_ms"] = e2e["serve_p50_ms"]
    m["trace.spark_query_p50_ms"] = e2e["spark_query_p50_ms"]
    m["diag.steal_share"] = win.steal_share
    m["diag.loadavg_1m"] = win.loadavg
    report["trace_e2e"] = e2e
    return m


def _stop(ctx) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    spark = ctx.spark
    if spark is None:
        return
    ctx.spark = None
    ctx.rec.spark = None
    sc = spark.sparkContext
    gw = getattr(sc, "_gateway", None)
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except (OSError, subprocess.TimeoutExpired):
                proc.kill()
                proc.wait()
        from pyspark import SparkContext

        SparkContext._gateway = None
        SparkContext._jvm = None


if __name__ == "__main__":
    sys.exit(main())

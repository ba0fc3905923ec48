"""The two workloads.  Each drives the program only through public
functions of its layers (``index``, ``query``, ``spark``, ``ops``,
``kernel``) and records every call in a ``Recorder`` span.

serve_zipf     read-only serving tier over a batch-built index: a Zipf
               query stream through ``search_local`` / ``rank_local``,
               then a seeded Spark-tier sample that is also the
               correctness reference.
ingest_mutate  writes beside reads: cycles of append, upsert, delete,
               Spark-tier reads and serving reads over a multi-epoch,
               tombstoned index.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa

from . import gen
from .harness import Recorder, dir_bytes, start_spark, tail
from .queries import Query, build_queries, run_query, stream

SERVE_DOCS = 6_000
SIDE_DOCS = 300
SERVE_SPARK_QUERIES = 8
SPARK_WARMUPS = 1
INGEST_SPARK_QUERIES = 3
INGEST_BASE_DOCS = 2_000
APPEND_DOCS = 500
UPSERT_DOCS = 100
DELETE_DOCS = 40
# a fixed schedule, so the work (epochs, index layout, latency samples)
# does not depend on how fast the program is
CYCLES = 2
SERVE_READS = 75             # serving reads per cycle: 150 samples, tail p93
NUM_BUCKETS = 16
NUM_SALTS = 4
K = 10


class Ctx:
    """Per-run state: the session, the recorder and the failure tally."""

    def __init__(self, work: str, seed: int, seconds: float, trace: bool):
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.spark = None
        self.rec = Recorder(None, trace)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.report: dict = {}

    def path(self, *p: str) -> str:
        return os.path.join(self.work, *p)

    def call(self, layer: str, op: str, fn, *args, **kw):
        """One program call: counted, timed in a span; a raise is a
        failed operation and returns None."""
        self.attempted += 1
        with self.rec.span(layer, op):
            try:
                return fn(*args, **kw)
            except Exception as ex:  # noqa: BLE001 - every raise is a failure
                self.fail(f"{layer}.{op} raised {type(ex).__name__}: {ex}")
                return None

    def fail(self, msg: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(msg[:300])

    def expect(self, ok: bool, msg: str) -> None:
        """A correctness verdict on an earlier call's output (the call
        itself was already counted as attempted)."""
        if not ok:
            self.fail(msg)

    def start(self) -> None:
        self.spark = start_spark(self.work, self.trace)
        self.rec.spark = self.spark


def _write(ctx: Ctx, table, name: str):
    p = ctx.path("in", name + ".parquet")
    os.makedirs(os.path.dirname(p), exist_ok=True)
    gen.write_parquet(table, p)
    return p


def _rows(df, col: str = "score") -> list[tuple[int, float]]:
    return [(r.docid, r[col]) for r in df.collect()]


def _many_rows(df) -> dict[str, list[tuple[int, float]]]:
    out: dict[str, list] = {}
    for r in sorted(df.collect(), key=lambda r: (r.query, r.rank)):
        out.setdefault(r.query, []).append((r.docid, r.score))
    return out


def _well_formed(res) -> bool:
    if res is None or len(res) > K:
        return False
    ids = [d for d, _ in res]
    scores = [s for _, s in res]
    return len(set(ids)) == len(ids) and scores == sorted(scores, reverse=True)


# ---------------------------------------------------------------- serve_zipf
def prepare_serve(ctx: Ctx) -> dict:
    c = gen.generate(ctx.seed, SERVE_DOCS)
    side = gen.generate(ctx.seed, SIDE_DOCS, vocab=c.vocab, stream=3,
                        id_base=10_000_000)
    qs = build_queries(c, ctx.seed)
    return {
        "corpus": c,
        "base": _write(ctx, c.table, "base"),
        "side": _write(ctx, side.table, "side"),
        "queries": qs,
        "stream": stream(qs, ctx.seed, 20_000),
        "props": gen.measured_props(c),
    }


def serve_zipf(ctx: Ctx, inp: dict) -> dict:
    from pg_cjk_parser_spark.index.build import build_index
    from pg_cjk_parser_spark.query.topk import search, search_many, search_rank_cd

    rec = ctx.rec
    idx = ctx.path("idx_serve")
    t0 = time.perf_counter()
    with rec.span("driver", "session"):
        ctx.start()
    spark = ctx.spark
    # untimed warm-up build on a side corpus: the first build of a
    # process pays one-off costs (Python workers, imports, JIT) that
    # swing with the host far more than the build itself
    ctx.call("index", "warm_build", build_index, spark,
             spark.read.parquet(inp["side"]), ctx.path("idx_side"),
             docid_col="doc_id", num_buckets=NUM_BUCKETS,
             num_salts=NUM_SALTS, n_docs=SIDE_DOCS)
    base = spark.read.parquet(inp["base"])
    stats = ctx.call("index", "build", build_index, spark, base, idx,
                     docid_col="doc_id", num_buckets=NUM_BUCKETS,
                     num_salts=NUM_SALTS, n_docs=SERVE_DOCS)
    qs: dict[str, list[Query]] = inp["queries"]
    for cls, lst in qs.items():            # warm-up: every class once
        ctx.call("query", f"warm_{cls}", run_query, idx, lst[0], K)
    for warm in qs["and2"][:SPARK_WARMUPS]:
        ctx.call("spark", "warm_search",
                 lambda: search(spark, idx, warm.text, K).collect())
    setup_s = time.perf_counter() - t0

    # timed: closed loop, one client, Zipf stream
    seen: dict[Query, list] = {}
    lat: list[float] = []
    t_end = time.perf_counter() + ctx.seconds
    t_start = time.perf_counter()
    i = 0
    strm = inp["stream"]
    while time.perf_counter() < t_end and i < len(strm):
        q = strm[i]
        i += 1
        res = ctx.call("query", f"local.{q.cls}", run_query, idx, q, K)
        lat.append(rec.of(f"query.local.{q.cls}")[-1])
        prev = seen.setdefault(q, res)
        ctx.expect(_well_formed(res) and res == prev,
                   f"serving result changed or malformed for {q}")
    t_stop = time.perf_counter()

    # Spark tier on a seeded sample; its answers are the reference for
    # the serving tier (untimed for the serving metrics)
    rng = np.random.default_rng([ctx.seed, 9])
    plain = [q for q in dict.fromkeys(strm[:i]) if q.mode == "plain"]
    sample = [plain[j] for j in rng.choice(
        len(plain), min(SERVE_SPARK_QUERIES, len(plain)), replace=False)]
    for q in sample:
        got = ctx.call("spark", "search",
                       lambda: _rows(search(spark, idx, q.text, K, mode=q.mode)))
        ref = ctx.call("check", "search_local", run_query, idx, q, K)
        ctx.expect(got is not None and got == ref,
                   f"search != search_local for {q.text!r}")
    many = ctx.call("spark", "search_many", lambda: _many_rows(
        search_many(spark, idx, [q.text for q in sample], K)))
    for q in sample:
        ref = ctx.call("check", "search_local", run_query, idx, q, K)
        ctx.expect(many is not None and many.get(q.text, []) == ref,
                   f"search_many != search_local for {q.text!r}")
    rq = qs["rank_cd"][0]
    got = ctx.call("spark", "search_rank_cd", lambda: _rows(
        search_rank_cd(spark, idx, rq.text, K, mode=rq.mode), "rank"))
    ref = ctx.call("check", "rank_local", run_query, idx, rq, K)
    ctx.expect(got is not None and got == ref, "search_rank_cd != rank_local")
    validate(ctx, idx)

    return {
        "setup_s": setup_s,
        "serve_lat": lat,
        "timed": (t_start, t_stop),
        "spark_lat": rec.of("spark.search"),
        "ingest_docs": SERVE_DOCS,
        "ingest_s": rec.total("index.build"),
        "index_bytes_per_doc": dir_bytes(idx) / SERVE_DOCS,
        "index": idx,
        "index_stats": {k: (stats or {}).get(k) for k in ("n_docs", "n_postings")},
        "served": i,
        "spark_queries": [(q.text, q.mode) for q in sample],
        "many_sizes": [len(sample)],
        "batch_docs": {"build": SERVE_DOCS},
    }


# ------------------------------------------------------------- ingest_mutate
def prepare_ingest(ctx: Ctx) -> dict:
    n_new = APPEND_DOCS * CYCLES
    c = gen.generate(ctx.seed, INGEST_BASE_DOCS + n_new)
    voc = c.vocab
    side = gen.generate(ctx.seed, SIDE_DOCS, vocab=voc, stream=3,
                        id_base=10_000_000)
    upd = gen.generate(ctx.seed, UPSERT_DOCS * CYCLES, vocab=voc,
                       stream=2, id_base=20_000_000)
    rng = np.random.default_rng([ctx.seed, 11])
    inp = {
        "corpus": c,
        "base": _write(ctx, c.table.slice(0, INGEST_BASE_DOCS), "base"),
        "side": _write(ctx, side.table, "side"),
        "appends": [],
        "upserts": [],
        "deletes": [],
        "queries": build_queries(c, ctx.seed),
        "props": gen.measured_props(c),
    }
    # docid -> current (token ids, text), for the version checks
    texts = c.table.column("text").to_pylist()
    inp["docs"] = {d: (c.tokens[d], texts[d]) for d in range(len(texts))}
    inp["stream"] = stream(inp["queries"], ctx.seed,
                           CYCLES * (SERVE_READS + 12))
    # the schedule is fixed up front: which ids each cycle touches
    live = list(range(INGEST_BASE_DOCS))
    for cy in range(CYCLES):
        lo = INGEST_BASE_DOCS + cy * APPEND_DOCS
        inp["appends"].append(
            _write(ctx, c.table.slice(lo, APPEND_DOCS), f"append{cy}"))
        live += list(range(lo, lo + APPEND_DOCS))
        ids = rng.choice(np.array(live), UPSERT_DOCS, replace=False)
        t = upd.table.slice(cy * UPSERT_DOCS, UPSERT_DOCS)
        t = t.set_column(0, "doc_id", pa.array(ids, pa.int64()))
        new = list(zip(upd.tokens[cy * UPSERT_DOCS:(cy + 1) * UPSERT_DOCS],
                       t.column("text").to_pylist()))
        inp["upserts"].append((_write(ctx, t, f"upsert{cy}"), ids.tolist(), new))
        dels = rng.choice(np.array(live), DELETE_DOCS, replace=False).tolist()
        inp["deletes"].append(dels)
        dset = set(dels)
        live = [d for d in live if d not in dset]
    return inp


def ingest_mutate(ctx: Ctx, inp: dict) -> dict:
    from pg_cjk_parser_spark.index.build import build_index
    from pg_cjk_parser_spark.index.streaming import (
        append_index_batch, upsert_index_batch)
    from pg_cjk_parser_spark.index.tombstones import delete_docs
    from pg_cjk_parser_spark.query.topk import (
        search, search_local, search_many, search_rank_cd)

    rec = ctx.rec
    idx = ctx.path("idx_ingest")
    side_idx = ctx.path("idx_side")
    kw = dict(docid_col="doc_id")
    t0 = time.perf_counter()
    with rec.span("driver", "session"):
        ctx.start()
    spark = ctx.spark
    # untimed warm-up: every op type once, on a side index
    side = spark.read.parquet(inp["side"])
    ctx.call("index", "warm_build", build_index, spark, side, side_idx,
             num_buckets=NUM_BUCKETS, num_salts=NUM_SALTS,
             n_docs=SIDE_DOCS, **kw)
    half = side.where("doc_id % 2 = 0")
    ctx.call("index", "warm_append", append_index_batch, spark, half,
             side_idx, 1, **kw)
    ctx.call("index", "warm_upsert", upsert_index_batch, spark, half,
             side_idx, 2, **kw)
    ctx.call("index", "warm_delete", delete_docs, side_idx, [10_000_000])
    for wq in inp["queries"]["and2"][:SPARK_WARMUPS]:
        ctx.call("spark", "warm_search",
                 lambda: search(spark, side_idx, wq.text, K).collect())
    ctx.call("spark", "warm_search_many", lambda: search_many(
        spark, side_idx, [wq.text, "のび太"], K).collect())
    ctx.call("spark", "warm_search_rank_cd", lambda: search_rank_cd(
        spark, side_idx, "のび太", K).collect())
    for lst in inp["queries"].values():
        ctx.call("query", "warm_local", run_query, side_idx, lst[0], K)
    base = spark.read.parquet(inp["base"])
    ctx.call("index", "build", build_index, spark, base, idx,
             num_buckets=NUM_BUCKETS, num_salts=NUM_SALTS,
             n_docs=INGEST_BASE_DOCS, **kw)
    setup_s = time.perf_counter() - t0

    live = set(range(INGEST_BASE_DOCS))
    upserted: dict[int, np.ndarray] = {}
    strm = inp["stream"]
    si = 0
    serve_lat: list[float] = []
    t_start = time.perf_counter()
    docs_in = 0
    spark_queries = []
    many_sizes = []
    for cy in range(CYCLES):
        app = spark.read.parquet(inp["appends"][cy])
        ctx.call("index", "append", append_index_batch, spark, app, idx,
                 2 * cy + 1, **kw)
        lo = INGEST_BASE_DOCS + cy * APPEND_DOCS
        live |= set(range(lo, lo + APPEND_DOCS))
        path, ids, new = inp["upserts"][cy]
        ups = spark.read.parquet(path)
        ctx.call("index", "upsert", upsert_index_batch, spark, ups, idx,
                 2 * cy + 2, **kw)
        docs_in += APPEND_DOCS + UPSERT_DOCS
        for d, nv in zip(ids, new):
            upserted[d] = (inp["docs"][d], nv)
            inp["docs"][d] = nv
        dels = inp["deletes"][cy]
        ctx.call("index", "delete", delete_docs, idx, dels)
        live -= set(dels)
        # serving reads over the freshly mutated index, before the Spark
        # reads so no Spark task of this cycle runs beside them
        for _ in range(SERVE_READS):
            q = strm[si % len(strm)]
            si += 1
            res = ctx.call("query", f"local.{q.cls}", run_query, idx, q, K)
            serve_lat.append(rec.of(f"query.local.{q.cls}")[-1])
            ctx.expect(_well_formed(res) and all(d in live for d, _ in res or []),
                       f"deleted or unknown docid returned for {q.text!r}")
        # Spark-tier reads, each checked against the serving tier
        # right after (the check is outside the call's span)
        sq = [strm[(si + j) % len(strm)] for j in range(12)]
        si += 12
        plain = [q for q in sq if q.mode == "plain"][:INGEST_SPARK_QUERIES] or [
            inp["queries"]["and2"][cy % 5]]
        spark_queries += [(q.text, q.mode) for q in plain]
        for q in plain:
            got = ctx.call("spark", "search", lambda: _rows(
                search(spark, idx, q.text, K, mode=q.mode)))
            ref = ctx.call("check", "search_local", search_local, idx, q.text, K,
                           mode=q.mode)
            ctx.expect(got is not None and got == ref
                       and all(d in live for d, _ in got),
                       f"search != search_local for {q.text!r} (cycle {cy})")
        # the batched and the rank path take turns, one per cycle
        if cy % 2 == 0:
            many = ctx.call("spark", "search_many", lambda: _many_rows(
                search_many(spark, idx, [q.text for q in plain], K)))
            many_sizes.append(len(plain))
            for q in plain:
                ref = ctx.call("check", "search_local", search_local, idx, q.text, K)
                ctx.expect(many is not None and many.get(q.text, []) == ref,
                           f"search_many != search_local (cycle {cy})")
        else:
            rq = inp["queries"]["rank_cd"][cy % len(inp["queries"]["rank_cd"])]
            got = ctx.call("spark", "search_rank_cd", lambda: _rows(
                search_rank_cd(spark, idx, rq.text, K, mode=rq.mode), "rank"))
            ref = ctx.call("check", "rank_local", run_query, idx, rq, K)
            ctx.expect(got is not None and got == ref,
                       f"search_rank_cd != rank_local ({cy})")
    t_stop = time.perf_counter()

    _check_versions(ctx, idx, inp, upserted, live)
    validate(ctx, idx)
    n_live_docs = INGEST_BASE_DOCS + CYCLES * APPEND_DOCS
    return {
        "setup_s": setup_s,
        "serve_lat": serve_lat,
        "timed": (t_start, t_stop),
        "spark_lat": rec.of("spark.search"),
        "ingest_docs": INGEST_BASE_DOCS + docs_in,
        "ingest_s": rec.total("index.build") + rec.total("index.append")
        + rec.total("index.upsert"),
        "index_bytes_per_doc": dir_bytes(idx) / n_live_docs,
        "index": idx,
        "cycles": CYCLES,
        "live": live,
        "spark_queries": spark_queries,
        "many_sizes": many_sizes,
        "batch_docs": {"build": INGEST_BASE_DOCS, "append": APPEND_DOCS,
                       "upsert": UPSERT_DOCS},
    }


def _check_versions(ctx: Ctx, idx: str, inp: dict, upserted: dict, live: set) -> None:
    """Superseded versions stay invisible and new versions are visible:
    for sampled upserted docs, a rare word only in the old text must not
    find the doc, and a rare word only in the new text must."""
    from pg_cjk_parser_spark.kernel.tokenizer import lexemes
    from pg_cjk_parser_spark.query.topk import search_local

    voc = inp["corpus"].vocab
    latin = voc.script == gen.LATIN
    rng = np.random.default_rng([ctx.seed, 12])
    cand = sorted(d for d in upserted if d in live)
    for d in rng.permutation(cand)[:6].tolist():
        (old_t, old_s), (new_t, new_s) = upserted[d]
        old_lx = {t for t, _ in lexemes(old_s)}
        new_lx = {t for t, _ in lexemes(new_s)}
        for toks, must, mine, other in ((old_t, False, old_lx, new_lx),
                                        (new_t, True, new_lx, old_lx)):
            # word ids are Zipf ranks: the highest ids are the rarest
            for w in np.unique(toks[latin[toks]])[::-1][:40].tolist():
                lx = lexemes(voc.words[w])
                if len(lx) != 1 or lx[0][0] not in mine or lx[0][0] in other:
                    continue
                res = ctx.call("query", "version_check", search_local, idx,
                               voc.words[w], 1000)
                if res is None or len(res) >= 1000:
                    continue
                hit = any(x == d for x, _ in res)
                ctx.expect(hit == must, f"doc {d}: {'new' if must else 'superseded'}"
                           f" version {'missing' if must else 'visible'} for {voc.words[w]!r}")
                break


def validate(ctx: Ctx, idx: str, compacted: bool = False) -> None:
    """``validate_index`` must report ok, apart from two known false
    errors of the program's validator (reported, not counted):

    * on a batch-built index that later took epoch appends (bucket and
      epoch manifests side by side), it compares stats (base + epochs)
      with the batch bucket manifests alone: ``!= sum(buckets)``;
    * after compacting such an index, it also calls the batch bucket
      manifests stale.

    Every other error fails the run."""
    from pg_cjk_parser_spark.index.validate import validate_index

    v = ctx.call("index", "validate", validate_index, idx)
    if v is None:
        return
    mdir = os.path.join(idx, "manifests")
    names = os.listdir(mdir) if os.path.isdir(mdir) else []
    mixed = (any(n.startswith("epoch=") for n in names)
             and any(n.startswith("bucket") for n in names))
    known, counted = [], []
    for e in v.get("errors", []):
        if (mixed and "!= sum(buckets)" in e) or (
                compacted and e.startswith("stale/incomplete bucket manifests")):
            known.append(e)
        else:
            counted.append(e)
    ctx.expect(not counted, f"validate_index: {counted}")
    if known:
        ctx.report.setdefault("validate_index_known_false", []).extend(known[:4])


def latency_summary(lat: list[float]) -> dict:
    import statistics

    out = {"n": len(lat), "p50_ms": statistics.median(lat) * 1e3 if lat else None}
    t = tail(lat)
    if t:
        out.update(tail_ms=t[0] * 1e3, tail_pct=t[1])
    return out

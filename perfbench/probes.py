"""Layer probes for the traced run: single-core kernels with no Spark,
the codec, serving-tier routing, the Spark UDF path, index maintenance
(append, upsert, delete, compaction) and the curation operators.

Every probe call goes through ``Ctx.call`` so it is counted, spanned and
attributed to its Spark jobs like the workload's own calls.  The
compaction and operator probes also check their results.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

from . import gen
from .queries import CLASSES, miss_query, run_query
from .workloads import validate

OPS_DOCS = 500


def _rate(fn, items, size, min_s: float = 0.3) -> float:
    """size units per second of ``fn`` over ``items``, repeated until
    ``min_s`` has passed."""
    done = 0.0
    t0 = time.perf_counter()
    while True:
        for it in items:
            fn(it)
        done += size
        el = time.perf_counter() - t0
        if el >= min_s:
            return done / el


def kernels(ctx, inp: dict) -> dict:
    from pg_cjk_parser_spark.kernel.tokenizer import lexemes
    from pg_cjk_parser_spark.kernel.tsrank import ts_rank_cd
    from pg_cjk_parser_spark.kernel.tsvector import to_tsquery, to_tsvector
    from pg_cjk_parser_spark.query.topk import parse_query

    t = inp["corpus"].table.slice(0, 3000)
    langs = t.column("lang").to_pylist()
    texts = t.column("text").to_pylist()
    latin = [s for s, lg in zip(texts, langs) if lg == "en"][:150]
    cjk = [s for s, lg in zip(texts, langs) if lg in ("zh", "ja", "ko")][:150]
    html = [bytes(b).decode("utf-8") for b in t.column("html").to_pylist()[:150]]
    out = {}
    for name, items in (("latin", latin), ("cjk", cjk), ("html", html)):
        size = sum(len(s) for s in items) / 1e6
        with ctx.rec.span("kernel", f"lexemes_{name}"):
            out[f"kernel.lexemes_{name}_mchars_per_s"] = _rate(lexemes, items, size)
    # prefix queries need the index's dictionary to expand: not a kernel
    qs = [q for c, lst in inp["queries"].items() if c != "prefix" for q in lst]
    with ctx.rec.span("kernel", "parse_query"):
        per = _rate(lambda q: parse_query(q.text, q.mode), qs, len(qs))
    out["kernel.parse_query_us"] = 1e6 / per
    node = to_tsquery(inp["queries"]["rank_cd"][1].text)
    with ctx.rec.span("kernel", "ts_rank_cd"):
        out["kernel.ts_rank_cd_docs_per_s"] = _rate(
            lambda s: ts_rank_cd(to_tsvector(s), node), texts[:300], 300)
    return out


def codec(ctx, inp: dict) -> dict:
    from pg_cjk_parser_spark.index.codec import decode_varints, encode_varints

    rng = np.random.default_rng([ctx.seed, 21])
    deltas = rng.geometric(0.02, 500_000).astype(np.uint64)
    buf = encode_varints(deltas)
    mb = len(buf) / 1e6
    with ctx.rec.span("codec", "encode_varints"):
        enc = _rate(encode_varints, [deltas], mb)
    with ctx.rec.span("codec", "decode_varints"):
        dec = _rate(decode_varints, [buf], mb)
    ctx.attempted += 1
    ctx.expect(np.array_equal(decode_varints(buf), deltas), "varint round trip")
    return {"codec.encode_varints_mb_per_s": enc, "codec.decode_varints_mb_per_s": dec}


def query(ctx, inp: dict, res: dict) -> dict:
    from pg_cjk_parser_spark.index.tombstones import load_tombstones
    from pg_cjk_parser_spark.query.topk import load_stats, search_local

    idx = res["index"]
    rec = ctx.rec
    # every class at least three times, so each per-class figure exists
    for cls in CLASSES:
        for q in inp["queries"][cls][:3]:
            ctx.call("query", f"local.{cls}", run_query, idx, q, 10)
    miss = miss_query(inp["corpus"])
    for _ in range(20):
        r = ctx.call("query", "miss", search_local, idx, miss, 10)
        ctx.expect(r == [], "absent term matched")
    with rec.span("query", "load_stats"):
        per = _rate(load_stats, [idx], 1)
    with rec.span("query", "load_tombstones"):
        tomb = _rate(load_tombstones, [idx], 1)
    out = {
        f"query.local_ms.{cls}": 1e3 * statistics.median(rec.of(f"query.local.{cls}"))
        for cls in CLASSES
    }
    out["query.miss_ms"] = 1e3 * rec.p50("query.miss")
    out["query.load_stats_us"] = 1e6 / per
    out["query.load_tombstones_ms"] = 1e3 / tomb
    local = []
    for text, mode in res["spark_queries"]:
        t0 = time.perf_counter()
        search_local(idx, text, 10, mode=mode)
        local.append(time.perf_counter() - t0)
    out["query.spark_overhead_ms"] = 1e3 * (
        rec.p50("spark.search") - statistics.median(local))
    out["query.search_many_per_query_ms"] = (
        1e3 * rec.total("spark.search_many") / sum(res["many_sizes"]))
    return out


def udf(ctx, inp: dict) -> dict:
    from pyspark.sql import functions as F
    from pg_cjk_parser_spark.spark.udfs import lexemes_udf

    df = ctx.spark.read.parquet(inp["base"])
    n = df.count()
    for _ in range(2):      # first call warms the UDF workers
        ctx.call("spark", "udf_lexemes", lambda: df.select(
            lexemes_udf(F.col("text"))).write.format("noop").mode("overwrite").save())
    return {"spark.udf_lexemes_docs_per_s": n / ctx.rec.of("spark.udf_lexemes")[-1]}


def index_maintenance(ctx, inp: dict, res: dict) -> dict:
    """Compaction of the workload's index (results and the live doc count
    must survive it); on an index the workload never mutated, first an
    append, an upsert and a delete so those figures exist."""
    from pg_cjk_parser_spark.index.compact import compact_index
    from pg_cjk_parser_spark.index.streaming import (
        append_index_batch, upsert_index_batch)
    from pg_cjk_parser_spark.index.tombstones import delete_docs
    from pg_cjk_parser_spark.query.topk import load_stats, search_local

    spark = ctx.spark
    idx = res["index"]
    rec = ctx.rec
    live = res.get("live")
    if live is None:
        c = inp["corpus"]
        n = len(c.tokens)
        extra = gen.generate(ctx.seed, 300, vocab=c.vocab, stream=5, id_base=n)
        p = ctx.path("in", "probe_append.parquet")
        gen.write_parquet(extra.table, p)
        ctx.call("index", "append", append_index_batch, spark,
                 spark.read.parquet(p), idx, 1, docid_col="doc_id")
        up = spark.read.parquet(inp["base"]).limit(100)
        ctx.call("index", "upsert", upsert_index_batch, spark, up, idx, 2,
                 docid_col="doc_id")
        dels = list(range(100, 140))
        ctx.call("index", "delete", delete_docs, idx, dels)
        live = set(range(n + 300)) - set(dels)
        res["batch_docs"].update(append=300, upsert=100)
    # scores legitimately move (compaction restores exact corpus stats),
    # so compare the matching doc sets of conjunctive queries
    probe = [q for c in ("tail1", "and2", "phrase") for q in inp["queries"][c][:3]]

    def matches():
        return [sorted(d for d, _ in search_local(idx, q.text, 1000, mode=q.mode))
                for q in probe]

    before = matches()
    st = ctx.call("index", "compact", compact_index, spark, idx)
    ctx.expect(st is not None and before == matches(), "compaction changed matches")
    n_docs = load_stats(idx).get("n_docs")
    ctx.expect(n_docs == len(live),
               f"compaction live count {n_docs} != {len(live)}")
    validate(ctx, idx, compacted=True)
    dt = rec.of("index.compact")[-1]
    return {"index.compact_s": dt, "index.compact_docs_per_s": len(live) / dt,
            "compact_docs": len(live)}


def curation_ops(ctx, inp: dict) -> dict:
    """The seven operators on the first ``OPS_DOCS`` docs, twice.  Each
    call consumes every output column into an order-independent digest
    (count plus xor of row hashes, so nothing is pruned); the first pass
    warms up, the second is timed, and the digests must be equal."""
    from pyspark.sql import functions as F
    from pg_cjk_parser_spark.ops.dedup import duplicate_spans
    from pg_cjk_parser_spark.ops.multimodal import html_to_text
    from pg_cjk_parser_spark.ops.textstats import repetition_signals
    from pg_cjk_parser_spark.ops.web import line_dedup, pii_scrub, url_dedup
    from pg_cjk_parser_spark.spark.udfs import make_ts_rank_udf

    spark = ctx.spark
    p = ctx.path("in", "ops.parquet")
    gen.write_parquet(inp["corpus"].table.slice(0, OPS_DOCS), p)
    docs = spark.read.parquet(p)
    rank = make_ts_rank_udf("のび太", cd=True)
    build = {
        "html_to_text": lambda: html_to_text(docs.select("doc_id", "html")),
        "url_dedup": lambda: url_dedup(docs, ts_col="warc_ts", id_col="doc_id"),
        "line_dedup": lambda: line_dedup(docs, id_col="doc_id"),
        "repetition_signals": lambda: repetition_signals(docs, id_col="doc_id"),
        "duplicate_spans": lambda: duplicate_spans(docs, k=8, id_col="doc_id"),
        "pii_scrub": lambda: pii_scrub(docs.select("doc_id", "text")),
        "ts_rank_cd_scan": lambda: docs.select(
            "doc_id", rank(F.col("text")).alias("rank")),
    }

    def digest(df):
        cols = [F.col(c) for c in df.columns]
        r = df.agg(F.count(F.lit(1)).alias("n"),
                   F.bit_xor(F.xxhash64(*cols)).alias("h")).collect()[0]
        return (r.n, r.h)

    out = {}
    for name, make in build.items():
        d1 = ctx.call("ops", f"{name}_warm", lambda: digest(make()))
        d2 = ctx.call("ops", name, lambda: digest(make()))
        ctx.expect(d1 is not None and d1 == d2 and d1[0] > 0,
                   f"{name}: output digest differs across passes")
        out[f"ops.{name}_docs_per_s"] = OPS_DOCS / ctx.rec.of(f"ops.{name}")[-1]
    return out

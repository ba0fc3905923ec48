"""The benchmark's own tests: generator determinism, the query stream,
and the workload code checked against ``query/oracle.py`` on small
generated corpora.

    mkdir -p .perfbench_work && python3 -m pytest perfbench/tests -q -p no:cacheprovider --basetemp=.perfbench_work/pytest
"""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, queries, run, workloads as W  # noqa: E402


def test_generator_is_seeded(tmp_path):
    a, b, c = gen.generate(3, 400), gen.generate(3, 400), gen.generate(4, 400)
    assert gen.table_digest(a.table) == gen.table_digest(b.table)
    assert gen.table_digest(a.table) != gen.table_digest(c.table)
    pa_, pb = tmp_path / "a.parquet", tmp_path / "b.parquet"
    gen.write_parquet(a.table, str(pa_))
    gen.write_parquet(b.table, str(pb))
    assert pa_.read_bytes() == pb.read_bytes()
    assert a.table.schema == gen.SCHEMA


def test_generator_shares():
    c = gen.generate(5, 4000)
    p = gen.measured_props(c)
    assert abs(p["boilerplate_share"] - gen.BOILERPLATE_SHARE) < 0.03
    assert abs(p["copy_share"] - gen.COPY_SHARE) < 0.02
    assert abs(p["recrawl_share"] - gen.RECRAWL_SHARE) < 0.02
    assert 0.1 < p["cjk_char_share"] < 0.4
    urls = c.table.column("url").to_pylist()
    assert len(set(urls)) < len(urls)          # recrawls share urls
    texts = c.table.column("text").to_pylist()
    assert sum(any(r in t for r in gen.REF_STRINGS) for t in texts) > 0.02 * len(texts)


def test_stream_keeps_the_class_mix():
    c = gen.generate(6, 2000)
    qs = queries.build_queries(c, 6)
    assert set(qs) == set(queries.CLASSES)
    s = queries.stream(qs, 6, 5000)
    for cls, share in queries.CLASS_MIX.items():
        got = sum(q.cls == cls for q in s) / len(s)
        assert abs(got - share) < 0.02, cls
    assert queries.stream(qs, 6, 300) == s[:300]


def test_validate_ignores_only_the_known_false_errors(tmp_path, monkeypatch):
    import pg_cjk_parser_spark.index.validate as V

    mdir = tmp_path / "manifests"
    mdir.mkdir()
    for name in ("bucket=0.json", "epoch=1.json"):
        (mdir / name).write_text("{}")

    def failed(errors, compacted=False):
        monkeypatch.setattr(V, "validate_index",
                            lambda idx: {"ok": not errors, "errors": errors})
        c = W.Ctx(str(tmp_path), seed=1, seconds=1.0, trace=False)
        W.validate(c, str(tmp_path), compacted)
        return c.failed

    bucket_sum = "stats.n_postings=5 != sum(buckets)=3"
    stale = "stale/incomplete bucket manifests: [0]"
    assert failed([]) == 0
    assert failed([bucket_sum]) == 0
    assert failed([stale]) == 1
    assert failed([stale, bucket_sum], compacted=True) == 0
    assert failed(["stats.n_docs=5 != base+sum(epochs)=4", bucket_sum]) == 1
    (mdir / "epoch=1.json").unlink()     # pure batch layout: no excuse
    assert failed([bucket_sum]) == 1


def _oracle_cases(qs):
    # BM25 classes the oracle scores (prefix needs the index dictionary,
    # rank_cd is not BM25)
    return [q for c, lst in qs.items() if c not in ("prefix", "rank_cd")
            for q in lst[:4]]


def _check_oracle(idx, docs, qs):
    from pg_cjk_parser_spark.query.oracle import brute_force_topk

    matched = 0
    for q in _oracle_cases(qs):
        got = [(d, round(s, 6)) for d, s in queries.run_query(idx, q, 10)]
        want = brute_force_topk(docs, q.text, k=10, mode=q.mode)
        assert got == want, (q, got[:3], want[:3])
        matched += bool(got)
    assert matched >= len(_oracle_cases(qs)) // 2


@pytest.fixture
def ctx(tmp_path, monkeypatch):
    # the same isolation run.py sets up: JVM and Python temp files stay
    # under the test's directory
    (tmp_path / "tmp").mkdir()
    monkeypatch.setenv("TMPDIR", str(tmp_path / "tmp"))
    monkeypatch.setenv("SPARK_LOCAL_DIRS", str(tmp_path / "spark-local"))
    monkeypatch.setenv("JAVA_TOOL_OPTIONS",
                       f"-XX:-UsePerfData -Djava.io.tmpdir={tmp_path / 'tmp'}")
    monkeypatch.setenv("PYTHONPATH", ROOT)
    c = W.Ctx(str(tmp_path), seed=9, seconds=1.0, trace=False)
    yield c
    run._stop(c)


def test_serve_zipf_against_oracle(ctx, monkeypatch):
    monkeypatch.setattr(W, "SERVE_DOCS", 400)
    monkeypatch.setattr(W, "SIDE_DOCS", 60)
    inp = W.prepare_serve(ctx)
    res = W.serve_zipf(ctx, inp)
    assert ctx.failed == 0, ctx.errors
    assert len(res["serve_lat"]) > 10 and len(res["spark_lat"]) >= 1
    t = inp["corpus"].table
    docs = list(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))
    _check_oracle(res["index"], docs, inp["queries"])


def test_ingest_mutate_against_oracle(ctx, monkeypatch):
    from pg_cjk_parser_spark.index.compact import compact_index

    for name, v in (("INGEST_BASE_DOCS", 300), ("SIDE_DOCS", 60),
                    ("APPEND_DOCS", 60), ("UPSERT_DOCS", 20),
                    ("DELETE_DOCS", 10), ("CYCLES", 1), ("SERVE_READS", 15)):
        monkeypatch.setattr(W, name, v)
    inp = W.prepare_ingest(ctx)
    res = W.ingest_mutate(ctx, inp)
    assert ctx.failed == 0, ctx.errors
    # after compaction corpus stats are exact: the index must answer like
    # brute force over the live documents' current versions
    compact_index(ctx.spark, res["index"])
    docs = sorted((d, inp["docs"][d][1]) for d in res["live"])
    _check_oracle(res["index"], docs, inp["queries"])

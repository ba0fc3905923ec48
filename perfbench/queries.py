"""Seeded query sets and the Zipf-popular query stream.

Ten classes, each a list of ``Query`` drawn from the generated corpus.
The stream fixes the class mix (``CLASS_MIX``, a repeating schedule) and
draws each class's queries with Zipf popularity, so every seed issues the
same shape of traffic over different terms.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from .gen import HAN, HANGUL, LATIN, REF_STRINGS, Corpus

PER_CLASS = 60
# class -> share of the stream
CLASS_MIX = {
    "head1": 0.12, "tail1": 0.12, "and2": 0.14, "and3": 0.08,
    "phrase": 0.08, "or3": 0.08, "prefix": 0.08, "websearch_neg": 0.08,
    "cjk_ref": 0.10, "rank_cd": 0.12,
}
CLASSES = tuple(CLASS_MIX)
# Zipf exponent of query popularity within a class (weight 1 / rank ** s)
QUERY_ZIPF_S = 0.8


@dataclass(frozen=True)
class Query:
    cls: str
    text: str
    mode: str          # plain | tsquery | websearch
    rank_cd: bool = False


def _df(c: Corpus) -> np.ndarray:
    nv = len(c.vocab.words)
    df = np.zeros(nv, dtype=np.int64)
    for t in c.tokens:
        df[np.unique(t)] += 1
    return df


def build_queries(c: Corpus, seed: int) -> dict[str, list[Query]]:
    rng = np.random.default_rng([seed, 7])
    voc = c.vocab
    df = _df(c)
    n = len(c.tokens)
    words = voc.words
    script = voc.script
    latin = script == LATIN
    order = np.argsort(-df, kind="stable")
    mid_lo, mid_hi = max(20, n // 200), max(40, n // 20)
    mid = (df >= mid_lo) & (df <= mid_hi)
    tail = np.flatnonzero((df >= 3) & (df <= 20))
    out: dict[str, list[Query]] = {k: [] for k in CLASSES}

    def pick(arr, k):
        return arr[rng.integers(0, len(arr), k)]

    def from_doc(k, pred):
        """k distinct word ids satisfying ``pred`` from one random doc."""
        for _ in range(200):
            t = c.tokens[int(rng.integers(0, n))]
            ids = np.unique(t[pred[t]])
            if len(ids) >= k:
                return rng.choice(ids, k, replace=False)
        raise RuntimeError("corpus too small for query generation")

    # head terms by Zipf rank (4, 5, ...): the class costs the same on
    # every seed
    for w in order[4:4 + PER_CLASS]:
        out["head1"].append(Query("head1", words[w], "plain"))
    for w in pick(tail, PER_CLASS):
        out["tail1"].append(Query("tail1", words[w], "plain"))
    for _ in range(PER_CLASS):
        out["and2"].append(Query(
            "and2", " ".join(words[from_doc(2, mid)]), "plain"))
        out["and3"].append(Query(
            "and3", " ".join(words[from_doc(3, df >= mid_lo)]),
            "plain"))
        a, b, d = words[from_doc(3, mid & latin)]
        out["or3"].append(Query("or3", f"{a} | {b} | {d}", "tsquery"))
        a, b, neg = words[from_doc(3, mid)]
        out["websearch_neg"].append(
            Query("websearch_neg", f"{a} {b} -{neg}", "websearch"))
        a, b = words[from_doc(2, mid & latin)]
        out["rank_cd"].append(
            Query("rank_cd", f"{a} & {b}", "tsquery", rank_cd=True))
    # phrases: adjacent Latin tokens of a document
    while len(out["phrase"]) < PER_CLASS:
        t = c.tokens[int(rng.integers(0, n))]
        ok = np.flatnonzero(latin[t[:-1]] & latin[t[1:]] & (t[:-1] != t[1:]))
        if len(ok):
            j = int(ok[rng.integers(0, len(ok))])
            out["phrase"].append(Query(
                "phrase", f"{words[t[j]]} <-> {words[t[j + 1]]}", "tsquery"))
    # prefixes of mid-frequency Latin words
    for w in pick(np.flatnonzero(mid & latin), PER_CLASS):
        out["prefix"].append(Query("prefix", words[w][:4] + ":*", "tsquery"))
    # the reference strings, plus CJK head runs for volume
    for s in REF_STRINGS:
        out["cjk_ref"].append(Query("cjk_ref", s, "plain"))
    cjk_head = order[(script[order] >= HAN) & (script[order] <= HANGUL)][:40]
    for w in pick(cjk_head, PER_CLASS - len(REF_STRINGS)):
        out["cjk_ref"].append(Query("cjk_ref", words[w], "plain"))
    out["rank_cd"][0] = Query("rank_cd", "のび太", "tsquery", rank_cd=True)
    return {k: list(dict.fromkeys(v)) for k, v in out.items()}


def miss_query(c: Corpus) -> str:
    """A term absent from the vocabulary (routing and df lookup only)."""
    vocab = set(c.vocab.words.tolist())
    w = "qzxv"
    while w in vocab:
        w += "q"
    return w


def stream(qs: dict[str, list[Query]], seed: int, length: int) -> list[Query]:
    """``length`` queries: fixed class schedule, Zipf popularity within
    each class."""
    rng = np.random.default_rng([seed, 8])
    sched = []
    for cls, share in CLASS_MIX.items():
        sched += [cls] * int(round(share * 50))
    sched = [sched[i] for i in np.random.default_rng(0).permutation(len(sched))]
    cdfs = {}
    for cls, lst in qs.items():
        w = 1.0 / np.arange(1, len(lst) + 1) ** QUERY_ZIPF_S
        cdfs[cls] = np.cumsum(w) / w.sum()
    out = []
    for i in range(length):
        cls = sched[i % len(sched)]
        j = int(np.searchsorted(cdfs[cls], rng.random(), side="right"))
        out.append(qs[cls][min(j, len(qs[cls]) - 1)])
    return out


def run_query(idx: str, q: Query, k: int = 10):
    from pg_cjk_parser_spark.query.topk import rank_local, search_local

    if q.rank_cd:
        return rank_local(idx, q.text, k=k, mode=q.mode, cd=True)
    return search_local(idx, q.text, k=k, mode=q.mode)

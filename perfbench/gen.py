"""Seeded web-corpus generator for the benchmark.

Produces the engine's input schema (``url, warc_ts, html, text, lang``)
plus a dense ``doc_id`` column, as a pure function of the seed:

* a Zipf-Mandelbrot vocabulary of Latin words and Han, kana and Hangul
  runs (each document mostly draws from its language's script);
* log-normal document lengths, in tokens;
* number, URL and e-mail tokens;
* the reference CJK strings (のび太, 野比大雄, 「大韩民国개인정보,
  Nobita 牧場物語) on ``REF_SHARE`` of the documents;
* per-site boilerplate header/footer lines (``BOILERPLATE_SHARE``),
  spans copied verbatim from another document (``COPY_SHARE``) and
  recrawled URLs with a later timestamp (``RECRAWL_SHARE``).

Rendering is deterministic from token ids, so a copied span renders to
the same text in both documents.  Equal seeds give byte-identical
tables (``table_digest``) and Parquet files.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ("en", "zh", "ja", "ko", "mixed")
LANG_SHARE = (0.45, 0.20, 0.15, 0.12, 0.08)
LATIN, HAN, KANA, HANGUL, SPECIAL = range(5)
# per language: share of a document's tokens drawn from its own script
# (the rest come from the whole vocabulary)
LANG_SCRIPT = {"en": LATIN, "zh": HAN, "ja": KANA, "ko": HANGUL}
OWN_SCRIPT_SHARE = 0.85
SPECIAL_SHARE = 0.02          # number / url / email tokens

# vocabulary: size, script shares and the Zipf-Mandelbrot weight
# 1 / (rank + VOCAB_ZIPF_OFFSET) ** VOCAB_ZIPF_S over the word ranks
VOCAB_SIZE = 60_000
VOCAB_SCRIPT_SHARE = {LATIN: 0.55, HAN: 0.20, KANA: 0.12, HANGUL: 0.13}
VOCAB_ZIPF_S = 1.07
VOCAB_ZIPF_OFFSET = 2.7
# document length in body tokens: log-normal around the median
MEDIAN_LEN = 60
LEN_SIGMA = 0.7

REF_SHARE = 0.03
BOILERPLATE_SHARE = 0.60
COPY_SHARE = 0.10
RECRAWL_SHARE = 0.08

REF_STRINGS = ("のび太", "野比大雄", "「大韩民国개인정보", "Nobita 牧場物語")
_REF_LINES = (
    "ドラえもん のび太の牧場物語 を遊びました",
    "野比大雄 和 哆啦A梦 的故事",
    "「大韩民国개인정보」 보호 정책 안내",
    "Nobita 牧場物語 review and notes",
)

SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)
_EPOCH_US = 1_728_345_600_000_000  # 2024-10-08T00:00:00Z


@dataclass
class Vocab:
    words: np.ndarray            # object array of surface strings
    spaced: np.ndarray           # " " + word
    script: np.ndarray           # int8 script per word id
    cdf: dict = field(default_factory=dict)   # script|None -> (ids, cdf)

    def draw(self, rng, n: int, script=None) -> np.ndarray:
        ids, cdf = self.cdf[script]
        return ids[np.searchsorted(cdf, rng.random(n), side="right")]


def _chars(rng, lo: int, span: int, n: int, lmin: int, lmax: int) -> list[str]:
    lens = rng.integers(lmin, lmax + 1, n)
    cps = lo + rng.integers(0, span, int(lens.sum()))
    flat = "".join(map(chr, cps.tolist()))
    ends = np.cumsum(lens)
    return [flat[e - l:e] for l, e in zip(lens.tolist(), ends.tolist())]


def make_vocab(rng) -> Vocab:
    from pg_cjk_parser_spark.kernel.stopwords import ENGLISH_STOPWORDS

    words: list[str] = []
    script: list[int] = []
    seen: set[str] = set(ENGLISH_STOPWORDS)
    for sc, share in VOCAB_SCRIPT_SHARE.items():
        n = int(VOCAB_SIZE * share)
        if sc == LATIN:
            cand = _chars(rng, ord("a"), 26, n + n // 4, 3, 10)
        elif sc == HAN:
            cand = _chars(rng, 0x4E00, 2500, n + n // 4, 2, 3)
        elif sc == KANA:
            # hiragana or katakana runs
            hira = _chars(rng, 0x3041, 83, (n + n // 4) // 2, 3, 5)
            kata = _chars(rng, 0x30A1, 89, (n + n // 4) - len(hira), 3, 5)
            cand = hira + kata
        else:
            cand = _chars(rng, 0xAC00, 2000, n + n // 4, 2, 3)
        kept = 0
        for w in cand:
            if kept == n:
                break
            if w in seen:
                continue
            seen.add(w)
            words.append(w)
            script.append(sc)
            kept += 1
    # specials: numbers, urls, emails (uniform draws, no Zipf)
    nums = [str(x) for x in rng.integers(10, 100_000, 3000).tolist()]
    nums += [f"{a}.{b}" for a, b in rng.integers(0, 100, (1000, 2)).tolist()]
    urls = [
        f"https://site{s}.example/p{p}.html"
        for s, p in rng.integers(0, 500, (1500, 2)).tolist()
    ]
    mails = [
        f"user{u}@site{s}.example"
        for u, s in rng.integers(0, 5000, (1500, 2)).tolist()
    ]
    for w in nums + urls + mails:
        if w not in seen:
            seen.add(w)
            words.append(w)
            script.append(SPECIAL)
    # shuffle so Zipf rank is independent of script
    order = rng.permutation(len(words))
    warr = np.array(words, dtype=object)[order]
    sarr = np.array(script, dtype=np.int8)[order]
    voc = Vocab(warr, np.array([" " + w for w in warr], dtype=object), sarr)
    ranks = np.arange(len(warr), dtype=np.float64)
    weight = 1.0 / (ranks + VOCAB_ZIPF_OFFSET) ** VOCAB_ZIPF_S
    for sc in (None, LATIN, HAN, KANA, HANGUL, SPECIAL):
        ids = np.arange(len(warr)) if sc is None else np.flatnonzero(sarr == sc)
        w = weight[ids] if sc != SPECIAL else np.ones(len(ids))
        c = np.cumsum(w)
        voc.cdf[sc] = (ids, c / c[-1])
    return voc


@dataclass
class Corpus:
    table: pa.Table
    tokens: list            # per-doc token id arrays (body only)
    vocab: Vocab
    props: dict


def _draw_tokens(rng, voc: Vocab, lang_idx: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """All documents' token ids as one flat array (doc order)."""
    total = int(lens.sum())
    toks = voc.draw(rng, total, None)
    tok_lang = np.repeat(lang_idx, lens)
    own = rng.random(total) < OWN_SCRIPT_SHARE
    for li, lang in enumerate(LANGS):
        sc = LANG_SCRIPT.get(lang)
        if sc is None:
            continue
        m = own & (tok_lang == li)
        toks[m] = voc.draw(rng, int(m.sum()), sc)
    sp = rng.random(total) < SPECIAL_SHARE
    toks[sp] = voc.draw(rng, int(sp.sum()), SPECIAL)
    return toks


def _parts(voc: Vocab, toks: np.ndarray, first: np.ndarray,
           line_start: np.ndarray) -> list[str]:
    """Token ids -> text pieces whose concatenation per document is its
    body.  A CJK token directly following a CJK token joins without a
    space when the id pair sum is even, so a copied id span renders to
    the same text wherever it lands."""
    cjk = (voc.script[toks] >= HAN) & (voc.script[toks] <= HANGUL)
    nosep = np.zeros(len(toks), dtype=bool)
    nosep[1:] = cjk[1:] & cjk[:-1] & (((toks[1:] + toks[:-1]) & 1) == 0)
    nosep |= first
    parts = np.where(nosep, voc.words[toks], voc.spaced[toks])
    nl = np.flatnonzero(line_start & ~first)
    parts[nl] = ["\n" + w for w in voc.words[toks[nl]].tolist()]
    return parts.tolist()


def _html(title: str, text: str, site: int, i: int) -> bytes:
    body = "".join(
        "<p>" + ln.replace("&", "&amp;").replace("<", "&lt;") + "</p>"
        for ln in text.split("\n")
    )
    return (
        f"<html><head><title>{title}</title><style>.s{site}{{margin:0}}"
        f"</style></head><body>{body}<nav><a href=\"/s{site}/n{i % 7}.html\">"
        f"next</a></nav><script>var p={i};</script></body></html>"
    ).encode("utf-8")


def generate(seed: int, n_docs: int, id_base: int = 0,
             vocab: Vocab | None = None, stream: int = 0) -> Corpus:
    """``n_docs`` documents with ids ``id_base ..``.  ``stream`` picks an
    independent document stream over the same vocabulary (the vocabulary
    depends on ``seed`` only), so side corpora and update batches share
    the base corpus's terms."""
    voc = vocab or make_vocab(np.random.default_rng([seed, 0]))
    rng = np.random.default_rng([seed, 1, stream])
    n_sites = max(20, n_docs // 40)
    lang_idx = rng.choice(len(LANGS), n_docs, p=LANG_SHARE)
    lens = np.clip(
        rng.lognormal(np.log(MEDIAN_LEN), LEN_SIGMA, n_docs), 8, 800
    ).astype(np.int64)
    sites = rng.integers(0, n_sites, n_docs)
    # recrawls: same url as an earlier original doc, later capture,
    # same length and ~5% of tokens edited
    recrawl_of = np.full(n_docs, -1, dtype=np.int64)
    rc = np.flatnonzero(rng.random(n_docs) < RECRAWL_SHARE)
    rc = rc[rc > 0]
    src = (rng.random(len(rc)) * rc).astype(np.int64)
    for d, s in zip(rc.tolist(), src.tolist()):
        root = int(recrawl_of[s]) if recrawl_of[s] >= 0 else s
        recrawl_of[d] = root
        lens[d] = lens[root]
        sites[d] = sites[root]
        lang_idx[d] = lang_idx[root]
    flat = _draw_tokens(rng, voc, lang_idx, lens)
    off = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(lens, out=off[1:])
    for d in rc.tolist():
        r = int(recrawl_of[d])
        t = flat[off[r]:off[r + 1]].copy()
        m = rng.random(len(t)) < 0.05
        t[m] = voc.draw(rng, int(m.sum()), None)
        flat[off[d]:off[d + 1]] = t
    # copied spans: a 12-30 token slice of another document, verbatim
    copy = np.flatnonzero(rng.random(n_docs) < COPY_SHARE)
    csrc = rng.integers(0, n_docs, len(copy))
    cu = rng.random((len(copy), 3))
    for d, s, (u0, u1, u2) in zip(copy.tolist(), csrc.tolist(), cu.tolist()):
        span = min(int(lens[d]), int(lens[s]), 12 + int(u0 * 19))
        a = off[s] + int(u1 * (lens[s] - span + 1))
        at = off[d] + int(u2 * (lens[d] - span + 1))
        flat[at:at + span] = flat[a:a + span].copy()
    first = np.zeros(len(flat), dtype=bool)
    first[off[:-1]] = True
    line_start = rng.random(len(flat)) < 1 / 12
    parts = _parts(voc, flat, first, line_start)

    has_bp = rng.random(n_docs) < BOILERPLATE_SHARE
    has_ref = rng.random(n_docs) < REF_SHARE
    ref_pick = rng.integers(0, len(_REF_LINES), n_docs)
    jitter = rng.integers(0, 3600, n_docs)
    doc_ids = np.arange(id_base, id_base + n_docs, dtype=np.int64)
    urls, htmls, texts = [], [], []
    offl = off.tolist()
    for d in range(n_docs):
        body = "".join(parts[offl[d]:offl[d + 1]])
        if has_ref[d]:
            body = body + "\n" + _REF_LINES[ref_pick[d]]
        s = int(sites[d])
        if has_bp[d]:
            body = (
                f"site{s} home | news | about | contact\n{body}"
                f"\ncopyright site{s} example all rights reserved"
            )
        r = int(recrawl_of[d])
        page = id_base + (r if r >= 0 else d)
        urls.append(
            f"https://site{s}.example/{LANGS[lang_idx[d]]}/{page}.html"
        )
        texts.append(body)
        htmls.append(_html(f"page {page}", body, s, d))
    ts = _EPOCH_US + (doc_ids * 60 + jitter) * 1_000_000
    table = pa.table(
        [doc_ids, urls, pa.array(ts, pa.timestamp("us")), htmls, texts,
         np.array(LANGS, dtype=object)[lang_idx].tolist()],
        schema=SCHEMA,
    )
    tokens = [flat[offl[d]:offl[d + 1]] for d in range(n_docs)]
    props = {
        "docs": n_docs,
        "sites": n_sites,
        "boilerplate_share": round(float(has_bp.mean()), 4),
        "copy_share": round(len(copy) / n_docs, 4),
        "recrawl_share": round(float((recrawl_of >= 0).mean()), 4),
        "ref_share": round(float(has_ref.mean()), 4),
    }
    return Corpus(table, tokens, voc, props)


def measured_props(c: Corpus) -> dict:
    """Input properties measured on the generated table and tokens."""
    voc = c.vocab
    doc_of = np.repeat(np.arange(len(c.tokens)), [len(t) for t in c.tokens])
    flat = np.concatenate(c.tokens) if c.tokens else np.zeros(0, np.int64)
    pairs = np.unique(doc_of.astype(np.int64) * len(voc.words) + flat)
    df = np.bincount(pairs % len(voc.words), minlength=len(voc.words))
    df = df[df > 0]
    text = c.table.column("text").to_pylist()
    total = sum(len(t) for t in text)
    cjk = sum(
        sum(1 for ch in t if "぀" <= ch <= "ヿ" or "一" <= ch
            <= "鿿" or "가" <= ch <= "힣")
        for t in text[:2000]
    )
    sample = sum(len(t) for t in text[:2000])
    q = np.quantile(df, [0.5, 0.9, 0.99, 1.0]) if len(df) else [0] * 4
    return dict(
        c.props,
        vocab_terms=int(len(df)),
        df_p50=int(q[0]), df_p90=int(q[1]), df_p99=int(q[2]), df_max=int(q[3]),
        tokens_per_doc=round(len(flat) / max(1, len(c.tokens)), 1),
        text_mb=round(total / 1e6, 2),
        cjk_char_share=round(cjk / max(1, sample), 3),
    )


def table_digest(t: pa.Table) -> str:
    h = hashlib.sha256()
    for col in t.columns:
        for chunk in col.chunks:
            for buf in chunk.buffers():
                if buf is not None:
                    h.update(buf)
    return h.hexdigest()[:16]


def write_parquet(t: pa.Table, path: str) -> None:
    pq.write_table(t, path, row_group_size=4096, compression="snappy")

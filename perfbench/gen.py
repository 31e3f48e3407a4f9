"""Seeded page generator for the benchmark: one process, numpy + pyarrow,
no Spark. The program under test only ever sees the parquet written here.

Three corpora, one per workload:

- ``cc``: Common-Crawl-sized pages. Log-normal sizes (median ~40 KB),
  script/style blobs, nav/aside/footer boilerplate around an article, and
  ~1% of pages carrying Latin-1 bytes (not valid UTF-8), which sends the
  positions-off kernel to its fallback.
- ``small``: 1-2 KB markup-dense pages (~120 events each with every event
  type subscribed).
- ``refresh``: pages whose article text passes the corpus filters, with
  planted exact-duplicate and near-duplicate clusters, plus a churned
  second snapshot (changed, deleted and added pages).

Text is drawn from a Zipf-Mandelbrot vocabulary whose top ranks are the
language's function words (including the filters' ``LANG_MARKERS``), so
the language, quality and repetition gates keep a realistic share.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

WORKLOAD_IDS = {"cc": 1, "small": 2, "refresh": 3}

# function words first: the LANG_MARKERS stopwords lead each list
FUNCTION_WORDS = {
    "en": "the and of to is a in that for it with as on was by at be this are from or".split(),
    "de": "der die und nicht ist das zu den mit von sich auf ein eine auch als wird im dem".split(),
    "fr": "le la et les est des en un une du que dans pour sur au par qui pas plus ce".split(),
    "es": "el los que es una la de y en del las por con un para se su al como mas".split(),
}
LANG_SHARE = (("en", 0.7), ("de", 0.1), ("fr", 0.1), ("es", 0.1))

_SYLLABLES = (
    "ka ro mi tel san dor vi len pra sto mar qui nel fa bri tur gon sel "
    "ab or en ul im ver ta co de pli mun gra fen hal zor bet nis "
    "lu pe ris"
).split()


def _content_vocab(n: int = 6000) -> np.ndarray:
    """Fixed content vocabulary (independent of the seed)."""
    rng = np.random.default_rng(20240501)
    words: set[str] = set()
    out = []
    while len(out) < n:
        k = int(rng.integers(2, 5))
        w = "".join(_SYLLABLES[i] for i in rng.integers(0, len(_SYLLABLES), k))
        if w not in words:
            words.add(w)
            out.append(w)
    return np.array(out, dtype=object)


_CONTENT = _content_vocab()


def _zipf_cdf(n: int, s: float = 1.05, q: float = 2.7) -> np.ndarray:
    w = 1.0 / (np.arange(n) + q) ** s
    c = np.cumsum(w)
    return c / c[-1]


class Vocab:
    """Per-language vocabulary: function words at the top ranks, then the
    shared content words, sampled Zipf-Mandelbrot."""

    def __init__(self, lang: str):
        self.words = np.concatenate([np.array(FUNCTION_WORDS[lang], dtype=object), _CONTENT])
        self.cdf = _zipf_cdf(len(self.words))

    def sample(self, rng: np.random.Generator, n: int) -> list[str]:
        idx = np.searchsorted(self.cdf, rng.random(n))
        return list(self.words[np.minimum(idx, len(self.words) - 1)])


VOCABS = {lang: Vocab(lang) for lang in FUNCTION_WORDS}
_LANGS = [lang for lang, _ in LANG_SHARE]
_LANG_P = np.array([p for _, p in LANG_SHARE])


class Words:
    """A page's word stream: sampled in bulk, consumed in order (one
    vocabulary call per few thousand words instead of one per sentence)."""

    def __init__(self, vocab: Vocab, rng: np.random.Generator, chunk: int = 4096):
        self.vocab, self.rng, self.chunk = vocab, rng, chunk
        self.buf: list[str] = []
        self.pos = 0

    def take(self, n: int) -> list[str]:
        if self.pos + n > len(self.buf):
            self.buf = self.buf[self.pos :] + self.vocab.sample(self.rng, max(n, self.chunk))
            self.pos = 0
        self.pos += n
        return self.buf[self.pos - n : self.pos]

    def sentence(self, lo: int, hi: int) -> str:
        ws = self.take(int(self.rng.integers(lo, hi)))
        return " ".join([ws[0].capitalize(), *ws[1:]]) + "."

    def paragraph(self, n_sent: int) -> str:
        """``n_sent`` sentences of 6-21 words."""
        lens = self.rng.integers(6, 22, n_sent).tolist()
        ws = self.take(sum(lens))
        out, i = [], 0
        for n in lens:
            out.append(" ".join([ws[i].capitalize(), *ws[i + 1 : i + n]]) + ".")
            i += n
        return " ".join(out)


def _links(words: Words, n: int, prefix: str) -> str:
    ws = words.take(2 * n)
    return "".join(
        f'<li class="nav-item"><a href="/{prefix}/{i}">{ws[2 * i]} {ws[2 * i + 1]}</a></li>'
        for i in range(n)
    )


def _script_blob(rng, n_bytes: int) -> str:
    """Minified-JS-looking filler: comparisons and markup-like strings
    inside <script> exercise the raw-text scan, never the tag FSM."""
    k = n_bytes // 170 + 1
    a = rng.integers(0, 10**6, k).tolist()
    b = rng.integers(0, 999, k).tolist()
    return "".join(
        f'function f{x}(e,t){{if(e<t&&t>{y}){{return "<div class=\\"x{x}\\">"+e+"</div>"}}'
        f"var n=[{y},{x},e.length];for(var i=0;i<n.length;i++){{t+=n[i]*{x}}}return t}};"
        for x, y in zip(a, b)
    )


def _style_blob(rng, n_bytes: int) -> str:
    return "".join(
        f".c{k}>a:hover{{color:#{k % 4096:03x};margin:{k % 17}px {k % 5}em}}"
        for k in rng.integers(0, 10**5, n_bytes // 45 + 1).tolist()
    )


def _pick_lang(rng) -> str:
    return _LANGS[int(rng.choice(len(_LANGS), p=_LANG_P))]


def cc_page(rng, target: int, latin1: bool) -> bytes:
    """One Common-Crawl-shaped page of about ``target`` bytes: ~40% of
    the bytes are script/style, the rest markup and text."""
    lang = _pick_lang(rng)
    words = Words(VOCABS[lang], rng)
    title = words.sentence(4, 9)
    head = (
        f'<!DOCTYPE html><html lang="{lang}"><head><meta charset="utf-8">'
        '<meta name="viewport" content="width=device-width, initial-scale=1">'
        f"<title>{title}</title>"
        '<link rel="stylesheet" href="/static/site.css">'
        f"<style>{_style_blob(rng, int(target * 0.12))}</style>"
        f'<script type="text/javascript">{_script_blob(rng, int(target * 0.25))}</script>'
        "</head>"
    )
    nav = (
        '<body class="page"><header id="top"><div class="logo"><a href="/">home</a></div>'
        f'<nav><ul class="menu">{_links(words, int(rng.integers(8, 30)), "c")}</ul></nav></header>'
    )
    tail = (
        f'<aside class="related"><ul>{_links(words, int(rng.integers(5, 15)), "r")}</ul></aside>'
        f'<footer><ul>{_links(words, int(rng.integers(4, 12)), "f")}</ul>'
        "<p>&copy; 2025 example media group</p></footer>"
        f"<script>{_script_blob(rng, int(target * 0.05))}</script></body></html>"
    )
    budget = target - len(head) - len(nav) - len(tail)
    body = [f"<main><article><h1>{title}</h1>"]
    size = 0
    n_par = 0
    kinds = rng.random(budget // 200 + 4).tolist()
    while size < budget or n_par < 2:
        r = kinds[n_par % len(kinds)]
        if r < 0.75:
            p = f"<p>{words.paragraph(int(rng.integers(2, 7)))}</p>"
            if latin1:  # Latin-1 bytes: the page is not valid UTF-8
                p = "<p>caf\xe9 cr\xe8me na\xefve " + p[3:]
                latin1 = False
        elif r < 0.85:
            p = (
                f'<p>{words.sentence(5, 14)} <a href="/x/{n_par}">{words.sentence(2, 4)}</a> '
                f"<b>{words.sentence(2, 5)}</b> {words.sentence(5, 14)}</p>"
            )
        elif r < 0.93:
            p = f'<div class="share"><a href="/s/{n_par}">share</a><a href="/t/{n_par}">tweet</a></div>'
        else:
            cells = "".join(f"<td>{w}</td>" for w in words.take(4))
            p = f'<table class="data"><tr>{cells}</tr><tr>{cells}</tr></table>'
        body.append(p)
        size += len(p)
        n_par += 1
    body.append("</article></main>")
    return (head + nav + "".join(body) + tail).encode("latin-1")


def small_page(rng, url: str, target: int) -> bytes:
    """A 1-2 KB markup-dense page: processing instruction, doctype,
    comment, CDATA, tags with attributes, and text."""
    words = Words(VOCABS["en"], rng, chunk=256)
    title = words.sentence(3, 6)
    parts = [
        '<?xml version="1.0" encoding="utf-8"?><!DOCTYPE html><html lang="en"><head>'
        f'<meta charset="utf-8"><title>{title}</title></head><body>'
        f"<!-- {url} --><nav><ul>{_links(words, int(rng.integers(2, 5)), 'n')}</ul></nav>"
        f'<article id="a"><h1>{title}</h1>'
    ]
    size = len(parts[0])
    i = 0
    while size < target - 60:
        if i % 3 == 2:
            p = f"<p><![CDATA[{words.sentence(6, 14)}]]></p>"
        else:
            p = f'<p class="c">{words.sentence(10, 24)} <a href="/l/{i}">{words.sentence(1, 3)}</a></p>'
        parts.append(p)
        size += len(p)
        i += 1
    parts.append("</article><footer><p>&copy; example</p></footer></body></html>")
    return "".join(parts).encode()


def refresh_page(words: Words, paras: list[str], title: str) -> bytes:
    """A page whose article carries ``paras`` (the text the filters and
    dedup see) around boilerplate."""
    return (
        '<!DOCTYPE html><html><head><meta charset="utf-8">'
        f"<title>{title}</title><script>var a=1<2;</script></head><body>"
        f'<nav><ul>{_links(words, 6, "n")}</ul></nav><article>'
        + "".join(f"<p>{p}</p>" for p in paras)
        + f'</article><footer><a href="/about">about</a> {title}</footer></body></html>'
    ).encode()


def _lognormal_sizes(rng, n: int, median: float, sigma: float, lo: int, hi: int) -> np.ndarray:
    """Log-normal page sizes, stratified: one draw per quantile band in a
    seeded order, so every seed gets the same size distribution and the
    corpus total barely moves between seeds."""
    from statistics import NormalDist  # noqa: PLC0415

    u = (np.arange(n) + rng.random(n)) / n
    z = np.array([NormalDist().inv_cdf(float(x)) for x in u])
    sizes = np.clip(np.exp(np.log(median) + sigma * z), lo, hi).astype(int)
    return sizes[rng.permutation(n)]


def _rng(seed: int, kind: str) -> np.random.Generator:
    return np.random.default_rng([int(seed), WORKLOAD_IDS[kind]])


def _url(rng, i: int) -> str:
    host = f"mega{i % 5}.example.com" if rng.random() < 0.3 else f"host{int(rng.integers(0, 2000))}.example.org"
    return f"https://{host}/p/{i}"


def make_cc(seed: int, n_pages: int) -> tuple[pa.Table, dict]:
    rng = _rng(seed, "cc")
    sizes = _lognormal_sizes(rng, n_pages, 40_000, 0.55, 6_000, 300_000)
    latin1 = np.zeros(n_pages, dtype=bool)
    latin1[rng.choice(n_pages, max(round(0.01 * n_pages), 1), replace=False)] = True
    urls, htmls = [], []
    for i in range(n_pages):
        urls.append(_url(rng, i))
        htmls.append(cc_page(rng, int(sizes[i]), bool(latin1[i])))
    return _table(urls, htmls), {"n_latin1": int(latin1.sum())}


def make_small(seed: int, n_pages: int) -> pa.Table:
    rng = _rng(seed, "small")
    sizes = _lognormal_sizes(rng, n_pages, 1_300, 0.2, 800, 2_200)
    urls, htmls = [], []
    for i in range(n_pages):
        urls.append(_url(rng, i))
        htmls.append(small_page(rng, urls[-1], int(sizes[i])))
    return _table(urls, htmls)


def make_refresh(
    seed: int, n_pages: int, churn: float = 0.05, cluster_size: int = 3
) -> tuple[pa.Table, pa.Table, dict]:
    """(base snapshot, refreshed snapshot, planted facts).

    About 1 page in 60 heads an exact-duplicate cluster and as many head
    a near-duplicate cluster (``cluster_size`` pages each; near copies
    substitute ~1 word in 120). The refreshed snapshot churns ``churn``
    of the pages: 80% of the churn are changed pages (new article text
    under the same url), 10% deleted urls and 10% added urls. Planted
    clusters are never churned, so both snapshots carry them. About 13%
    of the pages are thin or spam, which the corpus filters drop."""
    rng = _rng(seed, "refresh")
    n_clusters = max(n_pages // 60, 1)
    n_thin, n_spam = n_pages // 12, n_pages // 20
    langs = [_pick_lang(rng) for _ in range(n_pages)]
    urls = [_url(rng, i) for i in range(n_pages)]
    words = [Words(VOCABS[lang], rng, chunk=1024) for lang in langs]

    # roles first: cluster members, then thin and spam pages, then the
    # rest; only pages that carry their own article draw a size, so the
    # corpus's text volume barely moves between seeds
    order = [int(x) for x in rng.permutation(n_pages)]
    groups = [order[k * cluster_size : (k + 1) * cluster_size] for k in range(2 * n_clusters)]
    exact_groups, near_groups = groups[:n_clusters], groups[n_clusters:]
    rest = order[len(groups) * cluster_size :]
    thin, spam, free = rest[:n_thin], rest[n_thin : n_thin + n_spam], rest[n_thin + n_spam :]
    own = [g[0] for g in groups] + free
    sizes = np.zeros(n_pages, dtype=int)
    sizes[own] = _lognormal_sizes(rng, len(own), 2_400, 0.45, 600, 12_000)

    def article(i: int, words: Words) -> list[str]:
        paras, size = [], 0
        while size < sizes[i % n_pages]:
            paras.append(words.paragraph(int(rng.integers(2, 6))))
            size += len(paras[-1])
        return paras

    docs = {i: (article(i, words[i]), words[i].sentence(4, 8)) for i in own}
    for i in thin:  # under the filters' 100-character minimum
        docs[i] = ([words[i].sentence(3, 8)], words[i].sentence(4, 8))
    for i in spam:  # one sentence repeated: duplicate-bigram gate
        docs[i] = ([" ".join([words[i].sentence(4, 7)] * 40)], words[i].sentence(4, 8))
    for g in exact_groups:
        for j in g[1:]:
            docs[j] = docs[g[0]]
    for g in near_groups:
        paras, title = docs[g[0]]
        for j in g[1:]:
            edited = []
            for p in paras:
                ws = p.split(" ")
                for k in np.flatnonzero(rng.random(len(ws)) < 1 / 120).tolist():
                    ws[k] = words[g[0]].take(1)[0]
                edited.append(" ".join(ws))
            docs[j] = (edited, title)
    base_html = [refresh_page(words[i], *docs[i]) for i in range(n_pages)]

    n_churn = int(round(churn * n_pages))
    n_del = n_add = max(n_churn // 10, 1)
    n_chg = n_churn - n_del - n_add
    changed, deleted = free[:n_chg], set(free[n_chg : n_chg + n_del])
    new_html = list(base_html)
    for i in changed:
        new_html[i] = refresh_page(words[i], article(i, words[i]), docs[i][1])
    keep = [i for i in range(n_pages) if i not in deleted]
    new_urls = [urls[i] for i in keep]
    new_htmls = [new_html[i] for i in keep]
    for i in range(n_pages, n_pages + n_add):
        w = Words(VOCABS[_pick_lang(rng)], rng, chunk=1024)
        new_urls.append(_url(rng, i))
        new_htmls.append(refresh_page(w, article(free[i - n_pages], w), w.sentence(4, 8)))
    facts = {
        "changed": [urls[i] for i in changed],
        "deleted": [urls[i] for i in sorted(deleted)],
        "added": new_urls[len(keep) :],
        "exact_groups": [[urls[j] for j in g] for g in exact_groups],
        "near_groups": [[urls[j] for j in g] for g in near_groups],
    }
    return _table(urls, base_html), _table(new_urls, new_htmls), facts


def quarter(table: pa.Table, seed: int) -> pa.Table:
    """A seeded quarter of a corpus, stratified by page size: one page out
    of every four of similar size, so the quarter keeps the corpus's size
    distribution."""
    sizes = pc.binary_length(table.column("html")).to_numpy(zero_copy_only=False)
    order = np.argsort(sizes, kind="stable")
    rng = np.random.default_rng([int(seed), 4])
    n = len(order) // 4
    pick = order[4 * np.arange(n) + rng.integers(0, 4, n)]
    return table.take(pa.array(np.sort(pick)))


def _table(urls: list[str], htmls: list[bytes]) -> pa.Table:
    return pa.table(
        {"url": pa.array(urls, pa.string()), "html": pa.array(htmls, pa.binary())}
    )


def describe(table: pa.Table) -> dict:
    """Input properties recorded with every run."""
    sizes = np.array(pc.binary_length(table.column("html")).to_numpy(zero_copy_only=False))
    return {
        "pages": table.num_rows,
        "mb": round(float(sizes.sum()) / 1e6, 3),
        "size_p50": int(np.percentile(sizes, 50)),
        "size_p99": int(np.percentile(sizes, 99)),
    }


def write(table: pa.Table, path: str, n_files: int = 8) -> None:
    """Parquet directory of ``n_files`` files, so the scan splits evenly."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for k in range(n_files):
        part = table.slice(k * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{k:03d}.parquet"), compression="zstd")

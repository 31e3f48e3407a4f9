"""Correctness gate: every run checks the program's output before any of
its numbers count.

- every input url appears exactly once in the output, with status ``ok``;
- on a seeded sample, text, spans and title equal an independent
  reference: the FSM tokenizer (``SaxParser`` + ``EventCollector``) fed
  through this file's own implementation of the documented main-content
  reduction;
- a whole-output digest, pinned in ``pins.json`` for the default seed;
- ``self_test`` shows that one flipped output byte fails the checks.
"""

from __future__ import annotations

import hashlib
import json
import os
import random

import pyarrow.dataset as ds

from sax_wasm_spark.kernel.collect import EventCollector
from sax_wasm_spark.kernel.saxkernel import (
    EVT_CDATA,
    EVT_CLOSE_TAG,
    EVT_OPEN_TAG,
    EVT_TEXT,
    SaxParser,
)

DEFAULT_SEED = 1
PINS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins.json")
OUT_COLUMNS = ("url", "title", "text_bytes", "spans", "n_events", "status")

EXTRACT_EVENTS = (1 << EVT_OPEN_TAG) | (1 << EVT_CLOSE_TAG) | (1 << EVT_TEXT) | (1 << EVT_CDATA)

# the reduction's constants, as documented for the main-content extractor
DROP = frozenset(
    "script style noscript template head nav header footer aside form iframe "
    "svg select option button datalist meta link title".split()
)
VOID = frozenset("area base br col embed hr img input link meta param source track wbr".split())
BLOCK = frozenset(
    "p div article section main li td th blockquote pre h1 h2 h3 h4 h5 h6 body".split()
)


def fsm_rows(html: bytes, events: int) -> list[tuple]:
    collector = EventCollector()
    parser = SaxParser(events=events, handler=collector)
    parser.write(html)
    parser.end()
    return collector.rows


def reference_extract(html: bytes) -> tuple[bytes, list[tuple[int, int]], bytes | None]:
    """(text_bytes, spans, title) by the documented reduction over FSM
    events: blocks are BLOCK frames, candidates are non-empty text/cdata
    outside DROP subtrees, a block is kept iff it has >= 10 bytes, link
    density <= 0.5 and (>= 10 bytes per tag or >= 80 bytes)."""
    stack: list[tuple[str, int]] = []  # (name, block frame id or -1)
    blocks = [0]
    stats = {0: [0, 0, 0]}  # frame -> [text bytes, link bytes, tags]
    cands: list[tuple[int, bytes, int, int]] = []
    drop = link = in_title = 0
    title = None
    for row in fsm_rows(html, EXTRACT_EVENTS):
        code, name, value, self_closing = row[0], row[2], row[3], row[7]
        if code == EVT_OPEN_TAG:
            stats[blocks[-1]][2] += 1
            lname = name.lower()
            if self_closing or lname in VOID:
                continue
            frame = -1
            if lname in BLOCK:
                frame = len(stats)
                stats[frame] = [0, 0, 0]
                blocks.append(frame)
            stack.append((lname, frame))
            drop += lname in DROP
            link += lname == "a"
            in_title += lname == "title"
        elif code == EVT_CLOSE_TAG:
            if self_closing or not stack or (name and name.lower() in VOID):
                continue
            lname, frame = stack.pop()
            drop -= lname in DROP
            link -= lname == "a"
            in_title -= lname == "title"
            if frame >= 0:
                blocks.pop()
        else:
            if in_title and title is None:
                title = value
            if drop or not value:
                continue
            st = stats[blocks[-1]]
            st[0] += len(value)
            if link:
                st[1] += len(value)
            cands.append((blocks[-1], value, row[18], row[19]))
    kept = {
        b
        for b, (total, links, tags) in stats.items()
        if total >= 10 and links / total <= 0.5 and (total / (1 + tags) >= 10 or total >= 80)
    }
    picked = [c for c in cands if c[0] in kept]
    return b"\n".join(c[1] for c in picked), [(c[2], c[3]) for c in picked], title


def read_rows(path: str, columns=OUT_COLUMNS) -> list[dict]:
    """Output rows (pyarrow only, no Spark) sorted by url."""
    table = ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=list(columns))
    return sorted(table.to_pylist(), key=lambda r: (r["url"], repr(r)))


def digest(rows: list[dict], columns=OUT_COLUMNS) -> str:
    h = hashlib.sha256()
    for r in rows:
        for c in columns:
            h.update(repr(r[c]).encode())
            h.update(b"\x00")
    return h.hexdigest()


class Gate:
    """Collects failures across checks; ``failed_pages`` feeds ``ok_frac``."""

    def __init__(self):
        self.errors: list[str] = []
        self.failed_pages = 0

    def fail(self, msg: str, pages: int = 0) -> None:
        self.errors.append(msg)
        self.failed_pages += pages

    @property
    def ok(self) -> bool:
        return not self.errors


def check_urls(gate: Gate, rows: list[dict], urls: list[str]) -> None:
    """Every input url exactly once, every row status ok."""
    seen: dict[str, int] = {}
    for r in rows:
        seen[r["url"]] = seen.get(r["url"], 0) + 1
    want = set(urls)
    missing = len(want - seen.keys())
    extra = sum(1 for u in seen if u not in want)
    dup = sum(n - 1 for n in seen.values() if n > 1)
    bad = sum(1 for r in rows if r["status"] != "ok")
    if missing or extra or dup or bad:
        gate.fail(
            f"urls: {missing} missing, {extra} unexpected, {dup} duplicated, {bad} not ok",
            missing + extra + dup + bad,
        )


def check_sample(gate: Gate, rows: list[dict], html_by_url: dict, seed: int, k: int) -> None:
    """Seeded sample of pages: output equals the FSM reference."""
    by_url = {r["url"]: r for r in rows}
    urls = sorted(html_by_url)
    for url in random.Random(seed).sample(urls, min(k, len(urls))):
        r = by_url.get(url)
        if r is None:
            continue  # already counted by check_urls
        text, spans, title = reference_extract(html_by_url[url])
        want_title = title.decode("utf-8", "replace") if title is not None else None
        got_spans = [(s["byte_start"], s["byte_end"]) for s in r["spans"]]
        if r["text_bytes"] != text or got_spans != spans or r["title"] != want_title:
            gate.fail(f"sample: {url} differs from the FSM reference", 1)


def check_pin(gate: Gate, workload: str, seed: int, value: str) -> None:
    """Compare the whole-output digest with the pinned one (default seed)."""
    if seed != DEFAULT_SEED:
        return
    with open(PINS) as f:
        pins = json.load(f)
    want = pins.get(workload)
    if want != value:
        gate.fail(f"digest: {workload} seed {seed} output {value} != pinned {want}")


def self_test(rows: list[dict], html_by_url: dict, seed: int) -> bool:
    """True iff one flipped byte in one output row fails both the
    digest comparison and the FSM-sample check."""
    flipped = [dict(r) for r in rows]
    i = next(j for j, r in enumerate(flipped) if r["text_bytes"])
    tb = bytearray(flipped[i]["text_bytes"])
    tb[len(tb) // 2] ^= 0x01
    flipped[i]["text_bytes"] = bytes(tb)
    g = Gate()
    check_sample(g, flipped, {flipped[i]["url"]: html_by_url[flipped[i]["url"]]}, seed, 1)
    return digest(flipped) != digest(rows) and not g.ok

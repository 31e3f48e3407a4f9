"""Differential equivalence: fastsax.parse_doc vs the streaming FSM.

The FSM (saxkernel) is the semantic anchor — itself validated
byte-for-byte against the reference WASM (tools/diff_ref.py). The fast
single-shot kernel must reproduce its flat event rows exactly for any
single-write document, across all event masks."""

import random
import sys

sys.path.insert(0, "/root/repo/tools")

from sax_wasm_spark.kernel.collect import EventCollector
from sax_wasm_spark.kernel.fastsax import parse_doc, parse_doc_flat
from sax_wasm_spark.kernel.saxkernel import SaxParser
from sax_wasm_spark.sources.pages import build_large_xml, build_page

# one input per position rule of the kernel's anchor pass: a step back
# over a 4-byte character (value start, name start), byte columns zeroed
# by the hydrate quirk on a row whose positions hold, an unclosed tag, and
# positions across lines
QUIRK_DOCS = [
    "<a b=🚀>".encode(),
    "<a 🚀=1>".encode(),
    '<a b="x"🚀 c=1>'.encode(),
    '<a b=""🚀>'.encode(),
    b"<e a=1",
    '<e\n a="é🚀"\n b=1>x\n</e>'.encode(),
]


def fsm_rows(d: bytes, m: int):
    c = EventCollector()
    p = SaxParser(events=m, handler=c)
    p.write(d)
    p.end()
    return c.rows


def test_fixture_corpus_equivalence():
    from diff_ref import DOCS, MASKS  # noqa: PLC0415

    for d in DOCS + QUIRK_DOCS:
        for m in MASKS:
            fast = parse_doc(d, m)
            if fast is None:
                # invalid-UTF-8 corpus entries route through the FSM
                assert parse_doc_flat(d, m) == fsm_rows(d, m)
                continue
            assert fast == fsm_rows(d, m), f"{d[:60]!r} mask={m}"


def test_fuzz_equivalence():
    rng = random.Random(20250816)
    pieces = [
        "<div>", "</div>", '<p class="x">', "</p>", "plain text ", "a<b ",
        "< notag", "<a href=unq>", "<a href='sq'>", '<a href="dq">', "<br/>",
        "<br />", "<x", "<!-- c -->", "<!--", "-->", "<![CDATA[z]]>",
        "<![CDATA[", "]]>", "<!DOCTYPE html>", "<!DOCTYPE m [",
        '<!ENTITY e "v">', "]>", "<?pi data?>", "<?>", "<?x", "?>", "\n",
        "  ", "\t", ">", "/", "=", '"', "'", "</orphan>", "</>", "<>", "{",
        "}", "<c a={x{y}z}>", "é", "🚀", "€", "<e a b=1 c=\"2\"d='3' e>",
        "</e >", "<e f = 1>", "<е>", "&amp;", "<-", "<!", "<!D", "<![",
        "<!x y>", "< ", "x=y", "<e/ junk>", "\r\n", "<e\n a=1\n>",
        '<a b="">', '<a b="v', "<a b=", "<a b", "<a b =\"x\"\tc=''>",
    ]
    for _ in range(3000):
        doc = "".join(rng.choice(pieces) for _ in range(rng.randint(1, 25))).encode()
        m = rng.randrange(1, 1024)
        fast = parse_doc(doc, m)
        if fast is None:
            continue
        assert fast == fsm_rows(doc, m), f"mask={m} doc={doc!r}"


def test_pages_corpus_equivalence():
    for i in range(300):
        html = build_page(i)[2]
        for m in (0x3FF, 0x141, 0x381):
            assert parse_doc(html, m) == fsm_rows(html, m), f"page {i} mask={m}"
    html = build_large_xml()
    for m in (0x3FF, 0x141, 0x381):
        assert parse_doc(html, m) == fsm_rows(html, m), f"large xml mask={m}"


def test_invalid_utf8_falls_back():
    doc = b"<div>\xff\xfe broken</div>"
    assert parse_doc(doc, 0x3FF) is None
    assert parse_doc_flat(doc, 0x3FF) == fsm_rows(doc, 0x3FF)
    trunc = "<p>🚀".encode()[:-2]
    assert parse_doc(trunc, 0x3FF) is None
    assert parse_doc_flat(trunc, 0x3FF) == fsm_rows(trunc, 0x3FF)

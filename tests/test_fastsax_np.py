"""Differential equivalence: fastsax_np.parse_doc_np vs fastsax.parse_doc.

The positions-off kernel must emit exactly the positions-on kernel's
rows with every position slot (indices 10-17) zeroed where the
positions-on row carries an int, and None preserved where it carries
None. Byte offsets (indices 18-19), codes, names, values, attribute
types and self-closing flags must be identical — the extractor's
entire input contract. parse_doc itself is differentially gated
against the FSM (test_fastsax.py), which is gated against the
reference WASM (tools/diff_ref.py), so equality here chains all the
way to the reference."""

import random
import sys

sys.path.insert(0, "/root/repo/tools")

from sax_wasm_spark.kernel.fastsax import parse_doc
from sax_wasm_spark.kernel.fastsax_np import parse_doc_flat_np, parse_doc_np
from sax_wasm_spark.sources.pages import build_large_xml, build_page
from test_fastsax import QUIRK_DOCS

POS_SLOTS = range(10, 18)


def zero_positions(row: tuple) -> tuple:
    return tuple(
        (0 if isinstance(v, int) else v) if i in POS_SLOTS else v
        for i, v in enumerate(row)
    )


def check(doc: bytes, m: int):
    fast = parse_doc(doc, m)
    np_rows = parse_doc_np(doc, m)
    if fast is None:
        assert np_rows is None, f"np parsed what pos-on rejected: {doc[:60]!r}"
        return
    want = [zero_positions(r) for r in fast]
    assert np_rows == want, f"mask={m} doc={doc[:80]!r}"


def test_fixture_corpus_np_equivalence():
    from diff_ref import DOCS, MASKS  # noqa: PLC0415

    for d in DOCS + QUIRK_DOCS:
        for m in MASKS:
            check(d, m)


def test_fuzz_np_equivalence():
    rng = random.Random(20260816)
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
        check(doc, rng.randrange(1, 1024))


def test_pages_corpus_np_equivalence():
    for i in range(300):
        html = build_page(i)[2]
        for m in (0x3FF, 0x141, 0x381):
            check(html, m)
    html = build_large_xml()
    for m in (0x3FF, 0x141, 0x381):
        check(html, m)


def test_reference_fixture_np_equivalence():
    with open("/root/reference/src/js/__test__/xml.xml", "rb") as f:
        data = f.read()
    for m in (0x3FF, 0x141, 0x381):
        check(data, m)


def test_np_flat_falls_back_on_invalid_utf8():
    from sax_wasm_spark.kernel.fastsax import parse_doc_flat  # noqa: PLC0415

    doc = b"<div>\xff\xfe broken</div>"
    assert parse_doc_np(doc, 0x3FF) is None
    assert parse_doc_flat_np(doc, 0x3FF) == parse_doc_flat(doc, 0x3FF)

"""Single-shot fast tokenizer: the hot path of the Spark pipeline.

``parse_doc(data, events)`` produces exactly the flat event rows that
``SaxParser.write(data); end()`` + ``EventCollector`` produce (see
collect.FIELD_NAMES), for the one-write-per-document case — the case
every Spark operator uses. It is one flat scanning loop (``scan``):
FSM state in local integers, module-level pure scan kernels, no
per-grapheme method dispatch, no entity objects, and no cross-write
hydration machinery (a single write makes every lazy header a plain
slice).

The loop tracks byte offsets only. Line/character positions are a
post-pass: at each emission site the loop writes into the eight
position slots (indices 10-17) four (byte anchor, k) pairs, and
``resolve_positions`` maps each pair to (line, UTF-16 column) with a
newline index, ``searchsorted`` and a unit prefix sum. Every position
the reference reports is "the position of the anchor, stepped back k
UTF-16 units, clamped at the line start"; the kernel's quirks are all
expressed as the anchor and k it writes:
- an unset position (OpenTag end before the tag closes, the value of a
  bare attribute, the end of an implicitly closed tag) is anchor 0 →
  (0, 0);
- the reference's ``ch - k`` column arithmetic keeps its k, so a step
  back over a 4-byte character lands mid-surrogate exactly as the
  reference does (``<a b=🚀>``, ``<a 🚀=1>``);
- anchors are carried in the kernel, not read back from the byte
  columns: those can read 0 on a row whose positions are correct (the
  ``c`` attribute of ``<a b="x"🚀 c=1>``), and a tag entry reused after
  text keeps the stale anchors the reference reports.
With ``anchors`` 0 the loop writes 0 into every position slot instead:
that is ``fastsax_np.parse_doc_np``, the extraction mode.

Returns None when the document is outside the fast profile (invalid
UTF-8, including a truncated trailing sequence) — callers fall back to
the streaming FSM (saxkernel.SaxParser), the semantic source of truth.
Equivalence is enforced differentially (tests/test_fastsax.py,
tests/test_fastsax_np.py) over the fixture corpus, fuzz documents, the
synthetic pages corpus and a multi-MB multi-line document; the FSM
itself is validated byte-for-byte against the reference WASM
(tools/diff_ref.py).

States, terminator classes and byte arithmetic mirror the reference's
src/sax/parser.rs (see saxkernel.py for per-handler line citations).
Single-write simplifications used here:
- streaming ``header.1`` updates only matter across writes; values
  materialize as plain slices at emission (with the one-byte
  ``start>0 && start==end`` quirk of tag.rs:112-114 preserved);
- ``chunk_offset`` is 0 during the write and ``len(data)`` at the
  ``end()`` flush;
- broken trailing sequences cannot occur (checked up front → None).
"""

from __future__ import annotations

import re
import struct
from itertools import chain

import numpy as np

from .collect import EventCollector
from .names import is_name_start_char
from .saxkernel import SaxParser

GL = [1] * 256
for _b in range(0xC0, 0xE0):
    GL[_b] = 2
for _b in range(0xE0, 0xF0):
    GL[_b] = 3
for _b in range(0xF0, 0xF8):
    GL[_b] = 4

# UTF-16 units contributed by each byte of valid UTF-8: continuation
# bytes 0, a 4-byte lead 2 (a surrogate pair), every other byte 1
UNITS = np.ones(256, np.int64)
UNITS[0x80:0xC0] = 0
UNITS[0xF0:0xF8] = 2

TAG_NAME_END = b">/ \n\t\r"
ATTRIBUTE_NAME_END = b"=> \t\n"
ATTRIBUTE_VALUE_END = b" \t\n>"
PROC_INST_TARGET_END = b"> \n\t\r"
ENTITY_CAPTURE_END = b">- ["
DOCTYPE_VALUE_END = b" \n\t\r>"
DOCTYPE_END = b"!>"

RE_TEXT_END = re.compile(rb"[<\n]")
RE_TAG_NAME_END = re.compile(rb"[>/ \n\t\r]")
RE_ATTR_NAME_END = re.compile(rb"[=> \t\n]")
RE_ATTR_VALUE_END = re.compile(rb"[ \t\n>]")
RE_PROC_TARGET_END = re.compile(rb"[> \n\t\r]")
RE_ENTITY_CAPTURE_END = re.compile(rb"[>\- \[]")
RE_DOCTYPE_VALUE_END = re.compile(rb"[ \n\t\r>]")
RE_DOCTYPE_END = re.compile(rb"[!>]")
RE_CLOSE_END = re.compile(rb"[> ]")
RE_BRACES = re.compile(rb"[{}]")
RE_NON_WS = re.compile(rb"[^\x00-\x20]")

# states (same codes as saxkernel)
S_BEGIN = 0
S_BEGIN_WS = 1
S_TEXT = 2
S_LT = 3
S_MARKUP_DECL = 4
S_ENTITY = 5
S_DOCTYPE = 6
S_DOCTYPE_ENTITY = 7
S_COMMENT = 8
S_CDATA = 9
S_PROC_INST = 10
S_PROC_INST_VAL = 11
S_OPEN_TAG = 12
S_OPEN_SLASH = 13
S_ATTRIB = 14
S_ATTRIB_NAME = 15
S_ATTRIB_NAME_WS = 16
S_ATTRIB_VAL = 17
S_ATTRIB_VAL_Q = 18
S_ATTRIB_VAL_CLOSED = 19
S_ATTRIB_VAL_UNQ = 20
S_CLOSE_TAG = 21
S_JSX = 22
S_SKIP_WS = 23


def _last_gl(buf: bytes, end: int) -> int:
    i = end - 1
    stop = max(end - 4, 0)
    while i > stop and 0x80 <= buf[i] < 0xC0:
        i -= 1
    return end - i


def _tuof(buf, n, regex, targets, cursor, include):
    """take_until_one_found (cursor.py semantics, single-write).

    Returns (kind, cursor, lcp, last_byte, found):
    kind 0 = None-return (no state change), 1 = precheck hit (no state
    change; last_byte = the previous byte), 2 = committed scan.
    last_byte mirrors span[-1] of the reference return value.
    """
    if cursor == n:
        return (0, cursor, 0, -1, False)
    idx = cursor - 1 if cursor else 0
    if buf[idx] in targets:
        return (1, cursor, 0, buf[idx], True)
    start = cursor
    m = regex.search(buf, start)
    if m is not None:
        pos = m.start()
        if pos == start and not include:
            return (0, cursor, 0, -1, False)
        matched = buf[pos]
        if include:
            return (2, pos + 1, pos, matched, True)
        # span excludes the match: last byte is buf[pos-1]
        ln = GL[matched]
        lcp = pos - ln if pos >= ln else 0
        return (2, pos, lcp, buf[pos - 1], True)
    if start == n:
        return (0, cursor, 0, -1, False)
    ln = _last_gl(buf, n)
    return (2, n, n - ln, buf[n - 1], False)


def _tu(buf, n, target, cursor, include):
    """take_until (cursor.py semantics, single-write, clean buffer).

    Returns (kind, cursor, lcp, last_byte, nonempty)."""
    if cursor == n:
        return (0, cursor, 0, -1, False)
    start = cursor
    pos = buf.find(target, start)
    if pos >= 0:
        if include:
            return (2, pos + 1, pos, target, True)
        ln = GL[buf[pos]]
        lcp = pos - ln if pos >= ln else 0
        return (2, pos, lcp, buf[pos - 1] if pos > start else -1, pos > start)
    ln = _last_gl(buf, n) if n > start else 0
    return (2, n, n - ln if n >= ln else 0, buf[n - 1] if n > start else -1, n > start)


def _skipws(buf, n, cursor):
    """skip_whitespace (cursor.py:skip_whitespace). Returns (cursor, lcp, done)."""
    m = RE_NON_WS.search(buf, cursor)
    pos = m.start() if m else n
    return (pos, pos - 1 if pos else 0, pos < n)


def _mat(val, buf, h0, h1):
    """Text.hydrate materialization (tag.rs:121-137): (value, emit_ok)."""
    if h0 > h1:
        return val, len(val) > 0
    if h1 > h0:
        return val + buf[h0:h1], True
    if h0 > 0:
        return val + buf[h0 : h0 + 1], True
    return val, True


def _gvs(val, buf, n, h0, h1):
    """Text.get_value_slice (tag.rs:102-119): (value, new_h0, new_h1)."""
    if h0 > h1 or h1 > n:
        return val, h0, h1
    if h1 > h0:
        return val + buf[h0:h1], 0, 0
    if h0 > 0 and h0 == h1:
        return val + buf[h0 : h0 + 1], 0, 0
    return val, 0, 0


def _name_of(buf, e):
    """Tag.get_name_slice for stack comparison (tag.rs:35-49)."""
    nm = e[2]
    if nm:
        return nm
    h0, h1 = e[0], e[1]
    if h0 < h1:
        return buf[h0:h1]
    return b""


def _name_mat(buf, e):
    """Tag name materialization at emission (tag.rs:62-78)."""
    nm = e[2] or b""
    h0, h1 = e[0], e[1]
    if h0 > h1:
        return nm
    if h1 > h0:
        return nm + buf[h0:h1]
    if h0 > 0:
        return nm + buf[h0 : h0 + 1]
    return nm


def scan(data: bytes, events: int, anchors: int):  # noqa: C901, PLR0912, PLR0915
    """Flat event rows for one single-write document, or None → use FSM.

    With ``anchors`` 1 the position slots hold ints only: (byte anchor,
    k) pairs for ``resolve_positions``, and 0 in the slots a text-like
    row leaves None. With ``anchors`` 0 they hold the final
    positions-off values: 0, or None."""
    buf = data
    n = len(buf)
    if not buf.isascii():
        try:
            buf.decode("utf-8")
        except UnicodeDecodeError:
            return None

    ev_text = events & 1
    ev_pi = events & 2
    ev_decl = events & 4
    ev_doctype = events & 8
    ev_comment = events & 16
    ev_ots = events & 32
    ev_attr = events & 64
    ev_ot = events & 128
    ev_ct = events & 256
    ev_cdata = events & 512
    want_text = ev_text or ev_ct
    # the k of a (byte anchor, k) position pair; 0 with anchors off
    k1 = anchors and 1
    k2 = anchors and 2
    k4 = anchors and 4
    k9 = anchors and 9
    # the open_end/close_start slots of a text-like row: None, or 0 so
    # that anchor rows are all-int (the callers of resolve_positions
    # put the None back, by event code)
    nil = 0 if anchors else None

    rows: list[tuple] = []
    append = rows.append
    seq = 0

    cursor = 0
    lcp = 0
    state = S_BEGIN
    brace_ct = 0
    quote = 0

    # pending text; tx_sa = start anchor
    tx_on = False
    tx_val = b""
    tx_h0 = 0
    tx_h1 = 0
    tx_b0 = 0
    tx_sa = 0

    # stack entries / current tag: [h0, h1, name|None, b0, b1 (the open
    # '>', also the open-end anchor), start anchor, close-start anchor]
    tags: list[list] = []
    tg = [0, 0, None, 0, 0, 0, 0]

    # attribute: [nh0, nh1, vh0, vh1, atype, b0, name-start anchor (k 1),
    #             name-end anchor, value-start anchor, value-start k,
    #             value-end anchor]
    at = [0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]

    # close-tag capture
    cl_h0 = 0
    cl_h1 = 0

    # markup decl; md_sa = start anchor (k 4 for comments, 9 otherwise)
    md_on = False
    md_val = b""
    md_h0 = 0
    md_h1 = 0
    md_b0 = 0
    md_b1 = 0
    md_sa = 0
    me_on = False
    me_h0 = 0
    me_h1 = 0
    me_b0 = 0
    me_sa = me_sk = 0

    # proc inst; pi_te = target-end anchor (k 1), pi_cs = content start
    pi_b0 = 0
    pi_th0 = pi_th1 = 0
    pi_ch0 = pi_ch1 = 0
    pi_te = pi_cs = 0

    # BOM handled before the loop (saves a per-grapheme `first` check;
    # the BOM grapheme's own lcp is never observed — the next iteration
    # overwrites it)
    state = S_BEGIN_WS
    if buf[:3] == b"\xef\xbb\xbf":
        cursor = 3

    while cursor < n:
        b0 = buf[cursor]
        if b0 < 0x80:
            # ASCII fast path: no length table, no truncation guard
            lcp = cursor
            cursor += 1
        else:
            gend = cursor + GL[b0]
            if gend > n:
                return None  # cannot happen on valid UTF-8; defensive
            lcp = cursor
            cursor = gend

        # inner redispatch loop: a handler that chains into another
        # handler on the SAME grapheme sets `state` and loops again
        while True:
            st = state

            # ---------------- BEGIN_WS ----------------
            if st == S_BEGIN_WS:
                if b0 == 0x0A:
                    state = S_SKIP_WS
                    # fuse the SKIP_WS round-trip (one outer iteration
                    # + one dispatch per inter-tag newline): bulk-skip
                    # the whitespace run and redispatch the next
                    # grapheme straight back into BEGIN_WS
                    if cursor >= n:
                        break
                    g = buf[cursor]
                    if g > 32:
                        gl2 = GL[g] if g >= 0x80 else 1
                        if cursor + gl2 > n:
                            break
                        lcp = cursor
                        cursor += gl2
                        # SKIP_WS done-arm: reset pending text AFTER the
                        # grapheme consume (mirrors the stepping order)
                        if tx_on:
                            tx_val = b""
                            tx_h0 = cursor
                            tx_sa = cursor
                        state = S_BEGIN_WS
                        b0 = g
                        continue
                    m = RE_NON_WS.search(buf, cursor)
                    if m is None:
                        lcp = n - 1 if n else 0
                        cursor = n
                        break  # EOF inside whitespace: stay SKIP_WS
                    cursor = m.start()
                    lcp = cursor - 1 if cursor else 0
                    # SKIP_WS done-arm (bulk): reset pending text BEFORE
                    # the next grapheme consume (cursor at the non-ws)
                    if tx_on:
                        tx_val = b""
                        tx_h0 = cursor
                        tx_sa = cursor
                    state = S_BEGIN_WS
                    nb = buf[cursor]
                    gl2 = GL[nb] if nb >= 0x80 else 1
                    if cursor + gl2 > n:
                        break
                    lcp = cursor
                    cursor += gl2
                    b0 = nb
                    continue
                if b0 == 0x3C:
                    tg = [0, 0, None, 0, 0, lcp, 0]
                    state = S_LT
                    # fuse next(): consume the grapheme after '<' and
                    # chain straight into the LT handler
                    if cursor < n:
                        b0 = buf[cursor]
                        gl = GL[b0] if b0 >= 0x80 else 1
                        if cursor + gl <= n:
                            lcp = cursor
                            cursor += gl
                            continue
                    break
                if not tx_on and want_text:
                    tx_on = True
                    tx_val = b""
                    tx_h0 = lcp
                    tx_h1 = lcp
                    tx_b0 = lcp
                    tx_sa = lcp
                # new_text only sets state; this grapheme is NOT re-run
                # through the text handler (parser.rs:1213-1222 returns)
                state = S_TEXT
                break

            # ---------------- LT ----------------
            if st == S_LT:
                # pending text flushes at byte fl_off ('<'); its end
                # position is (cursor, k 2)
                fl_off = lcp - 1 if lcp >= 1 else 0
                is_name = (
                    (0x61 <= b0 <= 0x7A)
                    or (0x41 <= b0 <= 0x5A)
                    or b0 == 0x3A
                    or b0 == 0x5F
                    or (b0 > 0x7F and is_name_start_char(buf[lcp:cursor]))
                )
                if is_name:
                    tg[0] = lcp
                    tg[1] = cursor
                    state = S_OPEN_TAG
                    if tx_on:
                        tx_on = False
                        if ev_text and not (tx_h0 == fl_off and not tx_val):
                            h0 = tx_h0
                            ok = True
                            if fl_off > h0:
                                val = tx_val + buf[h0:fl_off]
                            elif h0 > fl_off:
                                val = tx_val
                                ok = len(val) > 0
                            elif h0 > 0:
                                val = tx_val + buf[h0 : h0 + 1]
                            else:
                                val = tx_val
                            if ok:
                                append((0, seq, None, val, None, None, None, None,
                                        None, None, anchors and tx_sa, 0,
                                        anchors and cursor, k2, nil,
                                        nil, nil, nil, tx_b0, fl_off))
                                seq += 1
                    continue  # redispatch into OPEN_TAG
                if b0 == 0x21:  # '!'
                    state = S_MARKUP_DECL
                    md_on = True
                    md_b0 = cursor - 2 if cursor >= 2 else 0
                    md_h0 = cursor - 1 if cursor >= 1 else 0
                    md_h1 = cursor
                    md_val = b"<"
                    md_b1 = 0
                    # ---- fused comment / CDATA classification ----
                    # emulates consuming the classifier graphemes ('--' or
                    # '[CDATA[', all ASCII) exactly as markup_decl would
                    # (parser.rs:630-692), then scans for the exact
                    # terminator in one step; bails with nothing extra
                    # consumed on EOF. The pending text must flush FIRST
                    # (the FSM flushes at the end of less_than, before any
                    # further grapheme is consumed).
                    if tx_on:
                        tx_on = False
                        if ev_text and not (tx_h0 == fl_off and not tx_val):
                            h0 = tx_h0
                            ok = True
                            if fl_off > h0:
                                val = tx_val + buf[h0:fl_off]
                            elif h0 > fl_off:
                                val = tx_val
                                ok = len(val) > 0
                            elif h0 > 0:
                                val = tx_val + buf[h0 : h0 + 1]
                            else:
                                val = tx_val
                            if ok:
                                append((0, seq, None, val, None, None, None, None,
                                        None, None, anchors and tx_sa, 0,
                                        anchors and cursor, k2, nil, nil,
                                        nil, nil, tx_b0, fl_off))
                                seq += 1
                    nxt2 = buf[cursor : cursor + 2]
                    if nxt2 == b"--":
                        cursor += 2
                        md_sa = cursor
                        md_val = b""
                        md_h0 = cursor
                        md_h1 = 0
                        md_b1 = cursor - 4 if cursor >= 4 else 0
                        state = S_COMMENT
                        epos = buf.find(b"-->", cursor)
                        if epos >= 0:
                            body = buf[md_h0:epos]
                            cursor = epos + 3
                            lcp = cursor - 1
                            if ev_comment:
                                append((4, seq, None, body, None, None, None,
                                        None, None, None, anchors and md_sa, k4,
                                        anchors and cursor, 0,
                                        nil, nil, nil, nil, md_b0, cursor))
                                seq += 1
                            md_on = False
                            md_val = b""
                            state = S_BEGIN_WS
                    elif nxt2 == b"[C" or nxt2 == b"[c":
                        if buf[cursor : cursor + 7].lower() == b"[cdata[":
                            cursor += 7
                            md_sa = cursor
                            md_b1 = cursor - 9 if cursor >= 9 else 0
                            md_val = b""
                            md_h0 = cursor
                            md_h1 = 0
                            state = S_CDATA
                            epos = buf.find(b"]]>", cursor)
                            if epos >= 0:
                                body = buf[md_h0:epos]
                                cursor = epos + 3
                                lcp = cursor - 1
                                if ev_cdata:
                                    append((9, seq, None, body, None, None, None,
                                            None, None, None, anchors and md_sa, k9,
                                            anchors and cursor, 0,
                                            nil, nil, nil, nil, md_b0, cursor))
                                    seq += 1
                                md_on = False
                                md_val = b""
                                state = S_BEGIN_WS
                elif b0 == 0x2F:  # '/'
                    state = S_CLOSE_TAG
                    tg[6] = lcp - 1  # the '<'
                    cl_h0 = lcp
                    cl_h1 = 0
                    # fuse next(): chain straight into the close-tag
                    # handler for the grapheme after '/'
                    if tx_on:
                        tx_on = False
                        if ev_text and not (tx_h0 == fl_off and not tx_val):
                            h0 = tx_h0
                            ok = True
                            if fl_off > h0:
                                val = tx_val + buf[h0:fl_off]
                            elif h0 > fl_off:
                                val = tx_val
                                ok = len(val) > 0
                            elif h0 > 0:
                                val = tx_val + buf[h0 : h0 + 1]
                            else:
                                val = tx_val
                            if ok:
                                append((0, seq, None, val, None, None, None, None,
                                        None, None, anchors and tx_sa, 0,
                                        anchors and cursor, k2, nil, nil,
                                        nil, nil, tx_b0, fl_off))
                                seq += 1
                    if cursor < n:
                        b0 = buf[cursor]
                        gl = GL[b0] if b0 >= 0x80 else 1
                        if cursor + gl <= n:
                            lcp = cursor
                            cursor += gl
                            continue
                    break
                elif b0 == 0x3F:  # '?'
                    state = S_PROC_INST
                    pi_th0 = lcp - 1 if lcp >= 1 else 0
                    pi_th1 = cursor
                    pi_b0 = cursor - 2 if cursor >= 2 else 0
                    pi_ch0 = pi_ch1 = 0
                    pi_te = pi_cs = 0
                elif b0 == 0x3E:  # '>' : JSX fragment
                    if tx_on:
                        tx_on = False
                        if ev_text and not (tx_h0 == fl_off and not tx_val):
                            h0 = tx_h0
                            ok = True
                            if fl_off > h0:
                                val = tx_val + buf[h0:fl_off]
                            elif h0 > fl_off:
                                val = tx_val
                                ok = len(val) > 0
                            elif h0 > 0:
                                val = tx_val + buf[h0 : h0 + 1]
                            else:
                                val = tx_val
                            if ok:
                                append((0, seq, None, val, None, None, None, None,
                                        None, None, anchors and tx_sa, 0,
                                        anchors and cursor, k2, nil,
                                        nil, nil, nil, tx_b0, fl_off))
                                seq += 1
                    # process_open_tag(False) on the current tag entry,
                    # which is stale when '<' came from text
                    tg[4] = cursor
                    if ev_ot:
                        nm = _name_mat(buf, tg)
                        tg[2] = nm
                        tg[0] = tg[1] = 0
                        append((7, seq, nm.decode("utf-8", "replace"), None, None,
                                None, None, False, None, None, anchors and tg[5], 0,
                                0, 0, anchors and tg[4], 0, anchors and tg[6], 0,
                                tg[3], tg[4]))
                        seq += 1
                    tags.append(tg)
                    tg = [0, 0, None, 0, 0, 0, 0]
                    state = S_BEGIN_WS
                    break
                else:
                    # '< foo' is text, not a tag
                    if not tx_on and want_text:
                        tx_on = True
                        tx_val = b""
                        tx_h0 = lcp
                        tx_h1 = lcp
                        tx_b0 = lcp
                        tx_sa = cursor
                    state = S_TEXT
                    break
                # '!', '/', '?' arms flush pending text at the end
                if tx_on:
                    tx_on = False
                    if not (tx_h0 == fl_off and not tx_val):
                        val, ok = _mat(tx_val, buf, tx_h0, fl_off)
                        if ev_text and ok:
                            append((0, seq, None, val, None, None, None, None,
                                    None, None, anchors and tx_sa, 0,
                                    anchors and cursor, k2, nil, nil,
                                    nil, nil, tx_b0, fl_off))
                            seq += 1
                break

            # ---------------- OPEN_TAG ----------------
            if st == S_OPEN_TAG:
                tg[3] = cursor - 2 if cursor >= 2 else 0
                # the reference's column is two units before the cursor:
                # the '<', or mid-surrogate after a 4-byte name start
                tg[5] = lcp if b0 >= 0xF0 else lcp - 1
                byte = b0
                if byte not in TAG_NAME_END:
                    m = RE_TAG_NAME_END.search(buf, cursor)
                    if m is not None:
                        # common case inlined (the precheck cannot hit:
                        # the current grapheme is not a terminator)
                        pos = m.start()
                        matched = buf[pos]
                        lcp = pos
                        cursor = pos + 1
                        byte = matched
                        tg[1] = lcp
                    else:
                        k, cursor2, lcp2, lastb, found = _tuof(
                            buf, n, RE_TAG_NAME_END, TAG_NAME_END, cursor, True
                        )
                        if k == 2:
                            cursor, lcp = cursor2, lcp2
                            byte = lastb
                            tg[1] = lcp if found else cursor
                        else:
                            tg[1] = lcp
                if ev_ots:
                    nm = _name_mat(buf, tg)
                    tg[2] = nm
                    tg[0] = tg[1] = 0
                    append((5, seq, nm.decode("utf-8", "replace"), None, None,
                            None, None, False, None, None, anchors and tg[5], 0,
                            0, 0, anchors and tg[4], 0, anchors and tg[6], 0,
                            tg[3], tg[4]))
                    seq += 1
                if byte == 0x3E:
                    tg[4] = cursor
                    if ev_ot:
                        nm = _name_mat(buf, tg)
                        tg[2] = nm
                        tg[0] = tg[1] = 0
                        append((7, seq, nm.decode("utf-8", "replace"), None, None,
                                None, None, False, None, None, anchors and tg[5], 0,
                                0, 0, anchors and tg[4], 0, anchors and tg[6], 0,
                                tg[3], tg[4]))
                        seq += 1
                    tags.append(tg)
                    tg = [0, 0, None, 0, 0, 0, 0]
                    state = S_BEGIN_WS
                elif byte == 0x2F:
                    state = S_OPEN_SLASH
                elif byte in (0x20, 0x09, 0x0A, 0x0D):
                    state = S_ATTRIB
                break

            # ---------------- CLOSE_TAG ----------------
            if st == S_CLOSE_TAG:
                byte = b0
                if byte != 0x3E:
                    # _tuof(RE_CLOSE_END, "> ", include=True) inlined
                    # (kind 1 precheck ⟺ byte==' ' since '>' is handled
                    # above; kind 0 ⟺ the dispatched char was the last)
                    start = lcp
                    if byte == 0x20:
                        cl_h0 = start
                        cl_h1 = cursor - 1
                    elif cursor == n:
                        cl_h0 = start
                        cl_h1 = cursor
                    else:
                        m = RE_CLOSE_END.search(buf, cursor)
                        if m is not None:
                            pos = m.start()
                            byte = buf[pos]
                            lcp = pos
                            cursor = pos + 1
                            cl_h0 = start
                            cl_h1 = pos
                        else:
                            byte = buf[n - 1]
                            lcp = n - _last_gl(buf, n)
                            cursor = n
                            cl_h0 = start
                            cl_h1 = n
                if byte == 0x3E:
                    # ---- process_close_tag ----
                    state = S_BEGIN_WS
                    h0 = cl_h0
                    h1 = cl_h1
                    if h1 > h0:
                        close_name = buf[h0:h1]
                    elif h0 > h1 or h0 == 0:
                        close_name = b""
                    else:
                        close_name = buf[h0 : h0 + 1]
                    cl_h0 = cl_h1 = 0
                    found_i = -1
                    for i in range(len(tags) - 1, -1, -1):
                        if _name_of(buf, tags[i]) == close_name:
                            found_i = i
                            break
                    if found_i < 0:
                        # orphan close → text, flushed at once
                        if not tx_on:
                            tx_b0 = 0
                        tx_on = False
                        if ev_text:
                            append((0, seq, None, b"</" + close_name + b">", None,
                                    None, None, None, None, None, anchors and tg[6],
                                    0, anchors and cursor, 0, nil,
                                    nil, nil, nil, tx_b0, 0))
                            seq += 1
                        break
                    if not ev_ct:
                        keep = found_i if found_i > 1 else 1
                        del tags[keep:]
                        break
                    # the tags this close implies end at (0, 0) with their
                    # open '>' as byte end; the matched one ends here
                    while len(tags) > found_i + 1:
                        e2 = tags.pop()
                        nm = _name_mat(buf, e2)
                        append((8, seq, nm.decode("utf-8", "replace"), None, None,
                                None, None, False, None, None, anchors and e2[5], 0,
                                0, 0, anchors and e2[4], 0, anchors and e2[6], 0,
                                e2[3], e2[4]))
                        seq += 1
                    e = tags.pop()
                    nm = _name_mat(buf, e)
                    append((8, seq, nm.decode("utf-8", "replace"), None, None,
                            None, None, False, None, None, anchors and e[5], 0,
                            anchors and cursor, 0, anchors and e[4], 0,
                            anchors and tg[6], 0, e[3], cursor))
                    seq += 1
                    break
                if byte == 0x20:
                    cursor, lcp, _d = _skipws(buf, n, cursor)
                break

            # ---------------- TEXT ----------------
            if st == S_TEXT:
                if b0 == 0x3C:
                    state = S_LT
                    break
                # ---- fused text-run loop ----
                # A multi-line text run used to cost one outer iteration
                # per line ('\n' flush → SKIP_WS → BEGIN_WS → TEXT).
                # This loop performs the whole cycle inline — newline
                # flush at byte fpos, whitespace skip, text restart — and
                # only returns to the outer loop at '<' or EOF. Every
                # committed step is exactly what the stepping handlers
                # would have committed.
                if b0 == 0x0A:
                    fpos = lcp
                    do_nl = True
                else:
                    do_nl = False
                redisp = False
                while True:
                    if do_nl:
                        do_nl = False
                        # newline flushes text at byte fpos (_mat inlined;
                        # skipped entirely when Text events are off — the
                        # hydrate has no side effects)
                        if tx_on:
                            tx_on = False
                            if ev_text and not (tx_h0 == fpos and not tx_val):
                                h0 = tx_h0
                                ok = True
                                if fpos > h0:
                                    val = tx_val + buf[h0:fpos]
                                elif h0 > fpos:
                                    val = tx_val
                                    ok = len(val) > 0
                                elif h0 > 0:
                                    val = tx_val + buf[h0 : h0 + 1]
                                else:
                                    val = tx_val
                                if ok:
                                    append((0, seq, None, val, None, None, None, None,
                                            None, None, anchors and tx_sa, 0,
                                            anchors and fpos, 0, nil, nil,
                                            nil, nil, tx_b0, fpos))
                                    seq += 1
                        state = S_SKIP_WS
                        if cursor >= n:
                            break
                        g = buf[cursor]
                        if g <= 32:
                            m = RE_NON_WS.search(buf, cursor)
                            if m is None:
                                lcp = n - 1 if n else 0
                                cursor = n
                                break  # EOF inside whitespace: stay SKIP_WS
                            cursor = m.start()
                            lcp = cursor - 1 if cursor else 0
                            g = buf[cursor]
                        # consume the first non-ws grapheme (SKIP_WS
                        # done-arm; its tx reset is a no-op — the text
                        # was just flushed) and run BEGIN_WS inline
                        gl2 = GL[g] if g >= 0x80 else 1
                        if cursor + gl2 > n:
                            break
                        lcp = cursor
                        cursor += gl2
                        state = S_BEGIN_WS
                        if g == 0x3C:
                            b0 = g
                            redisp = True  # BEGIN_WS '<' fusion
                            break
                        # BEGIN_WS text restart, inline
                        if want_text:
                            tx_on = True
                            tx_val = b""
                            tx_h0 = lcp
                            tx_h1 = lcp
                            tx_b0 = lcp
                            tx_sa = lcp
                        state = S_TEXT
                        # ---- emulate the DISPATCH of the next grapheme
                        # (the restart grapheme itself is never re-run
                        # through the text handler, parser.rs:1213-1222,
                        # and a directly-dispatched '<' / EOF must NOT
                        # touch tx_h1 — the reference's one-byte
                        # hydrate quirk depends on it) ----
                        if cursor >= n:
                            break  # EOF right after restart: quirk flush
                        y = buf[cursor]
                        if y == 0x3C:
                            lcp = cursor
                            cursor += 1
                            state = S_LT
                            break  # direct-dispatch arm: no tx_h1 update
                        gly = GL[y] if y >= 0x80 else 1
                        if cursor + gly > n:
                            break
                        if y == 0x0A:
                            lcp = cursor
                            cursor += 1
                            fpos = lcp
                            do_nl = True
                            continue
                        lcp = cursor
                        cursor += gly
                        # fall through: bulk scan from after y, exactly
                        # as a TEXT dispatch of y would
                    # take_until_one_found(TEXT_END, False), inlined
                    m = RE_TEXT_END.search(buf, cursor)
                    if m is not None:
                        pos = m.start()
                        if buf[pos] == 0x3C:
                            if pos != cursor:
                                lcp = pos - 1
                                cursor = pos
                            if tx_on:
                                tx_h1 = cursor
                            # fuse the '<' step (parser.rs:586-589):
                            # consume it; the following grapheme
                            # dispatches into LT
                            lcp = cursor
                            cursor += 1
                            state = S_LT
                            break
                        # '\n': consume it inline and loop
                        fpos = pos
                        lcp = pos
                        cursor = pos + 1
                        do_nl = True
                        continue
                    if cursor < n:
                        lcp = n - _last_gl(buf, n)
                        cursor = n
                    if tx_on:
                        tx_h1 = cursor
                    break
                if redisp:
                    continue  # redispatch '<' into BEGIN_WS
                break

            # ---------------- ATTRIB ----------------
            if st == S_ATTRIB:
                if b0 < 33:
                    # FSM consumes one ws grapheme per call with no side
                    # effects; intermediate lcp values are dead, so
                    # bulk-skip the whole run
                    m = RE_NON_WS.search(buf, cursor)
                    pos = m.start() if m else n
                    if pos > cursor:
                        lcp = pos - 1
                        cursor = pos
                    break
                at[5] = cursor - 1 if cursor >= 1 else 0
                if b0 == 0x3E:
                    state = -1  # handled by shared open-tag emit below
                elif b0 == 0x2F:
                    state = S_OPEN_SLASH
                    break
                else:
                    at[0] = lcp
                    at[6] = cursor
                    # ---- fused fast path: whole attribute lists ----
                    # loops over name="value" pairs and their separators;
                    # every committed step is exactly what the stepping
                    # FSM would have committed; any deviation bails with
                    # the correct state and redispatches
                    redispatch = False
                    while True:
                        if b0 in ATTRIBUTE_NAME_END:
                            state = S_ATTRIB_NAME
                            redispatch = True
                            break
                        m = RE_ATTR_NAME_END.search(buf, cursor)
                        if m is None or buf[m.start()] != 0x3D:
                            state = S_ATTRIB_NAME
                            redispatch = True
                            break
                        pos = m.start()
                        if pos > cursor:
                            cursor = pos
                        at[1] = at[7] = cursor
                        # consume '=' (name.end stays; header.1 untouched)
                        cursor += 1
                        if cursor >= n:
                            state = S_ATTRIB_VAL
                            break
                        q = buf[cursor]
                        if q != 0x22 and q != 0x27:
                            state = S_ATTRIB_VAL
                            break
                        # consume the opening quote
                        cursor += 1
                        at[2] = at[8] = cursor
                        at[4] = 8 if q == 0x22 else 4
                        cpos = buf.find(q, cursor)
                        if cpos < 0:
                            quote = q
                            state = S_ATTRIB_VAL_Q
                            break
                        # value span + closing quote
                        lcp = at[10] = cpos
                        cursor = cpos + 1
                        h1 = cursor - 1
                        if h1 == at[2]:
                            at[3] = h1 - 1 if h1 >= 1 else 0
                        else:
                            at[3] = h1
                        # _mat(name) / _mat(value) inlined on the hot
                        # attribute path; skipped when Attribute events
                        # are off (the hydrate has no side effects)
                        if ev_attr:
                            h0 = at[0]
                            h1 = at[1]
                            if h1 > h0:
                                nval = buf[h0:h1]
                                nok = True
                            elif h0 > h1:
                                nval = b""
                                nok = False
                            elif h0 > 0:
                                nval = buf[h0 : h0 + 1]
                                nok = True
                            else:
                                nval = b""
                                nok = True
                            h0 = at[2]
                            h1 = at[3]
                            if h1 > h0:
                                vval = buf[h0:h1]
                                vok = True
                            elif h0 > h1:
                                vval = b""
                                vok = False
                            elif h0 > 0:
                                vval = buf[h0 : h0 + 1]
                                vok = True
                            else:
                                vval = b""
                                vok = True
                            if nok or vok:
                                append((6, seq, None, None, nval,
                                        vval, at[4], None, None, None,
                                        anchors and at[6], k1, anchors and at[10], 0,
                                        anchors and at[7], 0, anchors and at[8],
                                        anchors and at[9], at[5], cursor))
                                seq += 1
                        at = [0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
                        quote = 0
                        state = S_ATTRIB_VAL_CLOSED
                        # ---- separator peek (VAL_CLOSED arms inline) ----
                        if cursor >= n:
                            break
                        sep = buf[cursor]
                        if sep == 0x3E:  # '>' closes the tag
                            lcp = cursor
                            cursor += 1
                            tg[4] = cursor
                            if ev_ot:
                                nm = _name_mat(buf, tg)
                                tg[2] = nm
                                tg[0] = tg[1] = 0
                                append((7, seq, nm.decode("utf-8", "replace"),
                                        None, None, None, None, False, None, None,
                                        anchors and tg[5], 0, 0, 0, anchors and tg[4],
                                        0, anchors and tg[6], 0, tg[3], tg[4]))
                                seq += 1
                            tags.append(tg)
                            tg = [0, 0, None, 0, 0, 0, 0]
                            state = S_BEGIN_WS
                            break
                        if sep < 33:
                            # one ws grapheme: VAL_CLOSED -> ATTRIB
                            lcp = cursor
                            cursor += 1
                            state = S_ATTRIB
                            # ATTRIB ws arm: bulk-skip remaining ws
                            if cursor < n and buf[cursor] <= 32:
                                m2 = RE_NON_WS.search(buf, cursor)
                                pos2 = m2.start() if m2 else n
                                lcp = pos2 - 1
                                cursor = pos2
                            if cursor >= n:
                                break
                            nb = buf[cursor]
                            gl2 = GL[nb] if nb >= 0x80 else 1
                            if cursor + gl2 > n:
                                break
                            # consume the next grapheme (ATTRIB dispatch)
                            lcp = cursor
                            cursor += gl2
                            at[5] = cursor - 1 if cursor >= 1 else 0
                            if nb == 0x3E:
                                tg[4] = cursor
                                if ev_ot:
                                    nm = _name_mat(buf, tg)
                                    tg[2] = nm
                                    tg[0] = tg[1] = 0
                                    append((7, seq, nm.decode("utf-8", "replace"),
                                            None, None, None, None, False, None, None,
                                            anchors and tg[5], 0, 0, 0,
                                            anchors and tg[4], 0, anchors and tg[6], 0,
                                            tg[3], tg[4]))
                                    seq += 1
                                tags.append(tg)
                                tg = [0, 0, None, 0, 0, 0, 0]
                                state = S_BEGIN_WS
                                break
                            if nb == 0x2F:
                                state = S_OPEN_SLASH
                                break
                            at[0] = lcp
                            at[6] = cursor
                            b0 = nb
                            state = S_ATTRIB_NAME
                            continue  # next attribute
                        if sep == 0x2F:
                            lcp = cursor
                            cursor += 1
                            state = S_OPEN_SLASH
                            break
                        # no-space next attribute (VAL_CLOSED else arm)
                        gl2 = GL[sep] if sep >= 0x80 else 1
                        if cursor + gl2 > n:
                            break
                        lcp = cursor
                        cursor += gl2
                        at[0] = lcp
                        at[5] = lcp
                        at[6] = cursor
                        b0 = sep
                        state = S_ATTRIB_NAME
                        continue  # next attribute
                    if redispatch:
                        continue  # redispatch current grapheme
                    break  # fused loop fully handled this span
                # process_open_tag(False) — '>' in attrib position
                tg[4] = cursor
                if ev_ot:
                    nm = _name_mat(buf, tg)
                    tg[2] = nm
                    tg[0] = tg[1] = 0
                    append((7, seq, nm.decode("utf-8", "replace"), None, None,
                            None, None, False, None, None, anchors and tg[5], 0,
                            0, 0, anchors and tg[4], 0, anchors and tg[6], 0,
                            tg[3], tg[4]))
                    seq += 1
                tags.append(tg)
                tg = [0, 0, None, 0, 0, 0, 0]
                state = S_BEGIN_WS
                break

            # ---------------- ATTRIB_NAME ----------------
            if st == S_ATTRIB_NAME:
                if b0 == 0x3D:  # '='
                    # sets name.end only — header.1 is deliberately left
                    # alone (parser.rs:942-946)
                    at[7] = lcp
                    state = S_ATTRIB_VAL
                    break
                if b0 == 0x3E:
                    # name.h1 left as-is (mirrors FSM: header.1 not set
                    # on this path → hydrate uses stale h1);
                    # process_attribute then process_open_tag
                    at[7] = lcp
                    nval, nok = _mat(b"", buf, at[0], at[1])
                    vval, vok = _mat(b"", buf, at[2], at[3])
                    if ev_attr and (nok or vok):
                        append((6, seq, None, None, nval, vval, at[4], None,
                                None, None, anchors and at[6], k1, anchors and at[10], 0,
                                anchors and at[7], 0, anchors and at[8],
                                anchors and at[9], at[5], cursor))
                        seq += 1
                    at = [0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
                    tg[4] = cursor
                    if ev_ot:
                        nm = _name_mat(buf, tg)
                        tg[2] = nm
                        tg[0] = tg[1] = 0
                        append((7, seq, nm.decode("utf-8", "replace"), None, None,
                                None, None, False, None, None, anchors and tg[5], 0,
                                0, 0, anchors and tg[4], 0, anchors and tg[6], 0,
                                tg[3], tg[4]))
                        seq += 1
                    tags.append(tg)
                    tg = [0, 0, None, 0, 0, 0, 0]
                    state = S_BEGIN_WS
                    break
                if b0 < 33:
                    at[1] = at[7] = lcp
                    state = S_ATTRIB_NAME_WS
                    continue  # redispatch
                k, cursor2, lcp2, lastb, found = _tuof(
                    buf, n, RE_ATTR_NAME_END, ATTRIBUTE_NAME_END, cursor, False
                )
                if k == 2:
                    cursor, lcp = cursor2, lcp2
                at[1] = at[7] = cursor
                break

            # ---------------- ATTRIB_NAME_WS ----------------
            if st == S_ATTRIB_NAME_WS:
                if b0 < 33:
                    cursor, lcp, _d = _skipws(buf, n, cursor)
                    break
                if b0 != 0x3D:
                    # process_attribute (bare attribute)
                    nval, nok = _mat(b"", buf, at[0], at[1])
                    vval, vok = _mat(b"", buf, at[2], at[3])
                    if ev_attr and (nok or vok):
                        append((6, seq, None, None, nval, vval, at[4], None,
                                None, None, anchors and at[6], k1, anchors and at[10], 0,
                                anchors and at[7], 0, anchors and at[8],
                                anchors and at[9], at[5], cursor))
                        seq += 1
                    at = [0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
                if b0 == 0x3D:
                    state = S_ATTRIB_VAL
                    break
                if b0 == 0x2F:
                    state = S_OPEN_SLASH
                    break
                if b0 == 0x3E:
                    tg[4] = cursor
                    if ev_ot:
                        nm = _name_mat(buf, tg)
                        tg[2] = nm
                        tg[0] = tg[1] = 0
                        append((7, seq, nm.decode("utf-8", "replace"), None, None,
                                None, None, False, None, None, anchors and tg[5], 0,
                                0, 0, anchors and tg[4], 0, anchors and tg[6], 0,
                                tg[3], tg[4]))
                        seq += 1
                    tags.append(tg)
                    tg = [0, 0, None, 0, 0, 0, 0]
                    state = S_BEGIN_WS
                    break
                at[0] = lcp
                at[6] = cursor
                state = S_ATTRIB_NAME
                continue  # redispatch

            # ---------------- ATTRIB_VAL ----------------
            if st == S_ATTRIB_VAL:
                if b0 < 33:
                    m = RE_NON_WS.search(buf, cursor)
                    pos = m.start() if m else n
                    if pos > cursor:
                        lcp = pos - 1
                        cursor = pos
                    break
                at[2] = at[8] = cursor
                if b0 == 0x22 or b0 == 0x27:
                    quote = b0
                    state = S_ATTRIB_VAL_Q
                    at[4] = 8 if b0 == 0x22 else 4
                elif b0 == 0x7B:  # '{'
                    state = S_JSX
                    at[4] = 1
                    brace_ct += 1
                else:
                    at[2] = lcp
                    at[9] = 1
                    state = S_ATTRIB_VAL_UNQ
                    at[4] = 2
                    continue  # redispatch
                break

            # ---------------- ATTRIB_VAL_Q ----------------
            if st == S_ATTRIB_VAL_Q:
                if b0 == quote:
                    at[10] = lcp
                    h1 = cursor - 1 if cursor >= 1 else 0
                    if h1 == at[2]:
                        at[3] = h1 - 1 if h1 >= 1 else 0
                    else:
                        at[3] = h1
                    # process_attribute
                    nval, nok = _mat(b"", buf, at[0], at[1])
                    vval, vok = _mat(b"", buf, at[2], at[3])
                    if ev_attr and (nok or vok):
                        append((6, seq, None, None, nval, vval, at[4], None,
                                None, None, anchors and at[6], k1, anchors and at[10], 0,
                                anchors and at[7], 0, anchors and at[8],
                                anchors and at[9], at[5], cursor))
                        seq += 1
                    at = [0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
                    quote = 0
                    state = S_ATTRIB_VAL_CLOSED
                    break
                k, cursor2, lcp2, lastb, ne = _tu(buf, n, quote, cursor, False)
                if k == 2:
                    cursor, lcp = cursor2, lcp2
                at[3] = cursor
                break

            # ---------------- ATTRIB_VAL_CLOSED ----------------
            if st == S_ATTRIB_VAL_CLOSED:
                if b0 < 33:
                    state = S_ATTRIB
                    break
                if b0 == 0x3E:
                    tg[4] = cursor
                    if ev_ot:
                        nm = _name_mat(buf, tg)
                        tg[2] = nm
                        tg[0] = tg[1] = 0
                        append((7, seq, nm.decode("utf-8", "replace"), None, None,
                                None, None, False, None, None, anchors and tg[5], 0,
                                0, 0, anchors and tg[4], 0, anchors and tg[6], 0,
                                tg[3], tg[4]))
                        seq += 1
                    tags.append(tg)
                    tg = [0, 0, None, 0, 0, 0, 0]
                    state = S_BEGIN_WS
                    break
                if b0 == 0x2F:
                    state = S_OPEN_SLASH
                    break
                # attr.name.h0 = lcp; attr.b0 = name.b0 = lcp (chunk_offset 0)
                at[0] = lcp
                at[5] = lcp
                at[6] = cursor
                state = S_ATTRIB_NAME
                continue  # redispatch

            # ---------------- ATTRIB_VAL_UNQ ----------------
            if st == S_ATTRIB_VAL_UNQ:
                if b0 < 33:
                    cursor, lcp, _d = _skipws(buf, n, cursor)
                    break
                byte = b0
                if byte not in ATTRIBUTE_NAME_END:
                    attr_end = False
                    k, cursor2, lcp2, lastb, found = _tuof(
                        buf, n, RE_ATTR_VALUE_END, ATTRIBUTE_VALUE_END, cursor, False
                    )
                    if k != 0:
                        byte = lastb
                        attr_end = found
                        if k == 2:
                            cursor, lcp = cursor2, lcp2
                    at[3] = at[10] = cursor
                    if not attr_end and b0 != byte:
                        break
                # process_attribute
                nval, nok = _mat(b"", buf, at[0], at[1])
                vval, vok = _mat(b"", buf, at[2], at[3])
                if ev_attr and (nok or vok):
                    append((6, seq, None, None, nval, vval, at[4], None,
                            None, None, anchors and at[6], k1, anchors and at[10], 0,
                            anchors and at[7], 0, anchors and at[8],
                            anchors and at[9], at[5], cursor))
                    seq += 1
                at = [0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
                if byte == 0x2F:
                    state = S_OPEN_SLASH
                elif byte == 0x3E:
                    tg[4] = cursor
                    if ev_ot:
                        nm = _name_mat(buf, tg)
                        tg[2] = nm
                        tg[0] = tg[1] = 0
                        append((7, seq, nm.decode("utf-8", "replace"), None, None,
                                None, None, False, None, None, anchors and tg[5], 0,
                                0, 0, anchors and tg[4], 0, anchors and tg[6], 0,
                                tg[3], tg[4]))
                        seq += 1
                    tags.append(tg)
                    tg = [0, 0, None, 0, 0, 0, 0]
                    state = S_BEGIN_WS
                else:
                    state = S_ATTRIB
                break

            # ---------------- OPEN_SLASH ----------------
            if st == S_OPEN_SLASH:
                if b0 == 0x3E:
                    # process_open_tag(True): self-closing
                    tg[4] = cursor
                    nm = None
                    if ev_ot:
                        nm = _name_mat(buf, tg)
                        tg[2] = nm
                        tg[0] = tg[1] = 0
                        append((7, seq, nm.decode("utf-8", "replace"), None, None,
                                None, None, True, None, None, anchors and tg[5], 0,
                                0, 0, anchors and tg[4], 0, anchors and tg[6], 0,
                                tg[3], tg[4]))
                        seq += 1
                    if ev_ct:
                        if nm is None:
                            nm = _name_mat(buf, tg)
                            tg[2] = nm
                            tg[0] = tg[1] = 0
                        append((8, seq, nm.decode("utf-8", "replace"), None, None,
                                None, None, True, None, None, anchors and tg[5], 0,
                                0, 0, anchors and tg[4], 0, anchors and tg[6], 0,
                                tg[3], tg[4]))
                        seq += 1
                    tg = [0, 0, None, 0, 0, 0, 0]
                    state = S_BEGIN_WS
                    break
                state = S_ATTRIB
                break

            # ---------------- SKIP_WS ----------------
            if st == S_SKIP_WS:
                if b0 > 32:
                    done = True
                else:
                    cursor, lcp, done = _skipws(buf, n, cursor)
                if done:
                    if tx_on:
                        tx_val = b""
                        tx_h0 = cursor
                        tx_sa = cursor
                    state = S_BEGIN_WS
                    if b0 > 32:
                        continue  # redispatch current grapheme
                    # fuse: consume the first non-ws grapheme inline and
                    # redispatch into BEGIN_WS (saves an outer iteration)
                    nb = buf[cursor]
                    gl2 = GL[nb] if nb >= 0x80 else 1
                    if cursor + gl2 > n:
                        break
                    lcp = cursor
                    cursor += gl2
                    b0 = nb
                    continue
                break

            # ---------------- MARKUP_DECL ----------------
            if st == S_MARKUP_DECL:
                if b0 not in ENTITY_CAPTURE_END:
                    k, cursor2, lcp2, lastb, found = _tuof(
                        buf, n, RE_ENTITY_CAPTURE_END, ENTITY_CAPTURE_END, cursor, False
                    )
                    if k == 2:
                        cursor, lcp = cursor2, lcp2
                md_h1 = cursor
                md_b1 = cursor
                md_val, md_h0, md_h1 = _gvs(md_val, buf, n, md_h0, md_h1)
                sl_len = len(md_val)
                if sl_len >= 4 and md_val[:4] == b"<!--":
                    md_sa = cursor
                    md_val = b""
                    md_h0 = cursor
                    md_h1 = 0
                    md_b1 = cursor - 4 if cursor >= 4 else 0
                    state = S_COMMENT
                    break
                if sl_len >= 9 and md_val[:9].lower() == b"<![cdata[":
                    md_sa = cursor
                    md_b1 = cursor - 9 if cursor >= 9 else 0
                    md_val = b""
                    md_h0 = cursor
                    md_h1 = 0
                    state = S_CDATA
                    break
                if sl_len >= 9 and md_val[:9].lower() == b"<!doctype":
                    md_sa = cursor
                    md_b1 = cursor - 9 if cursor >= 9 else 0
                    cursor, lcp, _d = _skipws(buf, n, cursor)
                    md_val = b""
                    md_h0 = cursor
                    md_h1 = 0
                    state = S_DOCTYPE
                    break
                btc = md_val[:3] if sl_len > 2 else md_val
                if btc != b"<!-" and btc != b"<![" and not (
                    len(btc) == 3 and btc.lower() == b"<!d"
                ):
                    me_on = True
                    me_sa = cursor
                    me_sk = 2
                    me_b0 = 0
                    cursor, lcp, _d = _skipws(buf, n, cursor)
                    me_h0 = cursor
                    me_h1 = 0
                    state = S_ENTITY
                    md_on = False
                else:
                    md_h0 = cursor
                    md_h1 = 0
                break

            # ---------------- COMMENT ----------------
            if st == S_COMMENT:
                if b0 != 0x3E:
                    k, cursor2, lcp2, lastb, ne = _tu(buf, n, 0x3E, cursor, True)
                    if k == 2:
                        cursor, lcp = cursor2, lcp2
                md_h1 = cursor
                md_b1 = cursor
                md_val, md_h0, md_h1 = _gvs(md_val, buf, n, md_h0, md_h1)
                if len(md_val) > 2 and md_val[-3:] == b"-->":
                    if ev_comment:
                        append((4, seq, None, md_val[:-3], None, None, None, None,
                                None, None, anchors and md_sa, k4, anchors and cursor, 0,
                                nil, nil, nil, nil, md_b0, md_b1))
                        seq += 1
                    md_on = False
                    md_val = b""
                    state = S_BEGIN_WS
                else:
                    md_h0 = cursor
                    md_h1 = 0
                break

            # ---------------- CDATA ----------------
            if st == S_CDATA:
                if b0 != 0x3E:
                    k, cursor2, lcp2, lastb, ne = _tu(buf, n, 0x3E, cursor, True)
                    if k == 2:
                        cursor, lcp = cursor2, lcp2
                md_h1 = cursor
                md_b1 = cursor
                md_val, md_h0, md_h1 = _gvs(md_val, buf, n, md_h0, md_h1)
                if len(md_val) > 2 and md_val[-3:] == b"]]>":
                    if ev_cdata:
                        append((9, seq, None, md_val[:-3], None, None, None, None,
                                None, None, anchors and md_sa, k9, anchors and cursor, 0,
                                nil, nil, nil, nil, md_b0, md_b1))
                        seq += 1
                    state = S_BEGIN_WS
                    md_val = b""
                    md_on = False
                else:
                    md_h0 = cursor
                    md_h1 = 0
                break

            # ---------------- DOCTYPE / DOCTYPE_ENTITY ----------------
            if st == S_DOCTYPE or st == S_DOCTYPE_ENTITY:
                byte = b0
                if st != S_DOCTYPE_ENTITY and byte not in DOCTYPE_VALUE_END:
                    k, cursor2, lcp2, lastb, found = _tuof(
                        buf, n, RE_DOCTYPE_VALUE_END, DOCTYPE_VALUE_END, cursor, True
                    )
                    if k != 0:
                        byte = lastb
                        if k == 2:
                            cursor, lcp = cursor2, lcp2
                    md_h1 = cursor
                    md_b1 = cursor
                if byte not in DOCTYPE_END:
                    k, cursor2, lcp2, lastb, found = _tuof(
                        buf, n, RE_DOCTYPE_END, DOCTYPE_END, cursor, True
                    )
                    if k != 0:
                        byte = lastb
                        if k == 2:
                            cursor, lcp = cursor2, lcp2
                if byte == 0x21:  # '!'
                    state = S_ENTITY
                    me_on = True
                    me_sa = cursor
                    me_sk = 0
                    me_h0 = cursor
                    me_h1 = 0
                    me_b0 = cursor
                    break
                if byte == 0x3E:
                    val, ok = _mat(md_val, buf, md_h0, md_h1)
                    md_val = b""
                    md_on = False
                    if ev_doctype and ok:
                        append((3, seq, None, val[:-1] if val else val, None,
                                None, None, None, None, None, anchors and md_sa, k9,
                                anchors and cursor, 0,
                                nil, nil, nil, nil, md_b0, md_b1))
                        seq += 1
                    state = S_BEGIN_WS
                break

            # ---------------- ENTITY ----------------
            if st == S_ENTITY:
                byte = b0
                if byte != 0x3E:
                    k, cursor2, lcp2, lastb, ne = _tu(buf, n, 0x3E, cursor, True)
                    if k == 2:
                        cursor, lcp = cursor2, lcp2
                        if ne:
                            byte = lastb
                if byte == 0x3E:
                    me_h1 = cursor - 1 if cursor >= 1 else 0
                    me_b1 = cursor - 1 if cursor >= 1 else 0
                    me_on = False
                    if ev_decl:
                        val, ok = _mat(b"", buf, me_h0, me_h1)
                        if ok:
                            # reference dispatches declarations with the
                            # Cdata event code (parser.rs:822-823)
                            append((9, seq, None, val, None, None, None, None,
                                    None, None, anchors and me_sa, anchors and me_sk,
                                    anchors and cursor, k1, nil, nil,
                                    nil, nil, me_b0, me_b1))
                            seq += 1
                    state = S_DOCTYPE_ENTITY if md_on else S_BEGIN_WS
                    cursor, lcp, _d = _skipws(buf, n, cursor)
                break

            # ---------------- PROC_INST ----------------
            if st == S_PROC_INST:
                byte = b0
                if byte not in PROC_INST_TARGET_END:
                    k, cursor2, lcp2, lastb, found = _tuof(
                        buf, n, RE_PROC_TARGET_END, PROC_INST_TARGET_END, cursor, True
                    )
                    if k != 0:
                        byte = lastb
                        if k == 2:
                            cursor, lcp = cursor2, lcp2
                pi_th1 = cursor
                if byte == 0x3E:
                    # process_proc_inst
                    state = S_BEGIN_WS
                    if ev_pi:
                        tval, _tok = _mat(b"", buf, pi_th0, pi_th1)
                        cval, _cok = _mat(b"", buf, pi_ch0, pi_ch1)
                        tval = tval[2:]
                        cval = cval[: len(cval) - 2] if len(cval) >= 2 else b""
                        append((1, seq, None, None, None, None, None, None,
                                tval, cval, anchors and pi_b0, 0, anchors and cursor, 0,
                                anchors and pi_te, k1, anchors and pi_cs, 0,
                                pi_b0, cursor))
                        seq += 1
                elif byte < 33:
                    pi_th1 = cursor - 1 if cursor >= 1 else 0
                    pi_te = cursor
                    cursor, lcp, _d = _skipws(buf, n, cursor)
                    pi_cs = cursor
                    pi_ch0 = cursor
                    pi_ch1 = 0
                    state = S_PROC_INST_VAL
                break

            # ---------------- PROC_INST_VAL ----------------
            if st == S_PROC_INST_VAL:
                byte = b0
                if byte != 0x3E:
                    k, cursor2, lcp2, lastb, ne = _tu(buf, n, 0x3E, cursor, True)
                    if k == 2:
                        cursor, lcp = cursor2, lcp2
                        if ne:
                            byte = lastb
                pi_ch1 = cursor
                if byte != 0x3E:
                    break
                state = S_BEGIN_WS
                if ev_pi:
                    tval, _tok = _mat(b"", buf, pi_th0, pi_th1)
                    cval, _cok = _mat(b"", buf, pi_ch0, pi_ch1)
                    tval = tval[2:]
                    cval = cval[: len(cval) - 2] if len(cval) >= 2 else b""
                    append((1, seq, None, None, None, None, None, None,
                            tval, cval, anchors and pi_b0, 0, anchors and cursor, 0,
                            anchors and pi_te, k1, anchors and pi_cs, 0,
                            pi_b0, cursor))
                    seq += 1
                break

            # ---------------- JSX ----------------
            if st == S_JSX:
                if b0 == 0x7D:
                    brace_ct -= 1
                elif b0 == 0x7B:
                    brace_ct += 1
                if brace_ct == 0:
                    at[3] = at[10] = lcp
                    nval, nok = _mat(b"", buf, at[0], at[1])
                    vval, vok = _mat(b"", buf, at[2], at[3])
                    if ev_attr and (nok or vok):
                        append((6, seq, None, None, nval, vval, at[4], None,
                                None, None, anchors and at[6], k1, anchors and at[10], 0,
                                anchors and at[7], 0, anchors and at[8],
                                anchors and at[9], at[5], cursor))
                        seq += 1
                    at = [0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
                    state = S_ATTRIB_VAL_CLOSED
                    break
                k, cursor2, lcp2, lastb, found = _tuof(buf, n, RE_BRACES, b"{}", cursor, False)
                if k == 2:
                    cursor, lcp = cursor2, lcp2
                break

            # ---------------- BEGIN (only if BOM handling fell through) --
            if st == S_BEGIN:
                state = S_BEGIN_WS
                continue

            break  # unknown state guard

    # EOF: identity() flush — chunk_offset is now len(data)
    if tx_on:
        # end-of-write hydrate materializes the streamed span first
        val, _ok = _mat(tx_val, buf, tx_h0, tx_h1)
        if val:
            if ev_text:
                rows.append((0, seq, None, val, None, None, None, None, None,
                             None, anchors and tx_sa, 0, anchors and n, 0, nil,
                             nil, nil, nil, tx_b0, n))
                seq += 1
    return rows


def resolve_positions(docs: list[bytes], pos: np.ndarray, row_doc=None) -> None:
    """Map the kernel's (byte anchor, k) position pairs to (line, UTF-16
    column), in place.

    ``pos`` is a (2, 4, rows) int64 block over the start, end, open_end
    and close_start positions of ``scan(…, 1)`` rows: ``pos[0]`` holds
    their byte anchors, ``pos[1]`` the k UTF-16 units to step back. They
    become the line (newlines before the anchor) and the column (units
    from the line start to the anchor, minus k, clamped at 0).
    ``row_doc`` gives each row's index in ``docs`` (None: one document);
    a row with -1 already carries positions (an FSM fallback row) and is
    left as it is."""
    buf = b"".join(docs)
    # offsets at which a line starts: 0 and every byte after a newline
    starts = np.flatnonzero(np.frombuffer(b"\n" + buf, np.uint8) == 10)
    anchor, back = pos
    if row_doc is None:
        rows = slice(None)
        count = starts.searchsorted(anchor, "right")
        line0 = 1
        line_start = starts[count - 1]
    else:
        rows = np.flatnonzero(row_doc >= 0)
        doc_starts = np.zeros(len(docs), np.int64)
        np.cumsum([len(d) for d in docs[:-1]], out=doc_starts[1:])
        base = doc_starts[row_doc[rows]]
        anchor = anchor[:, rows] + base
        count = starts.searchsorted(anchor, "right")
        line0 = starts.searchsorted(base, "right")
        line_start = np.maximum(starts[count - 1], base)
    if buf.isascii():
        col = anchor - line_start
    else:
        units = np.zeros(len(buf) + 1, np.int64)
        np.cumsum(UNITS[np.frombuffer(buf, np.uint8)], out=units[1:])
        col = units[anchor] - units[line_start]
    col -= back[:, rows]
    back[:, rows] = np.maximum(col, 0, out=col)
    pos[0][:, rows] = count - line0


# event codes whose rows leave open_end/close_start None: Text,
# Declaration, Doctype, Comment and Cdata (declarations reuse its code)
TEXT_LIKE = np.zeros(16, bool)
TEXT_LIKE[[0, 2, 3, 4, 9]] = True


def parse_doc(data: bytes, events: int):
    """Flat event rows for one single-write document, or None → use FSM."""
    rows = scan(data, events, 1)
    if not rows:
        return rows
    n = len(rows)
    cols = list(zip(*rows))
    # line slots (anchors) then char slots (k), as a (2, 4, n) block
    packed = struct.pack(f"{8 * n}q", *chain(*cols[10:18:2], *cols[11:18:2]))
    pos = np.frombuffer(packed, np.int64).reshape(2, 4, n).copy()
    resolve_positions([data], pos)
    out = pos.astype(object)
    out[:, 2:, TEXT_LIKE[np.fromiter(cols[0], np.int64, n)]] = None
    cols[10:18:2], cols[11:18:2] = out.tolist()
    return list(zip(*cols))


def fsm_rows(data: bytes, events: int) -> list[tuple]:
    """The streaming FSM's rows for one single-write document."""
    collector = EventCollector()
    parser = SaxParser(events=events, handler=collector)
    parser.write(data)
    parser.end()
    return collector.rows


def parse_doc_flat(data: bytes, events: int) -> list[tuple]:
    """Fast path with automatic FSM fallback — always correct."""
    rows = parse_doc(data, events)
    if rows is not None:
        return rows
    return fsm_rows(data, events)

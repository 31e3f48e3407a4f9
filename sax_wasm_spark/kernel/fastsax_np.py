"""Positions-off entry points: the extraction-pipeline hot path.

``parse_doc_np(data, events)`` emits the SAME flat event rows as
``fastsax.parse_doc`` — same codes, names, values, attribute types,
self-closing flags, and BYTE offsets — with every line/character
position field emitted as 0 (None slots stay None). It is the one fast
scanning loop, ``fastsax.scan``, run with its anchors off: no
position pass runs. The boilerplate extractor (operators/extract.py)
consumes only codes, names, values, self_closing, and byte offsets, so
this is the mode it runs in.

Returns None when the document is outside the fast profile (invalid
UTF-8) — callers fall back to the streaming FSM exactly like
fastsax.parse_doc_flat does.
"""

from __future__ import annotations

from .fastsax import fsm_rows, scan


def parse_doc_np(data: bytes, events: int):
    """Flat event rows with zeroed positions, or None → use the FSM."""
    return scan(data, events, 0)


def parse_doc_flat_np(data: bytes, events: int) -> list[tuple]:
    """Positions-off fast path with automatic FSM fallback (the FSM
    rows carry real positions — a superset; consumers of this entry
    point must not rely on position fields either way)."""
    rows = scan(data, events, 0)
    if rows is not None:
        return rows
    return fsm_rows(data, events)

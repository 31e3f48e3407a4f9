"""Spark tokenizer operator: html bytes → SAX event rows.

Design (SURVEY.md §1.6/§3.4): the corpus is a DataFrame; each row's
``html`` binary cell is one reference byte-stream. The kernel runs
inside ``mapInArrow`` (Arrow-batched, iterator API — the fast Python
lane per the input_hint's "no per-row Python UDFs"), emitting the flat
event schema of FIXTURES.md §2 one row per event.

Why exploded-flat rather than array<struct>: the downstream relational
operators (explode/filter/agg/window in SURVEY.md §2.4) all want events
as rows, and flat columns keep the Arrow transfer columnar and cheap.
Per-document event order is carried by an explicit ``event_idx`` column
because shuffles do not preserve row order.

The per-task memory is bounded: one document's parser state + one Arrow
batch (``spark.sql.execution.arrow.maxRecordsPerBatch``) — the analogue
of the reference's fixed WASM linear memory (saxWasm.ts:794).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..kernel.collect import ALL_EVENTS, EventCollector
from ..kernel.fastsax import TEXT_LIKE, fsm_rows, parse_doc_flat, resolve_positions, scan
from ..kernel.fastsax_np import parse_doc_flat_np
from ..kernel.saxkernel import SaxParser
from .rows import map_rows

_EVENT_FIELDS = [
    StructField("event", IntegerType(), False),
    StructField("event_idx", IntegerType(), False),
    StructField("name", StringType(), True),
    StructField("value", BinaryType(), True),
    StructField("attr_name", BinaryType(), True),
    StructField("attr_value", BinaryType(), True),
    StructField("attr_type", IntegerType(), True),
    StructField("self_closing", BooleanType(), True),
    StructField("target", BinaryType(), True),
    StructField("content", BinaryType(), True),
    StructField("line_start", LongType(), True),
    StructField("char_start", LongType(), True),
    StructField("line_end", LongType(), True),
    StructField("char_end", LongType(), True),
    StructField("open_end_line", LongType(), True),
    StructField("open_end_char", LongType(), True),
    StructField("close_start_line", LongType(), True),
    StructField("close_start_char", LongType(), True),
    StructField("byte_start", LongType(), True),
    StructField("byte_end", LongType(), True),
]

_COLS = [f.name for f in _EVENT_FIELDS]


def event_schema(id_fields: list[StructField]) -> StructType:
    return StructType(list(id_fields) + _EVENT_FIELDS)


def tokenize_events(
    df: DataFrame,
    html_col: str = "html",
    id_cols: tuple[str, ...] = ("url",),
    events: int = ALL_EVENTS,
    chunk_size: int = 0,
    positions: bool = True,
) -> DataFrame:
    """One output row per SAX event, flat columns (FIXTURES.md §2).

    ``chunk_size`` > 0 streams each document through the parser in
    fixed-size writes (event values are identical; used for streaming-
    parity tests). The id columns are repeated per event row.

    Line/char positions are derived once per Arrow batch: the kernel
    emits byte anchors and ``fastsax.resolve_positions`` maps the whole
    batch's anchor columns in one vectorized pass (FSM fallback rows
    already carry positions and pass through). ``positions=False``
    skips that pass and writes 0 into every line/char column (null
    where a row has no open_end/close_start), for every row including
    FSM fallbacks; byte offsets stay exact — the Python-stage analogue
    of column pruning. Pass it whenever downstream never reads the
    position columns (the extractor and the event-histogram/text/
    attribute queries); the position surface itself is oracle-checked
    by sax_positions, which keeps the default.

    Output batches are built as pyarrow RecordBatches directly
    (``mapInArrow``): the kernel's row tuples are transposed once and
    handed to ``pa.array`` (C-level), skipping the round-1
    pandas-DataFrame intermediate and its object-dtype inference +
    pandas→Arrow reconversion on every batch.
    """
    import numpy as np  # noqa: PLC0415
    import pyarrow as pa  # noqa: PLC0415

    from pyspark.sql.pandas.types import to_arrow_type  # noqa: PLC0415

    id_fields = [df.schema[c] for c in id_cols]
    out_schema = event_schema(id_fields)
    arrow_fields = [
        pa.field(f.name, to_arrow_type(f.dataType), f.nullable) for f in out_schema.fields
    ]
    arrow_schema = pa.schema(arrow_fields)
    n_id = len(id_cols)
    src = df.select(*id_cols, html_col)

    def run(batches):
        collector = EventCollector()
        for rb in batches:
            htmls = rb.column(n_id).to_pylist()
            ids = [rb.column(j).to_pylist() for j in range(n_id)]
            out_ids: list[list] = [[] for _ in range(n_id)]
            out_rows: list[tuple] = []
            docs: list[bytes] = []  # documents whose rows carry anchors
            row_doc: list[int] = []  # per row: index in docs, -1 = positions
            for i, data in enumerate(htmls):
                if data is None:
                    continue
                if isinstance(data, (bytearray, memoryview)):
                    data = bytes(data)
                doc = -1
                if chunk_size and chunk_size < len(data):
                    # streaming-parity mode: feed the FSM in fixed chunks
                    collector.reset()
                    parser = SaxParser(events=events, handler=collector)
                    for o in range(0, len(data), chunk_size):
                        parser.write(data[o : o + chunk_size])
                    parser.end()
                    rows = collector.rows
                elif positions:
                    # hot path: single-shot kernel w/ automatic FSM fallback
                    rows = scan(data, events, 1)
                    if rows is None:
                        rows = fsm_rows(data, events)
                    else:
                        doc = len(docs)
                        docs.append(data)
                else:
                    rows = parse_doc_flat_np(data, events)
                if rows:
                    for j in range(n_id):
                        out_ids[j].extend([ids[j][i]] * len(rows))
                    out_rows.extend(rows)
                    if positions:
                        row_doc.extend([doc] * len(rows))
            n = len(out_rows)
            if out_rows:
                cols = list(zip(*out_rows))
            else:
                cols = [[] for _ in _COLS]
            no_open_end = TEXT_LIKE[np.fromiter(cols[0], np.int64, n)]
            # (line or char, position, row): the 8 line/char columns
            pos = np.zeros((2, 4, n), np.int64)
            if positions:
                for k in range(10, 18):
                    pos[k % 2, (k - 10) // 2] = (
                        pa.array(cols[k], pa.int64()).fill_null(0).to_numpy()
                    )
                if docs:
                    resolve_positions(docs, pos, np.array(row_doc, np.int64))
            arrays = (
                [pa.array(out_ids[j], type=arrow_fields[j].type) for j in range(n_id)]
                + [pa.array(cols[k], type=arrow_fields[n_id + k].type) for k in range(10)]
                + [
                    pa.array(pos[k % 2, (k - 10) // 2], mask=no_open_end if k >= 14 else None)
                    for k in range(10, 18)
                ]
                + [pa.array(cols[k], type=arrow_fields[n_id + k].type) for k in (18, 19)]
            )
            yield pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)

    return src.mapInArrow(run, schema=out_schema)


def tokenize_nested(
    df: DataFrame,
    html_col: str = "html",
    id_cols: tuple[str, ...] = ("url",),
    events: int = ALL_EVENTS,
) -> DataFrame:
    """Nested variant (SURVEY.md §1.6): one row per document with an
    ``events array<struct<...>>`` column. Prefer ``tokenize_events`` for
    analytics (flat columns transfer faster through Arrow); this shape
    suits per-document consumers that want the whole stream in one cell.
    """
    id_fields = [df.schema[c] for c in id_cols]
    out_schema = StructType(
        list(id_fields) + [StructField("events", ArrayType(StructType(_EVENT_FIELDS)), False)]
    )

    def row(*vals):
        *ids, data = vals
        # the kernel's event tuples are the struct values, in field order
        return [] if data is None else [(*ids, parse_doc_flat(data, events))]

    return map_rows(df.select(*id_cols, html_col), row, out_schema)

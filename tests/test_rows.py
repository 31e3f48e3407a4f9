"""The one batch contract for row-at-a-time Python stages
(``operators/rows.map_rows``) and the ratchet that keeps it the only one."""

import pathlib

import pytest

from sax_wasm_spark.kernel.collect import ALL_EVENTS
from sax_wasm_spark.kernel.fastsax import parse_doc_flat
from sax_wasm_spark.operators.rows import map_rows
from sax_wasm_spark.operators.tokenize import _EVENT_FIELDS
from sax_wasm_spark.sources.pages import build_page, synthesize_pages

_PKG = pathlib.Path(__file__).resolve().parent.parent / "sax_wasm_spark"
_DOC = b'<a x="1">hi<b/>\n<!-- c --></a>'


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _empty_batch(spark):
    df = spark.createDataFrame([], "x long")
    out = map_rows(df, lambda x: [(x, "never")], "x long, s string")
    return [f.name for f in out.schema.fields] + _rows(out), ["x", "s"]


def _row_yields_nothing(spark):
    df = spark.createDataFrame([(1,), (2,), (3,)], "x long")
    out = map_rows(df, lambda x: [] if x % 2 else [(x, x * 10)], "x long, y int")
    return _rows(out), [(2, 20)]


def _fan_out(spark):
    df = spark.createDataFrame([(2,), (0,), (3,)], "n long")
    out = map_rows(df, lambda n: ((n, k) for k in range(n)), "n long, k int")
    return _rows(out), [(2, 0), (2, 1), (3, 0), (3, 1), (3, 2)]


def _none_in_nullable_output(spark):
    df = spark.createDataFrame([(1,), (2,)], "x long")
    out = map_rows(
        df,
        lambda x: [(x, None if x == 1 else "v", None, b"b" if x == 2 else None)],
        "x long, s string, i int, b binary",
    )
    return _rows(out), [(1, None, None, None), (2, "v", None, bytearray(b"b"))]


def _tuple_wider_than_schema_fails(spark):
    df = spark.createDataFrame([(1,)], "x long")
    out = map_rows(df, lambda x: [(x, "extra")], "x long")
    with pytest.raises(Exception, match="zip"):
        out.collect()
    return "raised", "raised"


def _array_of_struct_from_tuples(spark):
    from pyspark.sql.types import ArrayType, BinaryType, StructField, StructType

    schema = StructType(
        [
            StructField("html", BinaryType(), False),
            StructField("events", ArrayType(StructType(_EVENT_FIELDS)), False),
        ]
    )
    df = spark.createDataFrame([(_DOC,)], "html binary")
    out = map_rows(df, lambda h: [(h, parse_doc_flat(h, ALL_EVENTS))], schema)
    (row,) = out.collect()
    return [tuple(e) for e in row.events], parse_doc_flat(_DOC, ALL_EVENTS)


def _session_zone_timestamps(spark):
    # mapInPandas read build_page's naive datetime as session-zone wall
    # time; the instant Spark stores must not move with the port
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        got = sorted(
            (r.url, r.ts)
            for r in synthesize_pages(spark, 40, partitions=2)
            .selectExpr("url", "CAST(warc_ts AS STRING) AS ts")
            .collect()
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    want = sorted(
        (url, ts.strftime("%Y-%m-%d %H:%M:%S")) for url, ts, *_ in map(build_page, range(40))
    )
    return got, want


@pytest.mark.parametrize(
    "case",
    [
        _empty_batch,
        _row_yields_nothing,
        _fan_out,
        _none_in_nullable_output,
        _tuple_wider_than_schema_fails,
        _array_of_struct_from_tuples,
        _session_zone_timestamps,
    ],
    ids=lambda c: c.__name__.lstrip("_"),
)
def test_map_rows_contract(spark, case):
    got, want = case(spark)
    assert got == want


def test_no_map_in_pandas_under_package():
    """Every row-at-a-time stage goes through ``map_rows``; a new
    pandas batch loop must not quietly regrow."""
    hits = [
        f"{p.relative_to(_PKG.parent)}:{i}"
        for p in sorted(_PKG.rglob("*.py"))
        for i, line in enumerate(p.read_text(encoding="utf-8").splitlines(), 1)
        if "mapInPandas(" in line
    ]
    assert hits == []


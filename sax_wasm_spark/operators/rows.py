"""One Arrow batch contract for every row-at-a-time Python stage.

``map_rows(df, fn, schema)`` runs ``fn`` once per input row inside
``mapInArrow``: each batch's columns are read with ``to_pylist()`` (binary
cells arrive as ``bytes``, longs as ``int``), ``fn(*row_values)`` yields
zero or more output tuples, and the outputs are transposed once into one
``pa.array`` per output field. ``fn`` owns its error policy (drop the row,
emit an ``error:…`` status row, or raise); the helper catches nothing.

Stages that build whole columns in bulk (the extractor, the event
tokenizer, the WARC reader, the PDF tier) keep their own ``mapInArrow``
loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType


def map_rows(df: DataFrame, fn, schema: StructType | str) -> DataFrame:
    """``df`` → ``schema`` rows, ``fn(*row)`` yielding tuples in
    ``schema`` order. As on Spark's pandas path (``mapInPandas``), a
    naive ``datetime`` is wall time in ``spark.sql.session.timeZone``
    (the later instant of an ambiguous hour)."""
    from datetime import UTC  # noqa: PLC0415
    from zoneinfo import ZoneInfo  # noqa: PLC0415

    import pyarrow as pa  # noqa: PLC0415

    from pyspark.sql.pandas.types import to_arrow_schema  # noqa: PLC0415

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    if any(pa.types.is_timestamp(f.type) for f in arrow_schema):
        zone = ZoneInfo(df.sparkSession.conf.get("spark.sql.session.timeZone"))

    def column(values, t):
        if pa.types.is_timestamp(t):  # pa.array ignores a non-UTC tzinfo's offset
            values = [
                None if v is None
                else (v if v.tzinfo else v.replace(tzinfo=zone, fold=1)).astimezone(UTC)
                for v in values
            ]
        return pa.array(values, type=t)

    def run(batches):
        for rb in batches:
            ins = [c.to_pylist() for c in rb.columns]
            rows = [out for row in zip(*ins) for out in fn(*row)]
            cols = list(zip(*rows)) or [()] * len(arrow_schema)
            yield pa.RecordBatch.from_arrays(
                [column(v, f.type) for v, f in zip(cols, arrow_schema, strict=True)],
                schema=arrow_schema,
            )

    return df.mapInArrow(run, schema=schema)

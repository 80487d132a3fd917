"""The one Python batch loop every row-local operator runs in.

The reference runs native code as one call per input that returns rows
or a typed error (``lib.rs:10-43``). Here an operator prunes its input
to (key, value, *carried) columns and supplies a row function
``fn(key, value)`` that returns or yields output row tuples matching
``fields`` (``[(name, arrow_type)]``); zero rows is allowed, and error
rows are ordinary rows. :func:`row_stage` owns the rest: one
``mapInArrow`` (one Python call per Arrow batch, never per row), the
``to_pylist`` of key and value, per-document transposition into column
lists, the key and carried columns taken verbatim from the input batch,
one ``from_arrays`` per flush, and the Spark schema derived from
``fields``. Output columns: the key, the ``fields``, then the carried
columns.

Output is flushed by size: after ``FLUSH_ROWS`` rows or ``FLUSH_BYTES``
of string/binary values held, and at the end of each input batch. A row
function that yields from one GiB blob (the WARC walk) therefore keeps
worker memory at about one record.

This module does not import the parser, so sources can use it too.
"""

from __future__ import annotations

from typing import Callable, Iterable, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StructField, StructType

FLUSH_ROWS = 4096
FLUSH_BYTES = 64 * 1024 * 1024

Fields = list[tuple[str, pa.DataType]]


def row_stage(
    df: DataFrame, fn: Callable[..., Iterable[tuple]], fields: Fields
) -> DataFrame:
    """``df`` (key, value, *carried) → (key, *fields, *carried): one
    narrow ``mapInArrow`` stage running ``fn(key, value)`` per input
    row. The key and carried columns keep their own Spark types."""
    in_fields = df.schema.fields
    schema = StructType(
        [StructField(in_fields[0].name, in_fields[0].dataType)]
        + from_arrow_schema(pa.schema(fields)).fields
        + [StructField(f.name, f.dataType) for f in in_fields[2:]]
    )

    def stage(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        return row_batches(batches, fn, fields)

    return df.mapInArrow(stage, schema)


def row_batches(
    batches: Iterator[pa.RecordBatch],
    fn: Callable[..., Iterable[tuple]],
    fields: Fields,
) -> Iterator[pa.RecordBatch]:
    """The batch loop of :func:`row_stage`, Spark-free."""
    types = [t for _, t in fields]
    sized = [j for j, t in enumerate(types) if t in (pa.string(), pa.binary())]
    for batch in batches:
        names = [batch.schema.names[0], *(n for n, _ in fields),
                 *batch.schema.names[2:]]
        src: list[int] = []  # input row of each output row
        cols: list[list] = [[] for _ in types]

        def add(i: int, rows: list[tuple]) -> None:
            # transpose per document: row tuples held for a whole batch
            # measurably slow the cyclic GC on node-per-row views
            src.extend([i] * len(rows))
            for col, vals in zip(cols, zip(*rows)):
                col.extend(vals)
            rows.clear()

        def flush() -> pa.RecordBatch:
            take = pa.array(src, pa.int64())
            out = pa.RecordBatch.from_arrays(
                [batch.column(0).take(take)]
                + [pa.array(c, t) for c, t in zip(cols, types)]
                + [batch.column(j).take(take)
                   for j in range(2, batch.num_columns)],
                names=names,
            )
            src.clear()
            for c in cols:
                c.clear()
            return out

        held = 0
        keys = batch.column(0).to_pylist()
        values = batch.column(1).to_pylist()
        for i, (key, value) in enumerate(zip(keys, values)):
            rows: list[tuple] = []
            for row in fn(key, value):
                rows.append(row)
                for j in sized:
                    held += len(row[j] or "")
                if len(src) + len(rows) >= FLUSH_ROWS or held >= FLUSH_BYTES:
                    add(i, rows)
                    yield flush()
                    held = 0
            add(i, rows)
        if src:
            yield flush()

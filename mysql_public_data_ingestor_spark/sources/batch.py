"""Ingest batches: one poll is one ``pyarrow.Table`` whose columns are
the plugin schema's, in its order and with its Arrow types.

This is the only place source values are coerced to the declared
schema. The JSON decode, the spool replay and hand-built test batches
all go through ``rows_to_table``, and Spark takes the table as it is
(``spark.createDataFrame(table, schema=schema)``), with no per-row
serialization and no pandas frame in between.

Coercion picks one conversion per column, not per cell. It first lets
Arrow convert the whole column to its type. Arrow accepts what the
declared type already holds, plus JSON-widened integers in integer
columns (truncated, as ``int()`` does) and integers in double columns.
If Arrow refuses a column, every non-null cell of that column goes
through the schema type's Python cast instead: ``int()`` for integer
types, ``float()`` for doubles, ``bool()`` for booleans, and for
strings ``json.dumps`` of a list or dict (the JSON ``sensors`` column)
or ``str()`` of anything else. On every value JSON can produce, both
ways give the same cell.
"""

from __future__ import annotations

import json
from typing import Callable, Optional, Sequence

import pyarrow as pa
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


def _to_text(value) -> str:
    if isinstance(value, (list, dict)):
        return json.dumps(value)
    return str(value)


def _cast_for(dt: T.DataType) -> Optional[Callable]:
    """The Python cast of one non-null cell of a column of type ``dt``."""
    if isinstance(dt, (T.LongType, T.IntegerType)):
        return int
    if isinstance(dt, T.DoubleType):
        return float
    if isinstance(dt, T.BooleanType):
        return bool
    if isinstance(dt, T.StringType):
        return _to_text
    return None


def _column(values: Sequence, dt: T.DataType, arrow_type: pa.DataType) -> pa.Array:
    try:
        return pa.array(values, type=arrow_type)
    except (pa.ArrowInvalid, pa.ArrowTypeError, OverflowError):
        cast = _cast_for(dt)
        if cast is None:
            raise
    return pa.array([None if v is None else cast(v) for v in values], type=arrow_type)


def rows_to_table(rows: Sequence[Sequence], schema: T.StructType) -> pa.Table:
    """Ordered rows (tuples or lists) -> one table in ``schema``.

    A row shorter than the schema is padded with nulls and a longer one
    is cut to the schema's width. No rows give a zero-row table that
    still has every column.
    """
    arrow_schema = to_arrow_schema(schema)
    width = len(schema.fields)
    if any(len(r) != width for r in rows):
        pad = (None,) * width
        rows = [(tuple(r) + pad)[:width] for r in rows]
    columns = list(zip(*rows)) if rows else [()] * width
    arrays = [
        _column(col, f.dataType, af.type)
        for col, f, af in zip(columns, schema.fields, arrow_schema)
    ]
    return pa.Table.from_arrays(arrays, schema=arrow_schema)


def table_rows(table: pa.Table) -> list[tuple]:
    """The table's rows as tuples in column order (``[]`` if it has none)."""
    return list(zip(*(col.to_pylist() for col in table.columns)))

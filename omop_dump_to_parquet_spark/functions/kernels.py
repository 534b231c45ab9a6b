"""The package's Python kernels, over Arrow batches in and out.

Every Python kernel runs on ``mapInArrow``, or on ``applyInArrow``
where it needs whole groups. Two wrappers own the ``mapInArrow``
protocol:

- ``map_rows`` runs a pure function of one row's values, which returns
  zero or more output tuples, and carries the row's key onto them.
- ``map_batches`` runs a NumPy function of whole columns, once per
  batch.

Both read and write Arrow directly. NULL reaches a kernel as ``None``,
and a 64-bit integer stays an exact int: no value goes through pandas,
which widens a nullable ``long`` to ``float64``. Kernels are pickled by
value with the package, so they may call module-level helpers as long
as those are pure (no SparkSession, DataFrame or JVM handle).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructField, StructType


def numpy_column(column: pa.Array | pa.ChunkedArray) -> np.ndarray:
    """One Arrow column as NumPy, with no per-row objects where the
    values are numbers.

    A list of floats or doubles is an embedding column and becomes one
    ``(rows, width)`` float64 matrix. A NULL or ragged row raises
    ``ValueError``: the flattened values would no longer line up with
    the rows. Any other column with a NULL becomes an object array
    holding ``None`` there, so an integer stays exact; a column without
    NULLs keeps its own dtype (strings and bytes as objects).
    """
    if isinstance(column, pa.ChunkedArray):
        column = column.combine_chunks()
    kind = column.type
    if pa.types.is_list(kind) and pa.types.is_floating(kind.value_type):
        if column.null_count:
            raise ValueError(
                f"embedding column holds {column.null_count} NULL row(s); "
                "a vector kernel needs one vector per row"
            )
        widths = np.diff(column.offsets.to_numpy())
        width = widths[0] if len(widths) else 0
        if (widths != width).any():
            raise ValueError(
                f"ragged embedding column: widths {widths.min()} to "
                f"{widths.max()}; a vector kernel needs one fixed width"
            )
        values = column.flatten().to_numpy(zero_copy_only=False)
        return values.astype(np.float64).reshape(len(column), width)
    if column.null_count:
        return np.array(column.to_pylist(), dtype=object)
    return column.to_numpy(zero_copy_only=False)


def arrow_column(values, kind: pa.DataType) -> pa.Array:
    """A kernel's output column as Arrow of type ``kind``: an Arrow
    array cast, a 2-D matrix as one list per row, anything else
    through ``pa.array``."""
    if isinstance(values, pa.Array):
        return values.cast(kind)
    if isinstance(values, np.ndarray) and values.ndim == 2:
        rows, width = values.shape
        offsets = pa.array(np.arange(rows + 1, dtype=np.int32) * width)
        flat = pa.array(values.ravel(), type=kind.value_type)
        return pa.ListArray.from_arrays(offsets, flat, type=kind)
    return pa.array(values, type=kind)


def _batch(columns: Sequence, schema: pa.Schema) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [arrow_column(c, f.type) for c, f in zip(columns, schema)],
        schema=schema,
    )


def map_rows(
    df: DataFrame, fn: Callable[..., Iterable[tuple]], schema: str
) -> DataFrame:
    """Run ``fn`` on every row of ``df`` in one ``mapInArrow`` pass.

    The first column of ``df`` is the key; the remaining columns are
    passed to ``fn`` positionally, as Python values with NULL as
    ``None``. Each tuple ``fn`` returns is laid out as the DDL
    ``schema`` and is prefixed with the row's key, which keeps its name,
    type and exact value from ``df`` and stays nullable. ``fn`` owns its
    NULL policy: it may raise, return nothing or return NULL values.
    """
    key = df.schema.fields[0]
    out = StructType(
        [StructField(key.name, key.dataType), *DataType.fromDDL(schema).fields]
    )
    arrow = to_arrow_schema(out)

    def run(batches):
        for batch in batches:
            rows = [
                (k, *r)
                for k, *args in zip(*(c.to_pylist() for c in batch.columns))
                for r in fn(*args)
            ]
            if rows:
                yield _batch(list(zip(*rows)), arrow)

    return df.mapInArrow(run, out)


def map_batches(
    df: DataFrame, fn: Callable[..., Sequence], schema: str
) -> DataFrame:
    """Run ``fn`` on every non-empty Arrow batch of ``df`` in one
    ``mapInArrow`` pass.

    ``fn`` gets one ``numpy_column`` per column of ``df``, positionally,
    and returns one column per field of the DDL ``schema``, in order:
    NumPy arrays, 2-D matrices for array fields, Python lists or Arrow
    arrays. The output rows need not match the input rows, and ``None``
    emits none.
    """
    out = DataType.fromDDL(schema)
    arrow = to_arrow_schema(out)

    def run(batches):
        for batch in batches:
            if batch.num_rows:
                columns = fn(*map(numpy_column, batch.columns))
                if columns is not None:
                    yield _batch(columns, arrow)

    return df.mapInArrow(run, out)

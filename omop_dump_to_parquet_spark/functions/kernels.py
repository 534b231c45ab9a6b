"""One wrapper for per-row Python kernels over Arrow batches.

A row kernel is a pure function of one input row's values that returns
zero or more output tuples. ``map_rows`` owns the rest of the
``mapInPandas`` protocol: batch iteration, carrying each input row's
key onto its output rows, output column names and the output schema.
The kernel is pickled by value with the package, so it may call
module-level helpers as long as they are pure (no SparkSession,
DataFrame or JVM handle).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame
from pyspark.sql.types import DataType, StructField, StructType


def map_rows(
    df: DataFrame, fn: Callable[..., Iterable[tuple]], schema: str
) -> DataFrame:
    """Run ``fn`` on every row of ``df`` in one ``mapInPandas`` pass.

    The first column of ``df`` is the key; the remaining columns are
    passed to ``fn`` positionally. Each tuple ``fn`` returns is laid out
    as the DDL ``schema`` and is prefixed with the row's key, which
    keeps its name and type from ``df`` and stays nullable. ``fn`` owns
    its NULL policy: it sees NULLs as ``None`` (or NaN in a numeric
    column) and may raise, return nothing or return NULL values.
    """
    key = df.schema.fields[0]
    out = StructType(
        [StructField(key.name, key.dataType), *DataType.fromDDL(schema).fields]
    )
    names = out.fieldNames()

    def run(batches):
        import pandas as pd

        for pdf in batches:
            rows = [
                (k, *r)
                for k, *args in zip(*(c.tolist() for _, c in pdf.items()))
                for r in fn(*args)
            ]
            if rows:
                yield pd.DataFrame(rows, columns=names)

    return df.mapInPandas(run, schema=out)

"""The one forcing recipe every timing/audit instrument uses.

A bare ``count()`` lets Catalyst column-prune computed columns out of
cardinality-preserving plans entirely — t23's encode projection or
t24's whole classifier would never run under count()-based timing, so
the recorded numbers would measure parquet row counting. ``hash(*)``
depends on every output column; the 32-bit hash summed into a long
cannot overflow under ANSI mode until ~2^32 rows.

``hash()`` rejects MapType ANYWHERE in a column's type — top-level,
inside a struct field, an array element, or another map's key/value —
so any column whose type transitively contains a map routes through
``to_json`` first (checking only TOP-LEVEL maps would crash on a
catalog op emitting array<map<...>> rather than time it). bench.py,
scripts/scale_rehearsal.py and scripts/constant_audit.py all call
this one function.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructType


def contains_map(dt: DataType) -> bool:
    """True when ``dt`` transitively contains a MapType (the exact
    condition under which ``F.hash`` raises)."""
    if isinstance(dt, MapType):
        return True
    if isinstance(dt, ArrayType):
        return contains_map(dt.elementType)
    if isinstance(dt, StructType):
        return any(contains_map(f.dataType) for f in dt.fields)
    return False


def forced_count(df: DataFrame) -> int:
    """Row count with EVERY output column evaluated (see module
    docstring). Cardinality-CHANGING plans (joins, aggregates,
    explodes, filters, mapInArrow) were already forced by count(),
    but one recipe for every id beats a per-id prunability argument."""
    cols = [
        F.to_json(f.name) if contains_map(f.dataType) else F.col(f.name)
        for f in df.schema.fields
    ]
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.hash(*cols).cast("long")).alias("h"),
    ).collect()[0]["n"]

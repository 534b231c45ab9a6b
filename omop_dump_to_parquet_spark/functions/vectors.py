"""Vector math over ``array<float>`` embedding columns — pure built-in
column expressions (JVM-side, codegen'd; no Python in the hot path).

All math is done in DOUBLE after an explicit element cast, and the
fold order of ``F.aggregate`` is the array index order — sequential
left-to-right — which matches DuckDB's list accumulation, so dot
products are cross-engine reproducible to the last ULP (rank
determinism is additionally guarded by ranking on rounded scores).

Scale note: for 64-dim vectors these expressions run inside
whole-stage codegen; the expensive part of similarity workloads is the
pairwise *join*, which the operators bound via LSH bucketing
(`similarity.py`) — never the per-pair arithmetic.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def to_double_array(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot_d(a: Column, b: Column) -> Column:
    """Dot product of two double arrays (sequential fold).

    Contract for malformed input: unequal lengths yield NULL (the
    ``zip_with`` pads the short side with NULL, which poisons the
    fold) — relational missing-value semantics, NOT an error. A
    dimension mismatch is an ingest defect; validate dimensions at
    the ingest boundary (the m01-style metadata checks) rather than
    paying a per-pair guard in the engine's hottest expression."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2norm_d(a: Column) -> Column:
    return F.sqrt(dot_d(a, a))


def cosine_d(a: Column, b: Column) -> Column:
    """Cosine similarity; a ZERO-NORM side yields NULL in BOTH
    engines. ``try_divide`` is load-bearing: under ANSI
    mode a plain ``/`` THROWS on the 0.0 divisor an all-zero
    embedding produces, while the DuckDB oracle returns NULL — so an
    adversarial row would abort the Spark job where the oracle keeps
    going. NULL-on-degenerate matches DuckDB and ranks the row
    nowhere, which is the right answer for a zero vector."""
    return F.try_divide(dot_d(a, b), l2norm_d(a) * l2norm_d(b))

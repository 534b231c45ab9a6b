"""Z-order (Morton) clustering key for multi-dimensional file pruning.

`repartitionByRange` on ONE column gives perfect min/max pruning on
that column and none on any other. Interleaving the bits of several
columns into one Morton key makes files cover small HYPER-RECTANGLES
of the combined key space, so a range predicate on ANY of the z-dims
skips most files — the lakehouse answer to "we filter this table by
user_id some days and by value the others" without storing it twice.

Pruning is via parquet footer min/max stats, which Spark's scan
consults for row-group skipping; the coarser file-level skip shows up
as fewer splits after `PushedFilters`. Z-order trades a little
per-dimension locality for coverage of all dimensions — for a
single-dimension access pattern plain `range_partition_on` stays
better.

Pure column expressions (shifts, masks, adds) — whole-stage codegen,
no UDFs. Quantization bounds come from one min/max aggregation —
honestly, a SECOND EXECUTION of the source plan, not a footer-only
pass (Spark has no automatic min/max-from-footers rewrite unless
``parquet.aggregatePushdown`` applies, and it never does for JDBC or
transformed inputs). For a plain parquet scan that agg is cheap
column-pruned I/O; for an expensive upstream (JDBC read, heavy
transform) pass precomputed ``bounds`` to :func:`zorder_key` — also
the correct move for nondeterministic sources (limit/sample), where
re-execution could compute bounds from different rows than the ones
written.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_BITS = 16


def zorder_key(
    df: DataFrame,
    cols: list[str],
    bits: int = DEFAULT_BITS,
    bounds: dict[str, tuple[float, float]] | None = None,
) -> Column:
    """Morton key over ``cols`` (numeric), quantized to ``bits`` bits
    per dimension via min/max linear scaling.

    Quantization bounds come from ``bounds`` (``{col: (lo, hi)}``)
    when given — REQUIRED in spirit for expensive or nondeterministic
    upstreams (module docstring) — else from one min/max aggregation
    over ``df`` (a second execution of its plan). The key itself is
    pure bit arithmetic. ``bits * len(cols)`` must be ≤ 63. Bounds
    need not be exact: out-of-range values clamp to the edge buckets,
    so a stale-but-close estimate only costs edge-bucket resolution.
    """
    if bits * len(cols) > 63:
        raise ValueError("bits * len(cols) must fit in a signed long")
    if bounds is not None:
        missing = [c for c in cols if c not in bounds]
        if missing:
            raise ValueError(f"bounds missing for: {missing}")
        stats = {}
        for c in cols:
            lo, hi = bounds[c]
            stats[f"min_{c}"], stats[f"max_{c}"] = float(lo), float(hi)
    else:
        # only FINITE values feed the derived bounds (min/max ignore
        # NULLs): one NaN anywhere would otherwise poison max() — NaN
        # orders above every value — and one ±Infinity would become
        # the derived edge, making the span infinite so every finite
        # row quantizes to bucket 0 (the same dimension-collapse
        # failure, degraded rather than thrown).
        # Excluded rows keep their real bounds on the other
        # dimensions and follow the per-row NULL/NaN/clamp policy.
        finite_only = {}
        for c in cols:
            d = F.col(c).cast("double")
            finite_only[c] = F.when(
                ~F.isnan(d) & (F.abs(d) != F.lit(float("inf"))), d
            )
        stats = df.agg(
            *[F.min(finite_only[c]).alias(f"min_{c}") for c in cols],
            *[F.max(finite_only[c]).alias(f"max_{c}") for c in cols],
        ).first()
    n_dims = len(cols)
    max_q = (1 << bits) - 1
    key = F.lit(0).cast("long")
    for d, c in enumerate(cols):
        lo, hi = stats[f"min_{c}"], stats[f"max_{c}"]
        # all-NULL (or all-non-finite) column → constant dim; the
        # isfinite check additionally guards CALLER-supplied NaN or
        # ±inf bounds from reaching span/scale arithmetic (an inf
        # span would send every finite row to bucket 0)
        if (
            lo is None
            or hi is None
            or not math.isfinite(lo)
            or not math.isfinite(hi)
        ):
            lo, hi = 0.0, 0.0
        span = (hi - lo) or 1.0
        # per-row NULLs coalesce to the dimension minimum (q = 0) so
        # the row keeps its clustering on every NON-null dimension —
        # a NULL propagating into the key would void all of them and
        # funnel every such row into one skewed range partition
        # NaN → dimension minimum, same policy as NULL (nanvl, not
        # coalesce: NaN is non-null so coalesce passes it through)
        val = F.nanvl(
            F.coalesce(F.col(c).cast("double"), F.lit(lo)), F.lit(lo)
        )
        # clamp in DOUBLE space BEFORE the long cast: under Spark 4's
        # default ANSI mode, casting an out-of-range double to long
        # throws at write time instead of saturating, so a clamp
        # placed after the cast never runs for exactly the values
        # that need it
        q = F.least(
            F.lit(float(max_q)),
            F.greatest(
                F.lit(0.0), (val - F.lit(lo)) / F.lit(span) * max_q
            ),
        ).cast("long")
        for i in range(bits):
            key = key + F.shiftleft(
                F.shiftrightunsigned(q, i).bitwiseAND(1), i * n_dims + d
            )
    return key

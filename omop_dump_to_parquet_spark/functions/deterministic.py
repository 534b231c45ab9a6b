"""Cross-engine deterministic aggregation helpers.

Problem: the differential-correctness gate hashes result values from
two engines (Spark vs DuckDB). Double *summation order* differs
between engines (and between Spark partitions run to run), so a plain
``SUM(double)`` can differ in final ULPs — enough to break a value
hash.

Solution: the fixture monetary columns are 2-decimal quantized (only
representation noise ~1e-9 away from exact cents), so we route sums
through DECIMAL:

    SUM(CAST(x AS DECIMAL(p,2)))  -- exact integer arithmetic
    → CAST(... AS DOUBLE)         -- correctly-rounded, identical in
                                  -- any IEEE-754 engine

No rounding step is needed at all: both engines produce the *same*
exact decimal, and decimal→double conversion is deterministic.
Products of decimals stay exact (scale adds), so derived measures like
``price * (1 - discount) * (1 + tax)`` are exact too.

Per-row arithmetic (no aggregation) needs none of this: identical IEEE
operations on identical inputs are bit-equal across engines.

This is not just a test trick — at 100 TB, decimal aggregation of
monetary data is also the *semantically* right call (no drift over
billions of rows), and Spark executes decimal sums in whole-stage
codegen with map-side partial aggregation exactly like double sums.

Cost, measured honestly (sf0.1, 600k rows): decimal accumulation is
~4× a plain double sum (1.42s vs 0.37s for q01's 8-agg shape).
Catalyst's long-path rewrite (sum(decimal(p≤8,s)) →
MakeDecimal(sum(UnscaledValue))) halves the plain-sum cost, but its
(18,s) accumulator caps at 10^16 unscaled units — which per-GROUP
sums over ~10^11 rows genuinely exceed, and ANSI mode then THROWS
mid-job. The (p=12 → 22,2) accumulator holds 10^20. Rejected: the
speedup is real but buys an overflow abort at exactly the scale this
engine is designed for; the 4× premium is the price of sums that are
both deterministic and safe at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dsum(col: Column | str, prec: int = 18, scale: int = 2) -> Column:
    """Deterministic double-valued SUM via exact DECIMAL accumulation.

    Overflow posture: Spark 4 runs ANSI mode, so a value exceeding
    DECIMAL(prec,scale) THROWS mid-job an ``ArithmeticException`` with
    condition ``NUMERIC_VALUE_OUT_OF_RANGE.WITH_SUGGESTION`` — loud,
    never a silent NULL-drop. Size ``prec`` for the data; the default
    18,2 holds ±10^16 cents."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal({prec},{scale})")).cast("double")


def davg(col: Column | str, prec: int = 18, scale: int = 2) -> Column:
    """Deterministic double-valued AVG: exact decimal sum ÷ count.

    (Plain ``avg(double)`` would re-introduce summation-order noise;
    ``avg(decimal)`` has different result types in Spark vs DuckDB.)
    """
    c = F.col(col) if isinstance(col, str) else col
    return dsum(c, prec, scale) / F.count(c)


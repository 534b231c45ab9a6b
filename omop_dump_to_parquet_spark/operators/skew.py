"""Skew-resistant join: explicit key salting.

AQE's skew-join split (``spark.sql.adaptive.skewJoin.enabled``, on by
default in this engine — session.py) handles most skew by splitting
oversized post-shuffle partitions at runtime. Salting is the explicit,
planner-independent fallback for the pathological case AQE can't fix:
ONE join key so hot that a single key's rows exceed an executor
(power-law user ids, null-heavy foreign keys).

Mechanics: the skewed (large) side gets a deterministic pseudo-random
salt in ``[0, n)`` appended to its key; the other side is exploded
``n``× with every salt value. The join key becomes ``(key, salt)``, so
the hot key's rows spread across ``n`` shuffle partitions instead of
one. Cost: the replicated side shuffles ``n``× its size — so salt the
side that is large-and-skewed and replicate the smaller one, and keep
``n`` near (hot-key rows / target-partition rows).

Salt derivation is ``pmod(hash(partition_id, <non-map columns>), n)``.
The partition id term is load-bearing: hashing the row
content alone degenerates to ONE salt per distinct row — and the
common hot-key shapes (a key-only projection for a semi join, rows
that are literal duplicates) have exactly one distinct row per hot
key, so the "spread" silently became a no-op. With the partition id
mixed in, identical rows arriving from different input partitions
take different salts, which is precisely the population that needs
spreading; identical rows WITHIN one input partition share a salt,
bounded by input-split size. Retried tasks recompute the same
partition id, so the salt stays stable under recovery; salt values
never affect join RESULTS, only shuffle routing. Map-typed columns
are excluded from the hash (Spark's ``hash`` rejects MapType).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..sources.parquet import table

SALT = "__salt"


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    on: list[str],
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join ``skewed`` ⋈ ``other`` on columns ``on``, spreading
    each key of the skewed side over ``n_salts`` shuffle partitions.

    ``other`` is replicated ``n_salts``× (explode over all salt
    values); result rows equal a plain ``skewed.join(other, on, how)``
    for ``inner``/``left``/``left_semi``/``left_anti`` ONLY — a
    right/full outer join would emit each unmatched ``other`` row once
    per salt replica, so those modes are rejected (salt the other side
    instead by swapping the arguments).
    """
    allowed = {"inner", "left", "leftouter", "left_outer", "left_semi",
               "leftsemi", "left_anti", "leftanti"}
    if how.lower() not in allowed:
        raise ValueError(
            f"salted_join supports {sorted(allowed)}; got {how!r} — "
            "unmatched rows of the replicated side would duplicate"
        )
    from pyspark.sql.types import MapType

    hashable = [
        f.name
        for f in skewed.schema.fields
        if not isinstance(f.dataType, MapType)
    ]
    salted = skewed.withColumn(
        SALT,
        F.pmod(
            F.hash(F.spark_partition_id(), *hashable), F.lit(n_salts)
        ),
    )
    replicated = other.withColumn(
        SALT, F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    return salted.join(replicated, on=[*on, SALT], how=how).drop(SALT)


# ---------------------------------------------------------------------------
# Q28 — differential proof that salting preserves join semantics: the
# salted fact-fact join must produce byte-identical aggregates to the
# plain SQL join the oracle runs. (At sf0.01 salting is pure overhead;
# the query exists to pin the EQUIVALENCE, the scale story above is
# why the operator exists.)
# ---------------------------------------------------------------------------

Q28_ORACLE = """
SELECT o_orderpriority,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@query("q28_salted_join", oracle=Q28_ORACLE)
def q28_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"), "l_quantity"
    )
    orders = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"), "o_orderpriority"
    )
    joined = salted_join(li, orders, on=["okey"], n_salts=8)
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_quantity").cast("decimal(12,2)"))
            .cast("double")
            .alias("sum_qty"),
        )
        .orderBy("o_orderpriority")
    )

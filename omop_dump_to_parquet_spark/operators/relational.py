"""Relational operator catalog: scans, filters, joins (inner/left/
semi/anti/broadcast star), aggregations (multi-agg, distinct, rollup,
cube, grouping sets, pivot), sorts/top-k, set ops, JSON & date/string
scalar functions.

The reference contains none of these (SURVEY.md §2.2) — its product is
a Parquet lake whose *purpose* is to be queried offline
(``readme.md:3``). This module is that implicit query surface,
expressed declaratively so Catalyst supplies predicate pushdown,
column pruning, join selection, whole-stage codegen and AQE for free
(SURVEY.md §4).

Every query's plan was audited with ``.explain("formatted")``:
filters/projections reach the parquet scan (``PushedFilters`` /
``ReadSchema``), dimension joins go broadcast, aggregations are
partial (map-side) before the shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.deterministic import davg, dsum
from ..registry import query
from ..sources.parquet import table

# ---------------------------------------------------------------------------
# Q01 — flagship: TPC-H Q1-style pricing summary (filter → groupBy 8-agg).
# Scale: pure scan + partial agg; shuffle carries only |groups| rows/task.
# ---------------------------------------------------------------------------

Q01_ORACLE = """
SELECT
  l_returnflag,
  l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
  (CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(l_quantity)) AS avg_qty,
  (CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(l_extendedprice)) AS avg_price,
  (CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / COUNT(l_discount)) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-01-01'
GROUP BY l_returnflag, l_linestatus
"""


@query("q01_pricing_summary", oracle=Q01_ORACLE)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    ext = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    tax = F.col("l_tax").cast("decimal(4,2)")
    # No widen_scan: the filter and the partial aggregation run in the
    # scan's own tasks, so only the group rows leave the scan stage.
    # On a one-split scan (a single-file table) a round-robin exchange
    # would add a stage and a job and sort every filtered row before
    # its shuffle (``sortBeforeRepartition``), which costs more than
    # the partial aggregation it spreads: 0.25 → 0.18 s per call on the
    # benchmark lake at 2 cores, within 2% at sf0.1 on 4 cores.
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-01-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", 12).alias("sum_qty"),
            dsum("l_extendedprice", 12).alias("sum_base_price"),
            F.sum(ext * (F.lit(1) - disc)).cast("double").alias("sum_disc_price"),
            F.sum(ext * (F.lit(1) - disc) * (F.lit(1) + tax))
            .cast("double")
            .alias("sum_charge"),
            davg("l_quantity", 12).alias("avg_qty"),
            davg("l_extendedprice", 12).alias("avg_price"),
            davg("l_discount", 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# Q02 — filter + projection with computed scalar (pushdown check).
# Per-row IEEE arithmetic is bit-stable across engines; no rounding needed.
# ---------------------------------------------------------------------------

Q02_ORACLE = """
SELECT l_orderkey, l_linenumber,
       l_extendedprice * (1 - l_discount) AS net_price
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '2001-01-01' AND l_quantity > 45
"""


@query("q02_filter_project", oracle=Q02_ORACLE)
def q02_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("2001-01-01").cast("timestamp"))
        & (F.col("l_quantity") > 45)
    ).select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
    )


# ---------------------------------------------------------------------------
# Q03 — equi inner join (fact-to-fact: lineitem ⋈ orders) + agg.
# Scale: both sides shuffle on the join key; AQE picks SMJ and splits skew.
# ---------------------------------------------------------------------------

Q03_ORACLE = """
SELECT o_orderpriority,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
       COUNT(DISTINCT o_orderkey) AS n_orders
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


@query("q03_join_inner", oracle=Q03_ORACLE)
def q03_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manual partial-aggregation pushdown: pre-aggregate lineitem to
    one row per l_orderkey BEFORE the join. Catalyst does not push
    aggregates through joins, so the naive form shuffles every
    lineitem row into the join and then needs a COUNT(DISTINCT) —
    i.e. an Expand + second shuffle — to undo the fan-out. The
    pre-aggregated form moves |orders|, not |lineitem|, through the
    join (4× fewer rows on the fixture, ~7× on real TPC-H), turns
    the distinct into a plain count (orderkeys are unique after the
    pre-agg), and both shuffles land on the same key so the join is
    exchange-free on the build side. Same answer, oracle unchanged.
    """
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    ext = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    # No widen_scan (q01 note): the per-order partial aggregation runs
    # in the scan's own tasks, and its hash exchange on l_orderkey is
    # the one shuffle of the lineitem side.
    per_order = li.groupBy("l_orderkey").agg(
        F.sum(ext * (F.lit(1) - disc)).alias("order_revenue")
    )
    return (
        per_order.join(
            orders, per_order.l_orderkey == orders.o_orderkey, "inner"
        )
        .groupBy("o_orderpriority")
        .agg(
            F.sum("order_revenue").cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


# ---------------------------------------------------------------------------
# Q04 — left outer join preserving unmatched rows.
# ---------------------------------------------------------------------------

Q04_ORACLE = """
SELECT c_custkey, c_name, COUNT(o_orderkey) AS n_orders,
       CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(14,2))), 0) AS DOUBLE) AS total_spend
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey, c_name
"""


@query("q04_join_left", oracle=Q04_ORACLE)
def q04_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(
                F.sum(F.col("o_totalprice").cast("decimal(14,2)")), F.lit(0)
            )
            .cast("double")
            .alias("total_spend"),
        )
    )


# ---------------------------------------------------------------------------
# Q05/Q06 — semi / anti joins (EXISTS / NOT EXISTS).
# Scale: semi/anti shuffle only the distinct keys of the probe side.
# ---------------------------------------------------------------------------

Q05_ORACLE = """
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
"""


@query("q05_join_semi", oracle=Q05_ORACLE)
def q05_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


Q06_ORACLE = """
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


@query("q06_join_anti", oracle=Q06_ORACLE)
def q06_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


# ---------------------------------------------------------------------------
# Q07 — star join with broadcast dimensions: revenue per region.
# Scale: nation/region are fixed-cardinality → broadcast at any SF; only
# the lineitem↔orders↔customer joins shuffle.
# ---------------------------------------------------------------------------

Q07_ORACLE = """
SELECT r_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lineitems
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name
"""


@query("q07_star_broadcast", oracle=Q07_ORACLE)
def q07_star_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    ext = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    # widen_scan: at fixture scale every join side fits broadcast,
    # so the whole probe chain + partial agg would run inside
    # lineitem's single scan split; widening the probe side
    # parallelizes it (no-op at real split counts). Unlike q01's bare
    # aggregation, this pays on 4 cores (widen_scan's docstring).
    from .dedup import widen_scan

    li = widen_scan(li)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.sum(ext * (F.lit(1) - disc)).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


# ---------------------------------------------------------------------------
# Q08 — multi-aggregate groupBy (sum/min/max/avg/count/count-distinct).
# ---------------------------------------------------------------------------

Q08_ORACLE = """
SELECT l_returnflag,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
       MIN(l_extendedprice) AS min_price,
       MAX(l_extendedprice) AS max_price,
       (CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / COUNT(l_discount)) AS avg_disc,
       COUNT(*) AS n_rows,
       COUNT(DISTINCT l_suppkey) AS n_supp
FROM lineitem
GROUP BY l_returnflag
"""


@query("q08_agg_multi", oracle=Q08_ORACLE)
def q08_agg_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        dsum("l_quantity", 12).alias("sum_qty"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        davg("l_discount", 4).alias("avg_disc"),
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_suppkey").alias("n_supp"),
    )


# ---------------------------------------------------------------------------
# Q09 — distinct (dedup projection).
# ---------------------------------------------------------------------------

Q09_ORACLE = "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem"


@query("q09_distinct", oracle=Q09_ORACLE)
def q09_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_linestatus")
        .distinct()
    )


# ---------------------------------------------------------------------------
# Q10/Q11/Q12 — rollup / cube / grouping sets.
# ---------------------------------------------------------------------------

Q10_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


@query("q10_rollup", oracle=Q10_ORACLE)
def q10_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity", 12).alias("sum_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )


Q11_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


@query("q11_cube", oracle=Q11_ORACLE)
def q11_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity", 12).alias("sum_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )


Q12_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
"""


@query("q12_grouping_sets", oracle=Q12_ORACLE)
def q12_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("gs_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        FROM gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        """
    )


# ---------------------------------------------------------------------------
# Q13 — global top-k (sort + limit) with deterministic tie-break.
# Scale: Spark plans TakeOrderedAndProject — per-partition heap + driver
# merge of k rows, never a global sort.
# ---------------------------------------------------------------------------

Q13_ORACLE = """
SELECT o_orderkey, o_totalprice, o_orderpriority
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 10
"""


@query("q13_topk", oracle=Q13_ORACLE)
def q13_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Q14/Q15/Q16 — set operations.
# ---------------------------------------------------------------------------

Q14_ORACLE = """
SELECT c_nationkey AS nationkey FROM customer
UNION
SELECT s_nationkey AS nationkey FROM supplier
"""


@query("q14_union", oracle=Q14_ORACLE)
def q14_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.union(s).distinct()


Q15_ORACLE = """
SELECT c_nationkey AS nationkey FROM customer
EXCEPT
SELECT s_nationkey AS nationkey FROM supplier
"""


@query("q15_except", oracle=Q15_ORACLE)
def q15_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.subtract(s)  # EXCEPT DISTINCT semantics


Q16_ORACLE = """
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey AS nationkey FROM supplier
"""


@query("q16_intersect", oracle=Q16_ORACLE)
def q16_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.intersect(s)


# ---------------------------------------------------------------------------
# Q17 — JSON extraction over events.props (semi-structured scalar fns).
# ---------------------------------------------------------------------------

Q17_ORACLE = """
SELECT (CAST(json_extract_string(props, '$.k') AS INTEGER) % 10) AS k_bucket,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY k_bucket
"""


@query("q17_json_extract", oracle=Q17_ORACLE)
def q17_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        ev.select((k % 10).alias("k_bucket"), "value")
        .groupBy("k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", 12).alias("sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# Q18 — date/time bucketing: orders per month.
# ---------------------------------------------------------------------------

Q18_ORACLE = """
SELECT date_trunc('month', o_orderdate) AS order_month,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS month_revenue
FROM orders
GROUP BY order_month
"""


@query("q18_date_trunc", oracle=Q18_ORACLE)
def q18_date_trunc(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.date_trunc("month", F.col("o_orderdate")).alias("order_month")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", 14).alias("month_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Q19 — string functions over documents.
# ---------------------------------------------------------------------------

Q19_ORACLE = """
SELECT upper(lang) AS lang_uc,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(CASE WHEN text LIKE '%spark%' THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_spark,
       MIN(length(text)) AS min_len,
       MAX(length(text)) AS max_len
FROM documents
GROUP BY lang_uc
"""


@query("q19_string_funcs", oracle=Q19_ORACLE)
def q19_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.upper(F.col("lang")).alias("lang_uc"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum(
                F.when(F.col("text").contains("spark"), 1).otherwise(0)
            ).alias("docs_with_spark"),
            F.min(F.length("text")).alias("min_len"),
            F.max(F.length("text")).alias("max_len"),
        )
    )


# ---------------------------------------------------------------------------
# Q20 — pivot (conditional aggregation shape).
# ---------------------------------------------------------------------------

Q20_ORACLE = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(12,2)) ELSE 0 END) AS DOUBLE) AS qty_open,
       CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(12,2)) ELSE 0 END) AS DOUBLE) AS qty_filled
FROM lineitem
GROUP BY l_returnflag
"""


@query("q20_pivot", oracle=Q20_ORACLE)
def q20_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(12,2)")
    pivoted = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.coalesce(F.sum(qty), F.lit(0)).cast("double"))
    )
    return pivoted.select(
        "l_returnflag",
        F.col("O").alias("qty_open"),
        F.col("F").alias("qty_filled"),
    )


# ---------------------------------------------------------------------------
# Q21 — correlated-predicate shape: orders above 1.5× their customer's
# average (decorrelated as window/groupBy-join in Spark).
# ---------------------------------------------------------------------------

Q21_ORACLE = """
WITH ca AS (
  SELECT o_custkey,
         (CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) / COUNT(o_totalprice)) AS avg_spend
  FROM orders GROUP BY o_custkey
)
SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
FROM orders o JOIN ca ON o.o_custkey = ca.o_custkey
WHERE o.o_totalprice > 1.5 * ca.avg_spend
"""


@query("q21_correlated_avg", oracle=Q21_ORACLE)
def q21_correlated_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    ca = orders.groupBy("o_custkey").agg(
        davg("o_totalprice", 14).alias("avg_spend")
    )
    return (
        orders.join(ca, "o_custkey")
        .filter(F.col("o_totalprice") > 1.5 * F.col("avg_spend"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# Q22 — scalar math functions (sqrt/abs/floor/ceil/mod — all IEEE-exact).
# ---------------------------------------------------------------------------

Q22_ORACLE = """
SELECT p_partkey,
       sqrt(p_retailprice) AS price_sqrt,
       abs(p_size - 25) AS size_dev,
       CAST(floor(p_retailprice / 100) AS BIGINT) AS price_bucket,
       (p_partkey % 7) AS key_mod
FROM part
WHERE p_size >= 10
"""


@query("q22_scalar_math", oracle=Q22_ORACLE)
def q22_scalar_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = table(spark, sf_dir, "part")
    return part.filter(F.col("p_size") >= 10).select(
        "p_partkey",
        F.sqrt("p_retailprice").alias("price_sqrt"),
        F.abs(F.col("p_size") - 25).alias("size_dev"),
        F.floor(F.col("p_retailprice") / 100).alias("price_bucket"),
        (F.col("p_partkey") % 7).alias("key_mod"),
    )


# ---------------------------------------------------------------------------
# Q23 — exact percentiles per group (sort-based, interpolated).
# Scale: exact percentile needs a per-group sort; for 100 TB profiling
# prefer approx_percentile (t-digest, one pass, mergeable) — exposed
# here exactly because the oracle can only check the exact variant.
# ---------------------------------------------------------------------------

Q23_ORACLE = """
SELECT o_orderpriority,
       round(quantile_cont(o_totalprice, 0.5), 6) AS median_price,
       round(quantile_cont(o_totalprice, 0.9), 6) AS p90_price,
       COUNT(*) AS n_orders
FROM orders
GROUP BY o_orderpriority
"""


@query("q23_percentiles", oracle=Q23_ORACLE)
def q23_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 6).alias("median_price"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 6).alias("p90_price"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# Q24 — histogram binning (fixed-width buckets, integer arithmetic).
# ---------------------------------------------------------------------------

Q24_ORACLE = """
SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS price_bucket,
       COUNT(*) AS n_orders,
       MIN(o_totalprice) AS bucket_min,
       MAX(o_totalprice) AS bucket_max
FROM orders
GROUP BY price_bucket
"""


@query("q24_histogram", oracle=Q24_ORACLE)
def q24_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.floor(F.col("o_totalprice") / 50000).alias("price_bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_totalprice").alias("bucket_min"),
            F.max("o_totalprice").alias("bucket_max"),
        )
    )


# ---------------------------------------------------------------------------
# Q25 — composite analytical query (TPC-H Q3 shape): selective filters
# on two tables → 3-way join → grouped revenue → top-10. Exercises the
# full pipeline Catalyst optimizes end to end: both filters push to
# their scans, the join order follows sizes, the top-k never sorts
# globally.
# ---------------------------------------------------------------------------

Q25_ORACLE = """
SELECT l_orderkey,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
       o_orderdate, o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '2000-06-01'
  AND l_shipdate  > TIMESTAMP '2000-06-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


@query("q25_shipping_priority", oracle=Q25_ORACLE)
def q25_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("2000-06-01").cast("timestamp")
    )
    # No widen_scan: on the filtered fact side it measured a wash —
    # lineitem is the BUILD side of this fixture-scale plan, so the
    # extra exchange buys no parallelism — and on the PROBE side
    # (orders) it lost, 0.97s plain vs 1.09s widened: the probe work
    # on 150k filtered orders rows is smaller than the exchange it
    # buys; the sub-1s floor is per-job overhead.
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("2000-06-01").cast("timestamp")
    )
    ext = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(ext * (F.lit(1) - disc)).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Q26 — UNION ALL (bag union, no dedup shuffle).
# ---------------------------------------------------------------------------

Q26_ORACLE = """
SELECT c_nationkey AS nationkey, 'customer' AS side FROM customer
UNION ALL
SELECT s_nationkey AS nationkey, 'supplier' AS side FROM supplier
"""


@query("q26_union_all", oracle=Q26_ORACLE)
def q26_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey"), F.lit("customer").alias("side")
    )
    s = table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey"), F.lit("supplier").alias("side")
    )
    return c.unionAll(s)


# ---------------------------------------------------------------------------
# Q27 — sketch aggregates (HLL++ distinct, KLL quantiles): the
# one-pass mergeable forms that replace exact distinct/percentile at
# 100 TB. FULLY DIFFERENTIAL via the q47-q49 pattern: the
# registered query computes both the sketch estimates AND the exact
# answers, emitting the exact values plus within-ε booleans; the
# oracle recomputes the exact side and emits TRUE — so the driver's
# value hash gates both cross-engine exactness of the reference
# computation and every estimate's accuracy, every round it's
# sampled. The raw sketch
# values themselves are engine-internal and deliberately NOT output
# columns. ε: HLL++ default rsd 0.05 → 3σ = 15%; KLL accuracy 10000
# → rank error 1e-4 ≪ the ±0.05 rank band. Distinct from q49 (the
# original error-bound harness, lineitem × l_returnflag): this is
# the orders-side sketch surface (customer cardinality + order-value
# median per priority class).
#
# Scale note: the exact side (count_distinct / exact percentile) is
# the VERIFICATION harness, intentionally run at test SF; production
# at 100 TB runs only the sketch side.
# ---------------------------------------------------------------------------

Q27_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_custs,
       TRUE AS acd_within_eps,
       TRUE AS med_within_band
FROM orders
GROUP BY o_orderpriority
"""


@query("q27_approx_sketches", oracle=Q27_ORACLE)
def q27_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    agg = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.approx_count_distinct("o_custkey").alias("acd"),
        F.count_distinct("o_custkey").alias("exact_custs"),
        F.percentile_approx("o_totalprice", 0.5).alias("amed"),
        F.expr("percentile(o_totalprice, 0.45)").alias("lo"),
        F.expr("percentile(o_totalprice, 0.55)").alias("hi"),
    )
    acd_eps = 0.15
    return agg.select(
        "o_orderpriority",
        "n_orders",
        "exact_custs",
        (
            F.col("acd").between(
                F.col("exact_custs") * (1 - acd_eps),
                F.col("exact_custs") * (1 + acd_eps),
            )
        ).alias("acd_within_eps"),
        (F.col("amed").between(F.col("lo"), F.col("hi"))).alias(
            "med_within_band"
        ),
    )


# ---------------------------------------------------------------------------
# Q29 — table-generating operator (LATERAL VIEW / explode): one row per
# token with its position. The UDTF-shaped surface (SURVEY.md §2.2
# "UDF/UDAF/UDTF — none in the reference") expressed with the built-in
# generator — posexplode runs inside codegen, no Python row expansion.
# Row counts multiply here; at 100 TB cap fan-out upstream (filter or
# slice the array) before the generate, never after.
# ---------------------------------------------------------------------------

Q29_ORACLE = """
SELECT doc_id,
       generate_subscripts(string_split(text, ' '), 1) - 1 AS pos,
       unnest(string_split(text, ' ')) AS token
FROM documents
"""


@query("q29_lateral_explode", oracle=Q29_ORACLE)
def q29_lateral_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos", "token"),
    )


# ---------------------------------------------------------------------------
# Q30 — TPC-H Q5 shape: 6-way join (region→nation→{customer,supplier}
# →orders→lineitem) with a region filter and a date range, revenue by
# nation. The canonical star-plus-constraint plan: region/nation hard-
# broadcast (fixed cardinality), supplier left to AQE (it grows with
# SF), the fact-fact joins shuffle on their
# keys, and the l_suppkey = s_suppkey ∧ c_nationkey = s_nationkey
# constraint ("local supplier") prunes after the join. DECIMAL revenue
# for cross-engine determinism (registry docstring).
# ---------------------------------------------------------------------------

Q30_ORACLE = """
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate <  TIMESTAMP '2001-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


@query("q30_local_supplier_volume", oracle=Q30_ORACLE)
def q30_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("2001-01-01").cast("timestamp"))
    )
    # No widen_scan: on lineitem it measured SLOWER — q30's
    # fixture-scale plan broadcasts the projected lineitem columns
    # and probes with ORDERS, so the widener shuffled 600k rows into
    # a broadcast build for nothing: 1.94s vs 1.36s median. Widening
    # the PROBE side (orders) also lost, 1.39s plain vs 1.56s
    # widened: a probe this small cannot amortize an exchange at
    # fixture scale, and at real split counts the probe side arrives
    # already parallel.
    li = table(spark, sf_dir, "lineitem")
    supp = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    ext = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        # supplier grows with scale factor (10k rows/SF) — no hard
        # broadcast hint; AQE/autoBroadcastJoinThreshold decide.
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(ext * (F.lit(1) - disc)).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


# ---------------------------------------------------------------------------
# Q31 — array/map scalar library over aggregated arrays: collect the
# per-order quantity list (sorted — collect_list order is
# partition-dependent, sort_array makes it deterministic), then pure
# array ops (size/contains/slice/sum-via-aggregate) and a map built
# from it. Map-side after one shuffle on the groupBy key.
# ---------------------------------------------------------------------------

Q31_ORACLE = """
SELECT l_orderkey,
       array_to_string(list_sort(list(CAST(floor(l_quantity) AS INTEGER))), ',') AS qty_csv,
       len(list(l_quantity)) AS n_items,
       list_contains(list(CAST(floor(l_quantity) AS INTEGER)), 1) AS has_single,
       CAST(list_sum(list(CAST(floor(l_quantity) AS INTEGER))) AS BIGINT) AS qty_total,
       array_to_string(list_slice(list_sort(list(CAST(floor(l_quantity) AS INTEGER))), 1, 3), ',') AS first3_csv,
       map(['n', 'total'],
           [CAST(len(list(l_quantity)) AS BIGINT),
            CAST(list_sum(list(CAST(floor(l_quantity) AS INTEGER))) AS BIGINT)])['total'][1] AS map_total
FROM lineitem
GROUP BY l_orderkey
"""


@query("q31_array_map_funcs", oracle=Q31_ORACLE)
def q31_array_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    # explicit floor() on BOTH sides (registry determinism
    # contract): a bare fractional->int cast truncates in Spark but
    # rounds in DuckDB, so the "quantities are integral" fixture fact
    # was the only guard against a silent divergence on drift
    qty = F.floor("l_quantity").cast("int")
    agg = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list(qty)).alias("qty_list")
    )
    qty_total = F.aggregate(
        "qty_list", F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    return agg.select(
        "l_orderkey",
        # the list itself is emitted as a canonical string — array
        # cells can't be hash/sort-compared across engines
        F.array_join("qty_list", ",").alias("qty_csv"),
        F.size("qty_list").alias("n_items"),
        F.array_contains("qty_list", F.lit(1)).alias("has_single"),
        qty_total.alias("qty_total"),
        F.array_join(F.slice("qty_list", 1, 3), ",").alias("first3_csv"),
        # map built from the array's derived scalars, read back out —
        # emitted as the extracted value (map cells, like array cells,
        # can't be hash/sort-compared across engines)
        F.element_at(
            F.map_from_arrays(
                F.array(F.lit("n"), F.lit("total")),
                F.array(F.size("qty_list").cast("long"), qty_total),
            ),
            F.lit("total"),
        ).alias("map_total"),
    )


# ---------------------------------------------------------------------------
# Q32 — bag-semantics set operations (EXCEPT ALL / INTERSECT ALL):
# multiplicity-aware, so they are different operators from Q15/Q16's
# DISTINCT forms (Spark plans them as aggregate-count + generate
# rather than semi/anti joins). Nation keys of customers vs suppliers,
# with duplicates preserved.
# ---------------------------------------------------------------------------

Q32_ORACLE = """
SELECT nationkey, 'except_all' AS op FROM (
  SELECT c_nationkey AS nationkey FROM customer
  EXCEPT ALL
  SELECT s_nationkey FROM supplier
)
UNION ALL
SELECT nationkey, 'intersect_all' AS op FROM (
  SELECT c_nationkey AS nationkey FROM customer
  INTERSECT ALL
  SELECT s_nationkey FROM supplier
)
"""


@query("q32_set_ops_all", oracle=Q32_ORACLE)
def q32_set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    ex = c.exceptAll(s).withColumn("op", F.lit("except_all"))
    inter = c.intersectAll(s).withColumn("op", F.lit("intersect_all"))
    return ex.unionAll(inter)


# ---------------------------------------------------------------------------
# Q33 — typed JSON parsing: from_json with an explicit schema into a
# STRUCT column (vs Q17's per-path string extraction). The
# schema-pinned form is the 100 TB path: one parse per row into typed
# columns that downstream predicates/prunes treat natively, instead of
# re-parsing the string per extracted path.
# ---------------------------------------------------------------------------

Q33_ORACLE = """
SELECT event_type,
       MIN(CAST(props->>'$.k' AS INTEGER)) AS min_k,
       MAX(CAST(props->>'$.k' AS INTEGER)) AS max_k,
       COUNT(*) AS n_rows
FROM events
WHERE CAST(props->>'$.k' AS INTEGER) > 50
GROUP BY event_type
"""


@query("q33_json_typed_struct", oracle=Q33_ORACLE)
def q33_json_typed_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    parsed = ev.withColumn(
        "p", F.from_json(F.col("props"), "k int")
    )
    return (
        parsed.filter(F.col("p.k") > 50)
        .groupBy("event_type")
        .agg(
            F.min("p.k").alias("min_k"),
            F.max("p.k").alias("max_k"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


# ---------------------------------------------------------------------------
# Q34 — statistical aggregates: correlation, covariance, dispersion
# per group. All are one-pass mergeable moment sketches (sum, sum²,
# sum of products) — map-side partial aggregation, one row per group
# crosses the wire; the scalable shape at any corpus size.
# Oracle columns are chosen small-magnitude (discount/tax in [0,0.1],
# corr bounded in [-1,1]) so a 6-decimal round absorbs the
# summation-order FP divergence between engines without masking real
# errors.
# ---------------------------------------------------------------------------

Q34_ORACLE = """
SELECT l_returnflag,
       round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
       round(covar_samp(l_quantity, l_discount), 6) AS covar_qty_disc,
       round(stddev_samp(l_discount), 6) AS stddev_disc,
       round(var_pop(l_tax), 6) AS var_tax,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
"""


@query("q34_stats_aggregates", oracle=Q34_ORACLE)
def q34_stats_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias(
            "corr_qty_price"
        ),
        F.round(F.covar_samp("l_quantity", "l_discount"), 6).alias(
            "covar_qty_disc"
        ),
        F.round(F.stddev_samp("l_discount"), 6).alias("stddev_disc"),
        F.round(F.var_pop("l_tax"), 6).alias("var_tax"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# Q35 — correlated NOT EXISTS, written as a subquery (not a manual
# anti join): customers with no order above a price cut. Exercises
# Catalyst's subquery decorrelation — RewritePredicateSubquery turns
# the correlated NOT EXISTS into a LEFT ANTI join on the correlation
# key, so the physical plan is one shuffle (or broadcast) anti join,
# never a per-row subquery execution. The plan assertion lives in
# tests/test_plans_physical.py; q06 covers the hand-written anti join,
# this covers the optimizer path that produces it.
# ---------------------------------------------------------------------------

# Calibrated so the answer is discriminating at BOTH parity scales
# (sf0.001: 20/150 customers qualify; sf0.01: 202/1500) — at 200k the
# oracle returned 0 rows at sf0.001 and the differential test was
# vacuously green for any empty-result bug.
Q35_PRICE_CUT = 400_000.0

Q35_ORACLE = f"""
SELECT c_custkey, c_name, c_acctbal
FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey
    AND o.o_totalprice > {Q35_PRICE_CUT}
)
"""


@query("q35_not_exists_decorrelated", oracle=Q35_ORACLE)
def q35_not_exists_decorrelated(spark: SparkSession, sf_dir: str) -> DataFrame:
    for t in ("customer", "orders"):
        table(spark, sf_dir, t).createOrReplaceTempView(f"q35_{t}")
    return spark.sql(
        f"""
        SELECT c_custkey, c_name, c_acctbal
        FROM q35_customer c
        WHERE NOT EXISTS (
          SELECT 1 FROM q35_orders o
          WHERE o.o_custkey = c.c_custkey
            AND o.o_totalprice > {Q35_PRICE_CUT}
        )
        """
    )


# ---------------------------------------------------------------------------
# Q36 — union BY NAME across evolved schemas: the lake-maintenance
# reality that two snapshots of "the same" table rarely share a column
# list. `unionByName(allowMissingColumns=True)` aligns on names and
# null-fills the gaps — positional UNION would silently mis-bind
# columns or reject the query. Map-side only (no shuffle): each input
# projects + null-pads independently.
# ---------------------------------------------------------------------------

Q36_ORACLE = """
SELECT o_orderkey AS id, o_totalprice AS amount,
       o_orderpriority AS priority, NULL AS segment
FROM orders
UNION ALL BY NAME
SELECT c_custkey AS id, c_acctbal AS amount, c_mktsegment AS segment
FROM customer
"""


@query("q36_union_by_name", oracle=Q36_ORACLE)
def q36_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("id"),
        F.col("o_totalprice").alias("amount"),
        F.col("o_orderpriority").alias("priority"),
    )
    customer = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.col("c_acctbal").alias("amount"),
        F.col("c_mktsegment").alias("segment"),
    )
    return orders.unionByName(customer, allowMissingColumns=True)


# ---------------------------------------------------------------------------
# Q37 — filtered aggregates (`agg FILTER (WHERE …)`): several
# differently-predicated aggregates computed in ONE scan + ONE shuffle
# instead of N self-joined subqueries. Spark expresses the FILTER
# clause as `agg(CASE WHEN pred THEN x END)` — Catalyst folds all four
# into a single hash-aggregate with map-side partials, which is the
# shape that matters at 100 TB (the naive N-subquery formulation reads
# the fact table N times). The reference has no aggregation at all
# beyond a scalar count (SURVEY.md §2.2 — dump_table.py:56-78).
# ---------------------------------------------------------------------------

Q37_ORACLE = """
SELECT l_returnflag,
       count(*) FILTER (WHERE l_discount > 0.05)  AS n_high_discount,
       ROUND(sum(l_extendedprice) FILTER (WHERE l_shipdate < TIMESTAMP '1995-01-01'), 2)
                                                  AS sum_early_price,
       count(*) FILTER (WHERE l_tax > 0.04)       AS n_taxed,
       count(*)                                   AS n_total
FROM lineitem
GROUP BY l_returnflag
"""


@query("q37_filtered_agg", oracle=Q37_ORACLE)
def q37_filtered_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.when(F.col("l_discount") > 0.05, 1)).alias("n_high_discount"),
        F.round(
            F.sum(
                F.when(
                    F.col("l_shipdate") < F.lit("1995-01-01").cast("timestamp"),
                    F.col("l_extendedprice"),
                )
            ),
            2,
        ).alias("sum_early_price"),
        F.count(F.when(F.col("l_tax") > 0.04, 1)).alias("n_taxed"),
        F.count(F.lit(1)).alias("n_total"),
    )


# ---------------------------------------------------------------------------
# Q38 — null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): NULL keys
# match each other instead of vanishing, the semantics dimension-lookup
# pipelines need when "unknown" is itself a category. Catalyst plans
# EqualNullSafe as a proper hash-join key (null-safe equality is
# hashable — NULL hashes to a fixed bucket), so this stays a single
# shuffled hash join, NOT a nested-loop: the plan survives 100 TB. The
# build side here is a groupBy of the same dimension (bounded by
# segment cardinality) and broadcasts under AQE.
# ---------------------------------------------------------------------------

Q38_ORACLE = """
WITH c AS (
  SELECT c_custkey, NULLIF(c_mktsegment, 'BUILDING') AS seg
  FROM customer
), s AS (
  SELECT NULLIF(c_mktsegment, 'BUILDING') AS seg, count(*) AS seg_size
  FROM customer GROUP BY 1
)
SELECT c.c_custkey, c.seg, s.seg_size
FROM c JOIN s ON c.seg IS NOT DISTINCT FROM s.seg
"""


@query("q38_nullsafe_join", oracle=Q38_ORACLE)
def q38_nullsafe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    seg = F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg")
    c = cust.select("c_custkey", seg)
    s = cust.select(seg).groupBy("seg").agg(F.count(F.lit(1)).alias("seg_size"))
    return c.join(s, c["seg"].eqNullSafe(s["seg"])).select(
        c["c_custkey"], c["seg"], s["seg_size"]
    )


# ---------------------------------------------------------------------------
# Q39 — recursive CTE (WITH RECURSIVE, Spark ≥4.0): hierarchy
# traversal over a synthetic forest derived from customer keys
# (roots are keys < 4; parent(k) = k div 4 for k ≥ 4, so every node's
# children are 4k..4k+3, depth grows log₄(n), and the recursion
# terminates in ~9 rounds even at 100 TB key ranges — the k ≥ 4 guard
# matters because key 0 would otherwise be its own parent and loop
# forever). Each iteration is one hash join of the frontier
# against the (pruned) customer scan — Spark executes the loop as
# UnionLoop with the frontier re-broadcast when small, which is the
# same shape as the d06 connected-components driver loop but declared
# in SQL. Path aggregation (root→node balance sum) is evaluated in
# identical order by both engines (parent row is complete before the
# child extends it), so the doubles are bit-stable pre-round.
# ---------------------------------------------------------------------------

Q39_ORACLE = """
WITH RECURSIVE tree AS (
  SELECT c_custkey AS node, 0 AS depth,
         c_acctbal AS path_bal
  FROM customer WHERE c_custkey < 4
  UNION ALL
  SELECT c.c_custkey, t.depth + 1, t.path_bal + c.c_acctbal
  FROM customer c JOIN tree t
    ON c.c_custkey // 4 = t.node AND c.c_custkey >= 4
)
SELECT node, depth, round(path_bal, 2) AS path_bal
FROM tree
"""


@query("q39_recursive_hierarchy", oracle=Q39_ORACLE)
def q39_recursive_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "customer").createOrReplaceTempView("q39_customer")
    return spark.sql(
        """
        WITH RECURSIVE tree AS (
          SELECT c_custkey AS node, 0 AS depth,
                 c_acctbal AS path_bal
          FROM q39_customer WHERE c_custkey < 4
          UNION ALL
          SELECT c.c_custkey, t.depth + 1, t.path_bal + c.c_acctbal
          FROM q39_customer c JOIN tree t
            ON c.c_custkey div 4 = t.node AND c.c_custkey >= 4
        )
        SELECT node, depth, round(path_bal, 2) AS path_bal
        FROM tree
        """
    )


# ---------------------------------------------------------------------------
# Q40 — UNPIVOT (wide → long): melt a per-returnflag aggregate of
# three measure columns into (flag, measure, value) rows. The inverse
# of q20's pivot; Spark's native `DataFrame.unpivot` plans an Expand
# node (each input row emits one row per measure, map-side, no
# shuffle beyond the feeding aggregate). The oracle uses the
# portable UNION ALL spelling of the same relation.
#
# Scale shape: the expand runs over the already-aggregated (tiny)
# relation; on a raw 100 TB fact table an Expand multiplies scan
# output by n_measures, which is still map-side and pipeline-able —
# the correct melt plan at any scale.
#
# Determinism: monetary sums accumulate in exact DECIMAL (dsum — a
# raw double SUM is partial-merge-order-dependent); counts are exact
# longs cast to double so all three measures share one value column
# type.
# ---------------------------------------------------------------------------

Q40_ORACLE = """
WITH agg AS (
  SELECT l_returnflag,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
         CAST(count(*) AS DOUBLE) AS n_rows
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM agg
UNION ALL
SELECT l_returnflag, 'sum_price' AS measure, sum_price AS value FROM agg
UNION ALL
SELECT l_returnflag, 'n_rows' AS measure, n_rows AS value FROM agg
"""


@query("q40_unpivot", oracle=Q40_ORACLE)
def q40_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")

    agg = li.groupBy("l_returnflag").agg(
        dsum("l_quantity").alias("sum_qty"),
        dsum("l_extendedprice").alias("sum_price"),
        F.count(F.lit(1)).cast("double").alias("n_rows"),
    )
    return agg.unpivot(
        ids="l_returnflag",
        values=["sum_qty", "sum_price", "n_rows"],
        variableColumnName="measure",
        valueColumnName="value",
    )


# ---------------------------------------------------------------------------
# Q41 — re-aggregatable sketch rollup: per-day Apache DataSketches HLL
# sketches of distinct users, MERGED upward into per-week estimates
# via hll_union_agg. The two-level shape is the point — at 100 TB you
# pre-aggregate fine-grained sketch BYTES once (map-side partials,
# one uniform shuffle on day), persist them, and answer every
# coarser-grained distinct question by merging sketches, never
# rescanning raw data. An exact count(DISTINCT) re-shuffles the raw
# key universe per query grain; the sketch rollup moves a few KB per
# bucket. Theta sketches (set intersection/difference) extend the
# same pattern to audience-overlap questions.
#
# FULLY DIFFERENTIAL via the q27/q47 exact+within-ε fold:
# DuckDB's HLL is a different implementation with different
# estimates, so the raw estimate is not an output column; instead
# the registered query computes BOTH the sketch-rollup estimate and
# the exact per-week distinct count, emitting the exact values plus
# a `hll_within_eps` boolean. The oracle recomputes the exact side
# and emits TRUE — the driver's value hash then gates (a) the exact
# computation cross-engine and (b) the merged estimate's accuracy,
# every round it's sampled.
# ε = 0.05 ≈ 3σ for HLL lgConfigK=12 (RSE ≈ 1.6%) — the same band
# the q47 companion passes. The unit test
# (tests/test_approx_operators.py) additionally bounds the estimate
# at test scale.
# ---------------------------------------------------------------------------

Q41_ORACLE = """
SELECT date_trunc('week', ts) AS week,
       CAST(COUNT(DISTINCT date_trunc('day', ts)) AS BIGINT) AS n_days,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_weekly_users,
       TRUE AS hll_within_eps
FROM events
GROUP BY week
"""


@query("q41_sketch_rollup_merge", oracle=Q41_ORACLE)
def q41_sketch_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    week = F.date_trunc("week", "ts").alias("week")
    # the production path: merge per-day sketch BYTES up to weeks —
    # this is the rollup under test (shared with its q47 companion)
    rolled = _hll_weekly_rollup(ev)
    # the verification harness: exact distinct, test-SF only
    exact = ev.groupBy(week).agg(
        F.count_distinct("user_id").alias("exact_weekly_users")
    )
    eps = 0.05
    return exact.join(rolled, "week").select(
        "week",
        "n_days",
        "exact_weekly_users",
        (
            F.col("est").between(
                F.col("exact_weekly_users") * (1 - eps),
                F.col("exact_weekly_users") * (1 + eps),
            )
        ).alias("hll_within_eps"),
    )


# ---------------------------------------------------------------------------
# Q42 — rolling 7-day distinct users per day (the WAU-by-day curve).
# DISTINCT is not composable across window frames (no engine supports
# COUNT(DISTINCT) OVER a sliding frame natively), so the operator
# materializes the (day, user) DISTINCT pairs ONCE — collapsing the
# event stream to day-level granularity — and expands each pair into
# the ≤7 trailing day-buckets it contributes to via a generated
# offset array, then counts distinct users per bucket. The expansion
# is 7× the DAY-LEVEL pair count (bounded by days × active users),
# never 7× the raw event count — the pre-distinct is what makes this
# shape viable at 100 TB event volume. q41 is the sketch relaxation
# of the same question (merge 7 daily HLLs); this is the exact form.
#
# Determinism: integer/timestamp arithmetic only; day buckets with no
# events contribute no row (matching the SQL, which only emits days
# that exist in the data).
# ---------------------------------------------------------------------------

Q42_ORACLE = """
WITH du AS (
  SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events
),
days AS (SELECT DISTINCT day FROM du)
SELECT d.day, count(DISTINCT du.user_id) AS trailing_7d_users
FROM days d
JOIN du ON du.day <= d.day AND du.day >= d.day - INTERVAL 6 DAY
GROUP BY d.day
"""


@query("q42_rolling_distinct", oracle=Q42_ORACLE)
def q42_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    du = ev.select(
        F.date_trunc("day", "ts").alias("day"), "user_id"
    ).distinct()
    # Each (day, user) pair feeds the buckets day .. day+6; emit the
    # target bucket directly and drop buckets that aren't real days
    # (semi join against the observed day set) so the output matches
    # the SQL's days-with-events domain.
    contrib = du.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(6)),
                lambda i: F.timestamp_add("DAY", i, F.col("day")),
            )
        ).alias("bucket"),
        "user_id",
    )
    days = du.select("day").distinct()
    return (
        contrib.join(days, contrib.bucket == days.day, "left_semi")
        .groupBy(F.col("bucket").alias("day"))
        .agg(F.count_distinct("user_id").alias("trailing_7d_users"))
    )


# ---------------------------------------------------------------------------
# Q43 — VARIANT-typed semi-structured access (Spark 4's native
# open-schema type): parse the JSON props column ONCE into VARIANT,
# then extract typed paths with variant_get. Versus q17's
# get_json_object (re-parses the string per extraction) and q33's
# from_json (requires a declared schema up front), VARIANT is the
# lakehouse answer for schema-drifting event payloads: parse once
# into a compact binary encoding, bind types at extraction, store the
# column as VARIANT in Parquet so repeated queries skip the text
# parse entirely. The aggregation shape after extraction is a plain
# two-level groupBy — the VARIANT path is map-side codegen.
#
# Determinism: integer extraction and exact counts; the DuckDB twin
# extracts the same path from the same JSON text.
# ---------------------------------------------------------------------------

Q43_ORACLE = """
SELECT event_type,
       CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_bucket,
       count(*) AS n,
       CAST(min(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
       CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
FROM events
GROUP BY event_type, k_bucket
"""


@query("q43_variant_json", oracle=Q43_ORACLE)
def q43_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    # try_parse_json: null on malformed input, matching the oracle's
    # json_extract semantics (strict parse_json would crash the whole
    # query on one bad row — the wrong failure mode for drifting
    # event payloads, which is VARIANT's use case).
    k = F.variant_get(F.try_parse_json("props"), "$.k", "bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type", (F.col("k") % 10).alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


# ---------------------------------------------------------------------------
# Q44 — theta-sketch set algebra (audience overlap): distinct users
# who did BOTH a purchase and an error, estimated by intersecting two
# independently-built theta sketches. The question COUNT(DISTINCT)
# cannot answer compositionally: exact distinct sets don't merge
# without re-scanning raw data, but theta sketches support
# union/intersection/difference over their compact form — so at
# 100 TB each event family keeps one small sketch and every overlap /
# exclusion question is answered from sketches alone. q41 is the
# same argument for rollup-union; this is the intersection half.
#
# FULLY DIFFERENTIAL via the q27/q48 exact+within-ε fold:
# sketch estimates are implementation-specific, so the registered
# query computes BOTH the theta-algebra estimates AND the exact set
# counts (one groupBy(user_id) pass → per-user purchase/error flags
# → four exact counts), emitting the exact values plus four
# within-tolerance booleans; the oracle recomputes the exact side
# and emits TRUE. Tolerance model: theta intersection/difference
# error scales with the UNION size, not the result size (a tiny
# overlap of two huge sets has absolute error ∝ |A∪B|/√k), so the
# band is abs(est − exact) ≤ ε·(|A|+|B|) with ε = 0.05 — which also
# handles exact-zero results (n_purchase_only is 0 at test SF; a
# relative band would demand est ≡ 0 of an estimator that is only
# exact below 4 096 entries). Default lgNomEntries=12 means the
# sketch IS exact below 4 096 distinct keys, so at test SF a hash
# fail is a broken sketch, not noise; at production SF the same
# band is the published 3σ envelope. Unit test additionally bounds
# the estimate at test scale (tests/test_approx_operators.py).
# ---------------------------------------------------------------------------

Q44_ORACLE = """
WITH per_user AS (
  SELECT user_id,
         bool_or(event_type = 'purchase') AS p,
         bool_or(event_type = 'error') AS e
  FROM events
  GROUP BY user_id
)
SELECT CAST(count(CASE WHEN p THEN 1 END) AS BIGINT) AS n_purchasers,
       CAST(count(CASE WHEN e THEN 1 END) AS BIGINT) AS n_erroring,
       CAST(count(CASE WHEN p AND e THEN 1 END) AS BIGINT) AS n_overlap,
       CAST(count(CASE WHEN p AND NOT e THEN 1 END) AS BIGINT)
           AS n_purchase_only,
       TRUE AS purchasers_within_eps,
       TRUE AS erroring_within_eps,
       TRUE AS overlap_within_eps,
       TRUE AS diff_within_eps
FROM per_user
"""


def _theta_purchase_error_sketches(ev: DataFrame) -> DataFrame:
    """Compact theta sketches of the purchasing / erroring user sets
    — ONE definition shared by q44 (the set-operation operator) and
    q48 (its error-bound companion), so the companion always gates
    exactly the pipeline q44 runs; two copies could drift apart
    silently."""
    return ev.groupBy().agg(
        F.theta_sketch_agg(
            F.when(F.col("event_type") == "purchase", F.col("user_id"))
        ).alias("purchasers"),
        F.theta_sketch_agg(
            F.when(F.col("event_type") == "error", F.col("user_id"))
        ).alias("erroring"),
    )


def _hll_weekly_rollup(ev: DataFrame) -> DataFrame:
    """Per-day HLL sketches merged to weekly estimates — the rollup
    under test in q41 and the one its q47 companion bounds; shared
    for the same no-silent-drift reason as the theta builder."""
    week = F.date_trunc("week", "ts").alias("week")
    daily = ev.groupBy(
        week, F.date_trunc("day", "ts").alias("day")
    ).agg(F.hll_sketch_agg("user_id").alias("day_sketch"))
    return daily.groupBy("week").agg(
        F.hll_sketch_estimate(F.hll_union_agg("day_sketch")).alias("est"),
        F.count(F.lit(1)).alias("n_days"),
    )


@query("q44_theta_overlap", oracle=Q44_ORACLE)
def q44_theta_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    sketches = _theta_purchase_error_sketches(ev)
    est = sketches.select(
        F.theta_sketch_estimate(F.col("purchasers")).alias("est_p"),
        F.theta_sketch_estimate(F.col("erroring")).alias("est_e"),
        F.theta_sketch_estimate(
            F.theta_intersection(F.col("purchasers"), F.col("erroring"))
        ).alias("est_overlap"),
        F.theta_sketch_estimate(
            F.theta_difference(F.col("purchasers"), F.col("erroring"))
        ).alias("est_diff"),
    )
    # verification harness: one shuffle on user_id → per-user flags →
    # scalar exact counts; test-SF only (production runs sketches)
    p = F.max((F.col("event_type") == "purchase").cast("int")).alias("p")
    e = F.max((F.col("event_type") == "error").cast("int")).alias("e")
    flags = ev.groupBy("user_id").agg(p, e)
    exact = flags.agg(
        F.sum("p").cast("long").alias("n_purchasers"),
        F.sum("e").cast("long").alias("n_erroring"),
        F.sum(
            (F.col("p") + F.col("e") == 2).cast("long")
        ).alias("n_overlap"),
        F.sum(
            ((F.col("p") == 1) & (F.col("e") == 0)).cast("long")
        ).alias("n_purchase_only"),
    )
    eps = 0.05
    # error envelope ∝ union size for every theta set operation
    tol = eps * (F.col("n_purchasers") + F.col("n_erroring"))

    def within(est_col: str, exact_col: str):
        return F.abs(F.col(est_col) - F.col(exact_col)) <= tol

    # singleton × singleton: a scalar join, not a cartesian scan
    return exact.crossJoin(F.broadcast(est)).select(
        "n_purchasers",
        "n_erroring",
        "n_overlap",
        "n_purchase_only",
        within("est_p", "n_purchasers").alias("purchasers_within_eps"),
        within("est_e", "n_erroring").alias("erroring_within_eps"),
        within("est_overlap", "n_overlap").alias("overlap_within_eps"),
        within("est_diff", "n_purchase_only").alias("diff_within_eps"),
    )


# ---------------------------------------------------------------------------
# Q45 — custom aggregate via an Arrow-batched pandas UDAF
# (GROUPED_AGG pandas_udf): weighted median of extended price,
# weighted by quantity, per return flag — an aggregate with NO
# built-in equivalent (percentile_approx is unweighted), pinning the
# UDAF surface the way test_udtf.py pins UDTFs. SURVEY §2.2 lists
# UDF/UDAF/UDTF as absent from the reference; this is the UDAF
# member, on the sanctioned slow path: Arrow-batched per group,
# NumPy inside, never row-at-a-time Python.
#
# Scale shape: one shuffle on the grouping key; each group's
# (value, weight) pair arrives as Arrow series. The 100 TB caveat is
# group size — a pandas UDAF materializes one group per call, so
# billion-row groups want the two-pass weighted-quantile (bucketed
# CDF) instead; at that point this operator IS the reference
# implementation the approximation is validated against.
#
# Determinism: the result is a SELECTED input value (lowest value
# whose cumulative weight reaches half the total), not arithmetic —
# identical in both engines because both walk the same value-sorted
# order.
# ---------------------------------------------------------------------------

Q45_ORACLE = """
WITH w AS (
  SELECT l_returnflag, l_extendedprice AS v, l_quantity AS wt,
         sum(l_quantity) OVER (PARTITION BY l_returnflag
                               ORDER BY l_extendedprice
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS cum,
         sum(l_quantity) OVER (PARTITION BY l_returnflag) AS total
  FROM lineitem
)
SELECT l_returnflag, min(v) AS weighted_median_price
FROM w
WHERE cum >= total / 2
GROUP BY l_returnflag
"""


@query("q45_pandas_udaf", oracle=Q45_ORACLE)
def q45_pandas_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit GROUPED_AGG marker: this module runs under
    # `from __future__ import annotations`, which stringifies type
    # hints and defeats the hint-based UDAF detection
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def weighted_median(v, wt):
        import numpy as _np

        order = _np.argsort(v.to_numpy(), kind="stable")
        vals = v.to_numpy()[order]
        cum = wt.to_numpy()[order].cumsum()
        half = cum[-1] / 2
        return float(vals[int(_np.searchsorted(cum, half))])

    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        weighted_median("l_extendedprice", "l_quantity").alias(
            "weighted_median_price"
        )
    )


# ---------------------------------------------------------------------------
# Q46 — GROUPING_ID disambiguation: a rollup whose output tells the
# consumer WHICH nulls are subtotal placeholders and which are data.
# q10-q12 produce the multi-level aggregates; this closes their
# consumption gap — `grouping(col)` is the only correct way to
# distinguish a subtotal row from a row whose grouping value is
# genuinely NULL (filtering `col IS NULL` conflates the two and is
# the classic rollup-reading bug). Same Expand-based plan as q10;
# grouping flags ride the expand for free.
# ---------------------------------------------------------------------------

Q46_ORACLE = """
SELECT coalesce(l_returnflag, '(all)') AS returnflag,
       coalesce(l_linestatus, '(all)') AS linestatus,
       CAST(GROUPING(l_returnflag) AS BIGINT) AS is_flag_subtotal,
       CAST(GROUPING(l_linestatus) AS BIGINT) AS is_status_subtotal,
       count(*) AS n
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


@query("q46_grouping_id", oracle=Q46_ORACLE)
def q46_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("bigint").alias("is_flag_subtotal"),
            F.grouping("l_linestatus").cast("bigint").alias(
                "is_status_subtotal"
            ),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("(all)")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("(all)")).alias("linestatus"),
            "is_flag_subtotal",
            "is_status_subtotal",
            "n",
        )
    )


# ---------------------------------------------------------------------------
# Q47/Q48/Q49 — ε-bound checks for the approximate family (q41 HLL,
# q44 theta, q27 KLL quantile). The sketches themselves are rows-only
# (engine-specific binary forms with no DuckDB twin), which left them
# without differential evidence; these companions restore it. Shape:
# the Spark query computes BOTH the exact answer and the sketch
# estimate, emits the exact value plus a boolean
# `estimate BETWEEN exact*(1-ε) AND exact*(1+ε)`; the oracle computes
# the same exact value in DuckDB and emits `TRUE`. The driver's
# type-sensitive value hash then matches iff (a) the exact
# computation agrees across engines and (b) every sketch estimate is
# inside its ε-band — a real differential gate on accuracy, not just
# row counts. The ε values are ≥3σ for each sketch's default config
# (HLL lgConfigK=12 → RSE≈1.6%; theta lgNomEntries=12 is exact below
# 4096 entries; KLL accuracy=10000 → rank error 1e-4 ≪ the ±0.05
# rank band), so a hash-fail means a broken sketch, not noise.
#
# Scale note: the exact side (count_distinct / exact percentile) is
# the VERIFICATION harness, intentionally run at test SF; production
# at 100 TB runs only the sketch side (q41/q44/q27).
# ---------------------------------------------------------------------------

Q47_ORACLE = """
SELECT date_trunc('week', ts) AS week,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_weekly_users,
       TRUE AS within_eps
FROM events
GROUP BY week
"""


@query("q47_hll_error_bound", oracle=Q47_ORACLE)
def q47_hll_error_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    week = F.date_trunc("week", "ts").alias("week")
    est = _hll_weekly_rollup(ev).select("week", "est")
    exact = ev.groupBy(week).agg(
        F.count_distinct("user_id").alias("exact_weekly_users")
    )
    eps = 0.05
    lo = F.col("exact_weekly_users") * (1 - eps)
    hi = F.col("exact_weekly_users") * (1 + eps)
    return exact.join(est, "week").select(
        "week",
        "exact_weekly_users",
        (F.col("est").between(lo, hi)).alias("within_eps"),
    )


Q48_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_overlap_exact,
       TRUE AS within_eps
FROM (
  SELECT user_id FROM events GROUP BY user_id
  HAVING bool_or(event_type = 'purchase') AND bool_or(event_type = 'error')
) t
"""


@query("q48_theta_error_bound", oracle=Q48_ORACLE)
def q48_theta_error_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    sketches = _theta_purchase_error_sketches(ev)
    est = sketches.select(
        F.theta_sketch_estimate(
            F.theta_intersection(F.col("purchasers"), F.col("erroring"))
        ).alias("est")
    )
    exact = (
        ev.groupBy("user_id")
        .agg(
            F.max(
                (F.col("event_type") == "purchase").cast("int")
            ).alias("p"),
            F.max((F.col("event_type") == "error").cast("int")).alias("e"),
        )
        .agg(
            # coalesce: on an EMPTY events input this global sum
            # yields NULL while the oracle's COUNT(*) over an empty
            # HAVING-filtered subquery yields 0
            F.coalesce(
                F.sum((F.col("p") + F.col("e") == 2).cast("long")),
                F.lit(0).cast("long"),
            ).alias("n_overlap_exact"),
            # |A| + |B| >= |A ∪ B|: the intersection estimate's error
            # envelope scales with the UNION, not the overlap — a
            # relative band collapses to [0,0] on a small
            # or empty overlap and false-fails a healthy sketch; this
            # is the same absolute union-scaled tolerance q44 uses.
            F.coalesce(
                F.sum("p") + F.sum("e"), F.lit(0).cast("long")
            ).alias("_n_union_bound"),
        )
    )
    eps = 0.05
    tol = eps * F.col("_n_union_bound")
    # singleton × singleton: a scalar join, not a cartesian scan
    return exact.crossJoin(F.broadcast(est)).select(
        "n_overlap_exact",
        (
            # est also coalesces: theta_sketch_agg over zero non-null
            # values can yield a NULL sketch/estimate, and NULL <= 0
            # would emit NULL where the oracle pins TRUE
            F.abs(
                F.coalesce(F.col("est"), F.lit(0.0))
                - F.col("n_overlap_exact")
            )
            <= tol
        ).alias("within_eps"),
    )


Q49_ORACLE = """
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
       TRUE AS within_rank_eps,
       TRUE AS acd_within_eps
FROM lineitem
GROUP BY l_returnflag
"""


@query("q49_approx_quantile_bound", oracle=Q49_ORACLE)
def q49_approx_quantile_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Covers BOTH of q27's sketch members: the KLL median inside a
    # ±0.05 rank band (accuracy 10000 → rank error 1e-4, enormous
    # slack) and HLL++ approx_count_distinct within ±15% of the exact
    # count (default rsd 0.05 → 3σ = 15%).
    li = table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", 0.5).alias("amed"),
        F.expr("percentile(l_extendedprice, 0.45)").alias("lo"),
        F.expr("percentile(l_extendedprice, 0.55)").alias("hi"),
        F.count(F.lit(1)).alias("n_rows"),
        F.approx_count_distinct("l_partkey").alias("acd"),
        F.count_distinct("l_partkey").alias("exact_parts"),
    )
    acd_eps = 0.15
    return agg.select(
        "l_returnflag",
        "n_rows",
        "exact_parts",
        (F.col("amed").between(F.col("lo"), F.col("hi"))).alias(
            "within_rank_eps"
        ),
        (
            F.col("acd").between(
                F.col("exact_parts") * (1 - acd_eps),
                F.col("exact_parts") * (1 + acd_eps),
            )
        ).alias("acd_within_eps"),
    )


# ---------------------------------------------------------------------------
# Q50 — TPC-H Q21 SHAPE (the hardest classic join composite): EXISTS
# and NOT EXISTS correlated against the SAME fact table, stacked on an
# inner join — "suppliers solely responsible for a problem on
# finalized multi-supplier orders". (The fixture lacks receipt/commit
# dates, so l_returnflag = 'R' stands in for Q21's late-delivery
# predicate; the operator SHAPE — inner join + correlated semi +
# correlated anti with mixed equi/non-equi conditions — is the
# point.) Spark plans the EXISTS as LeftSemi and the NOT EXISTS as
# LeftAnti on the l_orderkey equi key, carrying the suppkey
# inequality as the join residual — three passes over lineitem, all
# clustered on orderkey, so AQE can reuse one exchange layout; no
# per-row subquery execution anywhere.
#
# Determinism: exact counts only.
# ---------------------------------------------------------------------------

Q50_ORACLE = """
SELECT s_name, count(*) AS numwait
FROM supplier, lineitem l1, orders
WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
  AND o_orderstatus = 'F' AND l1.l_returnflag = 'R'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY s_name
"""


@query("q50_exists_notexists_chain", oracle=Q50_ORACLE)
def q50_exists_notexists_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    supplier = table(spark, sf_dir, "supplier")
    l1 = (
        li.filter(F.col("l_returnflag") == "R")
        .join(
            orders.filter(F.col("o_orderstatus") == "F").select("o_orderkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select("l_orderkey", "l_suppkey")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2")
    )
    l3 = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("k3"), F.col("l_suppkey").alias("s3")
    )
    only_problem = (
        l1.join(
            l2,
            (F.col("l_orderkey") == F.col("k2"))
            & (F.col("l_suppkey") != F.col("s2")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == F.col("k3"))
            & (F.col("l_suppkey") != F.col("s3")),
            "left_anti",
        )
    )
    return (
        only_problem.join(
            supplier, F.col("l_suppkey") == F.col("s_suppkey")
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


# ---------------------------------------------------------------------------
# Q51 — Python UDTF in a SQL LATERAL join (the UDTF member of the
# UDF/UDAF/UDTF surface; q45 is the UDAF member, test_udtf.py pins
# registration mechanics): per-row stateful expansion — character
# bigrams over each doc's prefix — aggregated to a deterministic
# global top-20. The UDTF is the sanctioned slow path for
# row-stateful generators (parsers/segmenters) that cannot be one
# column expression; everything around it (LATERAL fan-out, count
# aggregate, ranked limit) stays JVM-side. The oracle reproduces the
# bigram expansion with pure SQL list functions, so the Python
# generator's semantics are differentially checked, not assumed.
#
# The UDTF class ships to workers by value with the package, so they
# unpickle it without the repo on their path (the driver runs queries
# from an arbitrary cwd).
# ---------------------------------------------------------------------------

Q51_PREFIX_LEN = 16
Q51_TOP_N = 20

Q51_ORACLE = f"""
WITH b AS (
  SELECT unnest(list_transform(
           range(1, length(substr(text, 1, {Q51_PREFIX_LEN}))),
           i -> substr(substr(text, 1, {Q51_PREFIX_LEN}), i, 2)
         )) AS ngram
  FROM documents
)
SELECT ngram, CAST(COUNT(*) AS BIGINT) AS n
FROM b GROUP BY ngram
ORDER BY n DESC, ngram
LIMIT {Q51_TOP_N}
"""


@query("q51_udtf_bigram_topk", oracle=Q51_ORACLE)
def q51_udtf_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    prefix_len = Q51_PREFIX_LEN

    # Arrow-optimized UDTF (Spark 4): rows cross the Python boundary
    # in Arrow batches (ArrowEvalPythonUDTF), not pickled row-at-a-time
    # — the same sanctioned-slow-path rule the kernels follow, and the
    # catalog-wide no-BatchEvalPython plan guard enforces it.
    @udtf(returnType="ngram: string", useArrow=True)
    class Bigrams:
        def eval(self, text: str):
            if text is None:
                return
            p = text[:prefix_len]
            for i in range(len(p) - 1):
                yield (p[i : i + 2],)

    spark.udtf.register("q51_bigrams", Bigrams)
    table(spark, sf_dir, "documents").createOrReplaceTempView("q51_docs")
    return spark.sql(
        f"""
        SELECT b.ngram, COUNT(*) AS n
        FROM q51_docs d, LATERAL q51_bigrams(d.text) b
        GROUP BY b.ngram
        ORDER BY n DESC, b.ngram
        LIMIT {Q51_TOP_N}
        """
    )


# ---------------------------------------------------------------------------
# Q52 — OUTER lateral generation (explode_outer): fan out one row per
# matched regex token, but PRESERVE rows whose array is empty with a
# NULL token — the null-generating half of the generator surface
# (q29's plain explode silently DROPS empty-array rows, which in an
# audit/anti-join pipeline is a correctness bug: "docs with no
# matches" vanish instead of surfacing). Same codegen Generate node
# with outer=true; no join, no shuffle. The oracle mirrors with a
# LEFT JOIN LATERAL unnest.
#
# The extraction ('qu'-prefixed words) splits the fixture corpus
# ~77/23 between matching and empty-array docs, so BOTH generator
# sides — fan-out rows and null-preserved rows — are genuinely
# exercised, not vacuous.
# ---------------------------------------------------------------------------

Q52_ORACLE = """
SELECT d.doc_id, t.tok AS qu_token
FROM documents d
LEFT JOIN LATERAL unnest(regexp_extract_all(d.text, 'qu[a-z]+')) AS t(tok)
  ON TRUE
"""


@query("q52_explode_outer", oracle=Q52_ORACLE)
def q52_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.explode_outer(
            F.expr(r"regexp_extract_all(text, 'qu[a-z]+', 0)")
        ).alias("qu_token"),
    )


# ---------------------------------------------------------------------------
# Q53 — ordered string aggregation (LISTAGG ... WITHIN GROUP, SQL:2016;
# Spark 4.0's native listagg, DuckDB's string_agg ORDER BY): per order
# priority, the top-5 orders by value rendered as a comma-joined key
# list — the report/export shape where row ORDER inside a group is
# part of the VALUE, which plain collect_list + array_join cannot
# guarantee (aggregation input order is partition-dependent; WITHIN
# GROUP pins it in the operator itself). The top-5 pre-filter is a
# rank window, so the id composes window top-k with ordered
# aggregation.
#
# Determinism: the WITHIN GROUP ordering carries the same
# (o_totalprice DESC, o_orderkey) tie-break as the rank window —
# identical strings on any engine, any partitioning.
#
# Scale shape: rank prunes to 5 rows per group BEFORE the listagg, so
# the ordered aggregation touches O(groups·k) rows; the window itself
# is one shuffle on the group key (same plan family as q13/w01). On a
# 100 TB fact table the rank's partial top-k (WindowGroupLimit pushes
# rn <= 5 below the shuffle since Spark 3.5) keeps the exchange
# bounded.
# ---------------------------------------------------------------------------

Q53_ORACLE = """
WITH ranked AS (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders)
SELECT o_orderpriority,
       string_agg(CAST(o_orderkey AS VARCHAR),
                  ',' ORDER BY o_totalprice DESC, o_orderkey) AS top_keys,
       count(*) AS n_in_list
FROM ranked WHERE rn <= 5
GROUP BY o_orderpriority
"""


@query("q53_listagg_ordered", oracle=Q53_ORACLE)
def q53_listagg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q53 — LISTAGG ... WITHIN GROUP (ordered string aggregation):
    top-5 orders per priority as a comma-joined key list; group-internal
    order is part of the value and pinned by the WITHIN GROUP clause."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("q53_orders")
    return spark.sql(
        """
        WITH ranked AS (
          SELECT o_orderpriority, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_orderpriority
                                    ORDER BY o_totalprice DESC,
                                             o_orderkey) AS rn
          FROM q53_orders)
        SELECT o_orderpriority,
               listagg(CAST(o_orderkey AS STRING), ',')
                 WITHIN GROUP (ORDER BY o_totalprice DESC, o_orderkey)
                 AS top_keys,
               count(*) AS n_in_list
        FROM ranked WHERE rn <= 5
        GROUP BY o_orderpriority
        """
    )


# ---------------------------------------------------------------------------
# Q54 — NOT IN over a NULLABLE key: three-valued-logic anti-join, the
# classic SQL trap q06 (hash anti) and q35 (NOT EXISTS) do NOT
# exhibit. `x NOT IN (S)` is NULL — i.e. filters the row out — when x
# is NULL and S is non-empty, and when S contains a NULL it filters
# out EVERY row; a plain LeftAnti on the equi-key keeps NULL-key rows
# instead. Spark plans this as BroadcastHashJoin LeftAnti with the
# isNullAwareAntiJoin flag (NAAJ, visible as the trailing `true` in
# the join node; asserted in tests/test_plans_physical.py) — the
# dedicated physical path that checks the build side for NULLs before
# deciding whether anything survives.
#
# Shape: events keyed by a NULLIF-manufactured nullable uid, minus
# users with any high-value error event. Thresholds chosen so BOTH
# fixture scales keep the exclusion AND the NULL-drop live (sf0.001:
# 8 survivors of 15 users; sf0.01: 74 of 150 — subquery non-empty at
# both, so every NULL-uid row is dropped by 3VL, which the oracle
# reproduces by running the very same SQL).
#
# Scale shape: the subquery aggregates to distinct keys and
# broadcasts; the probe side streams map-side (no shuffle before the
# final group-by). On a 100 TB fact table the build side is bounded
# by distinct offending keys, the standard NAAJ deployment.
# ---------------------------------------------------------------------------

Q54_SQL = """
WITH e AS (
  SELECT event_id, NULLIF(user_id, 3) AS uid, event_type, value
  FROM {events}
)
SELECT uid, count(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
FROM e
WHERE uid NOT IN (SELECT user_id FROM {events}
                  WHERE event_type = 'error' AND value > 150)
GROUP BY uid
"""

Q54_ORACLE = Q54_SQL.format(events="events")


@query("q54_not_in_null_aware", oracle=Q54_ORACLE)
def q54_not_in_null_aware(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q54 — NOT IN over a nullable key (3VL null-aware anti-join,
    planned as Spark's NAAJ BroadcastHashJoin): per-user event rollup
    excluding users with any high-value error AND — by three-valued
    logic — every NULL-key row, which a plain anti join would keep."""
    table(spark, sf_dir, "events").createOrReplaceTempView("q54_events")
    return spark.sql(Q54_SQL.format(events="q54_events"))

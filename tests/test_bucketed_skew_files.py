"""Bucketed co-located joins, salted skew joins, file-source pinning."""

from __future__ import annotations

import contextlib

import pytest
from pyspark.sql import functions as F

from omop_dump_to_parquet_spark.operators.skew import salted_join
from omop_dump_to_parquet_spark.sinks.bucketed import write_bucketed
from omop_dump_to_parquet_spark.sources.files import (
    infer_then_pin,
    read_csv,
    read_json,
)
from omop_dump_to_parquet_spark.sources.parquet import table


def _plan(df) -> str:
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


@contextlib.contextmanager
def _conf(spark, key, value):
    old = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


@pytest.fixture(scope="module")
def bucketed_pair(spark, sf_small, tmp_path_factory):
    base = tmp_path_factory.mktemp("bucketed")
    li = table(spark, sf_small, "lineitem")
    orders = table(spark, sf_small, "orders")
    write_bucketed(
        li, "li_b", ["l_orderkey"], 4, sort_cols=["l_orderkey"],
        path=str(base / "li_b"),
    )
    write_bucketed(
        orders, "o_b", ["o_orderkey"], 4, sort_cols=["o_orderkey"],
        path=str(base / "o_b"),
    )
    yield "li_b", "o_b"
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS o_b")


def test_bucketed_join_has_no_shuffle(spark, bucketed_pair, sf_small):
    li_t, o_t = bucketed_pair
    # read through the catalog: a path read loses the bucket spec
    li, orders = spark.table(li_t), spark.table(o_t)
    # Force SMJ so the bucket layout (not a broadcast) carries the join.
    with _conf(spark, "spark.sql.autoBroadcastJoinThreshold", "-1"):
        j = li.join(orders, li.l_orderkey == orders.o_orderkey)
        plan = _plan(j)
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        assert j.count() == table(spark, sf_small, "lineitem").count()


def test_unbucketed_same_join_does_shuffle(spark, sf_small):
    li = table(spark, sf_small, "lineitem")
    orders = table(spark, sf_small, "orders")
    with _conf(spark, "spark.sql.autoBroadcastJoinThreshold", "-1"):
        plan = _plan(li.join(orders, li.l_orderkey == orders.o_orderkey))
        assert "Exchange" in plan  # the cost bucketing removes


def test_bucket_pruning_on_key_equality(spark, bucketed_pair):
    li_t, _ = bucketed_pair
    li = spark.table(li_t)
    # autoBucketedScan turns the bucketed layout OFF when no shuffle is
    # saved; force it on so the scan can bucket-prune the point lookup.
    with _conf(
        spark, "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false"
    ):
        plan = _plan(li.filter(F.col("l_orderkey") == 1))
        assert "SelectedBucketsCount: 1 out of 4" in plan, plan


def test_salted_join_matches_plain_join(spark, sf_small):
    li = table(spark, sf_small, "lineitem").select(
        F.col("l_orderkey").alias("okey"), "l_quantity"
    )
    orders = table(spark, sf_small, "orders").select(
        F.col("o_orderkey").alias("okey"), "o_orderpriority"
    )
    salted = salted_join(li, orders, on=["okey"], n_salts=4)
    plain = li.join(orders, on=["okey"])
    assert salted.columns == plain.columns
    assert salted.count() == plain.count()
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0


def test_csv_roundtrip_with_pinned_schema(spark, sf_small, tmp_path):
    nation = table(spark, sf_small, "nation")
    path = str(tmp_path / "nation_csv")
    nation.write.option("header", "true").csv(path)

    pinned = read_csv(spark, path, schema=nation.schema)
    assert pinned.schema == nation.schema
    assert pinned.exceptAll(nation).count() == 0

    schema, df = infer_then_pin(spark, path, fmt="csv")
    assert df.schema == schema
    assert df.count() == nation.count()


def test_json_roundtrip(spark, sf_small, tmp_path):
    region = table(spark, sf_small, "region")
    path = str(tmp_path / "region_json")
    region.write.json(path)
    back = read_json(spark, path, schema=region.schema)
    assert back.schema == region.schema
    assert back.exceptAll(region).count() == 0


def test_infer_then_pin_bounds_sample_on_scheme_uri(spark, tmp_path):
    """r10 review: the sample bounding used os.path.isdir/os.listdir,
    which return nothing for scheme-prefixed URIs — inference then
    scanned the FULL directory. The listing now goes through the
    Hadoop FileSystem API: with sample_files=1 on a file: URI, the
    pinned schema must come from the lexicographically FIRST file
    only (drift in a later file must NOT widen the inferred type)."""
    d = tmp_path / "landing"
    d.mkdir()
    (d / "a.csv").write_text("k,v\n1,10\n2,20\n")
    (d / "b.csv").write_text("k,v\n3,oops\n")  # drift: v not an int
    schema, df = infer_then_pin(
        spark, f"file:{d}", fmt="csv", sample_files=1
    )
    v_type = dict((f.name, f.dataType.simpleString()) for f in schema)["v"]
    assert v_type in ("int", "bigint"), v_type  # from a.csv alone
    assert df.count() == 3  # full read still covers every file


def test_salted_join_spreads_duplicate_keyonly_rows(spark, sf_small):
    """r10 review: salting from row-content hash alone gave every
    duplicate of a hot key ONE salt — the exact key-only/semi-join
    shape the operator exists for degenerated to a no-op spread. With
    the partition id mixed in, a hot key arriving from several input
    partitions must take several salts (and results stay identical)."""
    from pyspark.sql import functions as F

    from omop_dump_to_parquet_spark.operators.skew import SALT, salted_join

    # one hot key, duplicated 400x, key-only projection, 8 partitions
    hot = (
        spark.range(400)
        .select(F.lit(7).alias("k"))
        .repartition(8)
    )
    dim = spark.range(10).select(F.col("id").alias("k"))
    out = salted_join(hot, dim, on=["k"], n_salts=4)
    assert out.count() == 400  # semantics preserved
    # inspect the salt distribution the join would shuffle on
    from pyspark.sql.types import MapType

    hashable = [
        f.name for f in hot.schema.fields
        if not isinstance(f.dataType, MapType)
    ]
    salts = (
        hot.withColumn(
            SALT,
            F.pmod(F.hash(F.spark_partition_id(), *hashable), F.lit(4)),
        )
        .select(SALT)
        .distinct()
        .count()
    )
    assert salts > 1, "hot-key rows still funneled into one salt"


def test_salted_join_tolerates_map_columns(spark):
    """Spark's hash() rejects MapType; the salt derivation must
    exclude map columns instead of failing analysis."""
    from pyspark.sql import functions as F

    from omop_dump_to_parquet_spark.operators.skew import salted_join

    left = spark.range(20).select(
        (F.col("id") % 3).alias("k"),
        F.create_map(F.lit("a"), F.col("id")).alias("props"),
    )
    right = spark.range(3).select(F.col("id").alias("k"))
    out = salted_join(left, right, on=["k"], n_salts=4)
    assert out.count() == 20

from __future__ import annotations

import duckdb
import pytest

from omop_dump_to_parquet_spark.session import get_spark
from omop_dump_to_parquet_spark.sources.parquet import FIXTURE_TABLES

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"


def count_jobs(spark, fn, group):
    """Run ``fn`` under a job group; return (its value, the jobs it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        value = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return value, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_small() -> str:
    return SF_SMALL


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with fixture views registered, mirroring the
    driver's oracle harness."""
    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_SMALL}/{t}.parquet')"
        )
    yield con
    con.close()

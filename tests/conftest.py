from __future__ import annotations

import ast
import collections
import pathlib

import duckdb
import pytest

import omop_dump_to_parquet_spark
from omop_dump_to_parquet_spark.session import get_spark
from omop_dump_to_parquet_spark.sources.parquet import FIXTURE_TABLES

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"
PACKAGE = pathlib.Path(omop_dump_to_parquet_spark.__file__).resolve().parent


def count_jobs(spark, fn, group):
    """Run ``fn`` under a job group; return (its value, the jobs it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        value = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return value, len(sc.statusTracker().getJobIdsForGroup(group))


def parquet_codecs(path):
    """Count the codec of every column chunk in every Parquet file
    under ``path``, read from the footers."""
    import pyarrow.parquet as pq

    found = collections.Counter()
    for f in pathlib.Path(path).rglob("*.parquet"):
        md = pq.ParquetFile(f).metadata
        for g in range(md.num_row_groups):
            for c in range(md.num_columns):
                found[md.row_group(g).column(c).compression] += 1
    return found


def parquet_encodings(path):
    """Per column, count the (encodings, has a dictionary page) of
    every column chunk in every Parquet file under ``path``, read from
    the footers."""
    import pyarrow.parquet as pq

    found = collections.defaultdict(collections.Counter)
    for f in pathlib.Path(path).rglob("*.parquet"):
        md = pq.ParquetFile(f).metadata
        for g in range(md.num_row_groups):
            for c in range(md.num_columns):
                chunk = md.row_group(g).column(c)
                found[chunk.path_in_schema][
                    (tuple(sorted(chunk.encodings)), chunk.has_dictionary_page)
                ] += 1
    return found


def _land_dump(spark, src, out, keys):
    from omop_dump_to_parquet_spark.plans import dump_table

    assert dump_table(spark, src, out).ok


def _land_compaction(spark, src, out, keys):
    from omop_dump_to_parquet_spark.sinks import compact_parquet_dir

    src.repartition(8).write.option("compression", "snappy").parquet(out)
    assert compact_parquet_dir(spark, out, target_file_bytes=1 << 30) == 1


def _land_upsert(spark, src, out, keys):
    from omop_dump_to_parquet_spark.plans import upsert_parquet

    src.write.option("compression", "snappy").parquet(out)
    upsert_parquet(spark, out, src.limit(5), keys)


def _land_resume(spark, src, out, keys):
    from pyspark.sql import functions as F

    from omop_dump_to_parquet_spark.plans.resume import dump_table_resumable

    lo, hi = src.agg(F.min(keys[0]), F.max(keys[0])).first()
    assert dump_table_resumable(spark, src, out, keys[0], lo, hi, 3).ok


def _land_bucketed(spark, src, out, keys):
    from omop_dump_to_parquet_spark.sinks import write_bucketed

    try:
        write_bucketed(src, "sink_b", keys[:1], 4, path=out)
    finally:
        spark.sql("DROP TABLE IF EXISTS sink_b")


#: Each way the package lands Parquet: ``land(spark, src, out, keys)``
#: writes ``src`` under ``out``; ``keys`` is a unique key of ``src``
#: whose first column is integral.
SINKS = {
    "dump_table": _land_dump,
    "compaction": _land_compaction,
    "upsert": _land_upsert,
    "resume": _land_resume,
    "bucketed": _land_bucketed,
}


def package_calls(names):
    """Count the package's calls to any of ``names``, as ``callee(...)``
    or ``obj.callee(...)``, keyed by (file, enclosing function path,
    callee)."""
    found = collections.Counter()

    def visit(node, path, scope):
        for child in ast.iter_child_nodes(node):
            inner = scope
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                inner = (*scope, child.name)
            if isinstance(child, ast.Call):
                f = child.func
                callee = f.attr if isinstance(f, ast.Attribute) else getattr(
                    f, "id", None
                )
                if callee in names:
                    found[(path, ".".join(scope), callee)] += 1
            visit(child, path, inner)

    for f in sorted(PACKAGE.rglob("*.py")):
        visit(ast.parse(f.read_text()), f.relative_to(PACKAGE).as_posix(), ())
    return found


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

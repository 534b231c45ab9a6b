"""File-format ingestion (CSV / JSON lines) with pinned schemas.

The reference's schema subsystem infers a schema from a bounded sample
once, pins it, and enforces it on every output shard
(``schema_from_table``, ``dump_table.py:116-148``; SURVEY.md §1.3).
These readers carry the same semantics to file ingestion, where it
matters even more: schema inference over a 100 TB landing directory is
a full extra pass over the data, and letting every batch re-infer
invites silent drift (a day of all-null columns inferring as string).

``infer_then_pin`` does the reference's move Spark-first: infer from a
bounded sample via ``samplingRatio``/limited file list, then re-read
the FULL path with the pinned schema — the production read is a single
schema-checked pass, and every downstream parquet shard inherits one
schema by construction (SURVEY.md §1.3 steps 3-5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
    header: bool = True,
    **options: str,
) -> DataFrame:
    """Read CSV; with ``schema=None`` Spark infers (extra pass — use
    :func:`infer_then_pin` for production paths)."""
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.csv(path)


def read_json(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
    **options: str,
) -> DataFrame:
    """Read JSON-lines; same pinning contract as :func:`read_csv`."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.json(path)


def infer_then_pin(
    spark: SparkSession,
    path: str,
    fmt: str = "csv",
    sample_files: int = 1,
    **options: str,
) -> tuple[StructType, DataFrame]:
    """Infer a schema from a bounded sample, then re-read the full
    path with that schema pinned.

    Returns ``(schema, df)``. Inference with ``inferSchema`` scans
    everything it is POINTED AT before any ``limit`` applies, so the
    bound must be on the file list: infer from the first
    ``sample_files`` files (driver-side listing, lexicographic — the
    reference's 10-row probe at directory granularity,
    ``dump_table.py:128``), then read the FULL path with the pinned
    schema — the production pass does zero inference.
    """
    from .. import fs

    read = read_csv if fmt == "csv" else read_json
    # The bounding listing goes through the Hadoop FileSystem API, not
    # os.*: driver-side os.path.isdir/os.listdir return
    # nothing for s3a://, hdfs:// or file:-scheme URIs, so the
    # inference read would silently scan the FULL landing directory —
    # the exact extra pass this function exists to avoid.
    sample = [path]
    try:
        entries = fs.list_entries(spark, path)
    except Exception:
        entries = []  # glob / missing path: let the full read surface it
    names = sorted(
        e.name
        for e in entries
        if not e.is_dir and not e.name.startswith(("_", "."))
    )
    base = path.rstrip("/").rpartition("/")[2]
    if names and names != [base]:  # listStatus(file) returns itself
        sample = [f"{path.rstrip('/')}/{n}" for n in names[:sample_files]]
    schema = read(spark, sample, schema=None, **options).schema
    return schema, read(spark, path, schema=schema, **options)

"""Bucketed-table sink: pre-shuffled storage for shuffle-free joins.

The single biggest cost in a 100 TB join is the shuffle of both fact
tables onto the join key. Bucketing pays that shuffle ONCE at write
time: ``bucketBy(n, key)`` hash-partitions rows into a fixed number of
buckets per partition directory, and records the layout in the table
catalog. Two tables bucketed on the same key with the same bucket
count then sort-merge join with **no Exchange at all** — each task
zips bucket *i* of the left with bucket *i* of the right. With
``sortBy`` the per-bucket files are also pre-sorted, removing the sort
step too.

This generalizes the reference's sized-shard sink (``dump_table.py:
156-233``): where the reference fixes *rows per file*, bucketing fixes
*key placement per file*, which is the property repeated downstream
joins need. Bucket count is chosen once per table and must divide
evenly into cluster parallelism (buckets are the unit of join-task
fan-out; at 100 TB pick O(cores) buckets of ~128-512 MiB each).

Spark-first notes:
- ``saveAsTable`` (not ``parquet(path)``) is required — the bucket
  spec lives in the session catalog, and plain path reads can't see it.
- the reader side needs ``spark.sql.sources.bucketing.enabled=true``
  (default) and benefits from ``bucketing.autoBucketedScan.enabled``.
- bucket pruning: an equality predicate on the bucket key scans 1/n of
  the files — visible as ``Bucketed: true``/``SelectedBucketsCount``
  in ``.explain("formatted")``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .parquet_sink import parquet_options


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a bucketed (optionally per-bucket-sorted)
    parquet table registered in the session catalog, written with the
    sinks' ``parquet_options``.

    ``path`` makes it an external table at that location; otherwise it
    lands under ``spark.sql.warehouse.dir``.
    """
    writer = (
        df.write.format("parquet")
        .mode(mode)
        .options(**parquet_options(df.schema))
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)

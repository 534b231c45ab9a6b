"""Keyed upsert into the Parquet lake — incremental re-dump.

The reference re-dumps the whole NOTE table every run
(``dump_table.py:94``: ``select * from NOTE``). When the source keeps
growing/changing, the operational need becomes: apply a fresh snapshot
(or CDC batch) of changed rows WITHOUT rewriting 100 TB. Plain Parquet
has no ACID merge, so the engine-level primitive is merge-by-rewrite:

    merged = updates ∪ (current ⟕-anti updates on key)

— updated keys take the new row, unmatched keys keep the old one,
new keys append. The anti-join is key-only until the final projection,
so the shuffle carries keys + row pointers, not payloads, when the
optimizer can prune (CLOB-wide NOTE rows make this matter).

Scale: with a hive/bucket layout, restrict the rewrite to partitions
that actually contain updated keys (partition-pruned anti join) — the
100 TB version rewrites only touched partitions. The rewrite lands
through :func:`plans.dump.dump_table`, so it is verified from its
footers (count, schema, file sizing) before the same atomic-rename
swap as sinks/compact.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .. import fs
from ..sinks import REFERENCE_SIZING
from .dump import dump_table


def upsert_parquet(
    spark: SparkSession,
    lake_path: str,
    updates: DataFrame,
    key_cols: list[str],
    max_records_per_file: int = REFERENCE_SIZING["rows_per_file"],
) -> int:
    """Merge ``updates`` into the lake at ``lake_path`` by key.

    Returns the merged row count. Updates win on key collision; the
    rewrite is verified before the swap. Schema equality compares
    (name, type) pairs only — parquet read-back marks everything
    nullable, so nullability is presentation, not drift (same rule as
    ``verify.py``).

    Swap caveat: plain filesystems cannot atomically replace a
    directory, so the swap is two renames (old→aside, new→live).
    Recovery order matters: a crash INSIDE the swap window leaves the
    only copy under ``.__upsert_old``, so cleanup first checks whether
    the live path is missing and RESTORES the aside copy before ever
    deleting anything. True atomicity needs a manifest/table format
    (Delta/Iceberg) — out of scope for a plain-parquet lake.

    All path manipulation goes through the Hadoop FileSystem API
    (``fs.py``) so the swap works unchanged on ``file:``, HDFS and
    object-store schemes. On object stores a directory "rename" is a
    server-side copy+delete (O(files), not O(1)) — correct but wider
    as a crash window; a manifest format is the real fix at that tier.
    """
    tmp = f"{lake_path}.__upsert_tmp"
    old = f"{lake_path}.__upsert_old"
    if not fs.exists(spark, lake_path) and fs.exists(spark, old):
        # crashed mid-swap: restore, don't delete
        fs.rename(spark, old, lake_path)
    for stale in (tmp, old):  # now safe: the live copy exists
        fs.delete(spark, stale)

    current = spark.read.parquet(lake_path)
    if [(f.name, f.dataType) for f in current.schema.fields] != [
        (f.name, f.dataType) for f in updates.schema.fields
    ]:
        raise ValueError(
            f"upsert schema mismatch: {current.schema.simpleString()} "
            f"vs {updates.schema.simpleString()}"
        )
    # Persist updates AND MATERIALIZE IT NOW (the count() action):
    # its subtree feeds BOTH union branches (directly, and negated
    # through the anti join). A lazy persist would not help — the
    # first job to touch it races get-or-compute per partition, so a
    # nondeterministic source (limit/sample/shuffle-dependent) could
    # still evaluate to different key sets per branch. After the
    # count, every partition is pinned, both branches read the same
    # rows, and n_updates is an INDEPENDENT expectation (not derived
    # from the write job it validates).
    updates = updates.persist()
    try:
        n_updates = updates.count()
        # Duplicate keys WITHIN the batch would silently land multiple
        # rows per key in the lake (the anti-join removes the old row,
        # then the union keeps every batch duplicate) and the
        # conservation check cannot catch it — it counts the same
        # duplicates on both sides. "Updates win" is only
        # well-defined for one row per key: fail fast and make the
        # caller resolve intra-batch order (a CDC batch carries an
        # ordering column — see operators/pipeline.py p05's
        # latest-wins window for the recipe).
        n_keys = updates.select(*key_cols).distinct().count()
        if n_keys != n_updates:
            raise ValueError(
                f"updates batch has {n_updates - n_keys} duplicate "
                f"key(s) over {key_cols}: keep-latest must be resolved "
                "BEFORE upsert (window by key, order by the batch's "
                "sequence column) — silently merging both rows would "
                "break key uniqueness in the lake"
            )
        kept = current.join(
            updates.select(*key_cols), on=key_cols, how="left_anti"
        )
        result = dump_table(
            spark,
            updates.unionByName(kept),
            tmp,
            max_records_per_file=max_records_per_file,
        )
        # Two-sided conservation: dump_table checks the footers against
        # the rows that flowed into the write; the independent
        # expectation is n_updates (pinned above) + kept.count()
        # (deterministic: a parquet scan anti-joined against the pinned
        # cache).
        expected = n_updates + kept.count()
        failure = result.failure(expected)
        if failure:
            fs.delete(spark, tmp)  # keep the original lake
            raise RuntimeError(f"upsert {failure}")
    finally:
        updates.unpersist()
    fs.rename(spark, lake_path, old)
    fs.rename(spark, tmp, lake_path)
    fs.delete(spark, old)
    return result.report.total_rows

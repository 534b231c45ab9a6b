"""Small-files compaction — the lake maintenance pass.

Streaming ingest (plans/stream_dump), hive partitioning, and per-task
sharding all create files far below the reference's deliberate
~500k-row shards (``dump_table.py:182-183``); at 100 TB the resulting
file-listing and task-scheduling overhead dominates scan time long
before I/O does. Compaction rewrites a directory to files near a
target byte size, preserving row count and schema (the reference's
O10 conservation contract). The rewrite lands through
:func:`plans.dump.dump_table`, so it is verified from its footers
(count, schema, file sizing) before it replaces anything.

Sizing uses the ACTUAL on-disk bytes (driver-side listing — file
metadata only, never data), not a rows×width guess, so compressed
width variation is accounted for. A directory landed with another
codec (snappy, say) is sized by its own bytes, so its first rewrite
lands smaller ``PARQUET_CODEC`` files that one more run may merge
again; after that the layout is stable. The rewrite is a plain
repartition-and-write to a sibling directory followed by an atomic
rename — readers see the old layout or the new one, never a mix.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from .. import fs
from ..verify import verify_parquet

DEFAULT_TARGET_BYTES = 128 * 1024 * 1024  # one comfortable scan split

_TMP = ".__compact_tmp"
_OLD = ".__compact_old"


def _marker(path: str, suffix: str) -> str:
    """Crash-recovery staging path for ``path``: a DOT-PREFIXED
    sibling (``parent/.name<suffix>``). The dot matters:
    when ``path`` is a hive partition leaf, a plain-named sibling
    (``root/col=1.__compact_tmp``) sits INSIDE the discovered root —
    a concurrent ``spark.read.parquet(root)`` would pick it up as an
    extra partition value (corrupting the partition column's type and
    double-counting the leaf mid-rewrite). Hadoop/Spark's hidden-file
    filter skips ``.``/``_``-prefixed entries at every listing level,
    so the staged copy is invisible to readers of the root while
    remaining visible to our own ``fs.list_entries`` recovery scan."""
    parent, _, name = path.rstrip("/").rpartition("/")
    hidden = f".{name}{suffix}"
    return f"{parent}/{hidden}" if parent else hidden


def compact_parquet_dir(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = DEFAULT_TARGET_BYTES,
    min_files_to_bother: int = 2,
) -> int:
    """Rewrite ``path`` into ≈``total_bytes/target_file_bytes`` files.

    Returns the new file count (or the current one if no compaction
    was needed). The rewrite must hold the footer row count of the old
    layout, which is kept as ``path`` until the swap.

    Hive-partitioned lakes (``path/col=value/…``) are compacted
    per partition directory — each leaf keeps its partition-pruning
    layout and only its own files are rewritten.

    Swap caveat (same as plans/upsert.py): a directory cannot be
    replaced atomically on a plain filesystem; the two-rename window
    is preceded by stale-state cleanup so crashed runs never wedge
    the next one, and a crash mid-swap leaves the data recoverable
    under ``.__compact_old``.
    """
    # Crash recovery FIRST, and in the safe order: if a prior run died
    # mid-swap the only copy of a leaf lives under .__compact_old —
    # restore it before any deletion. Stale marker dirs also contain
    # "=" for hive leaves, so they must never be mistaken for
    # partition directories. All listing/rename/delete goes through
    # the Hadoop FileSystem API (fs.py) so the same code serves
    # file:, HDFS and object-store lakes.
    if not fs.exists(spark, path) and fs.exists(spark, _marker(path, _OLD)):
        fs.rename(spark, _marker(path, _OLD), path)
    for stale in (_marker(path, _TMP), _marker(path, _OLD)):
        fs.delete(spark, stale)
    # plain-sibling root markers (``path.__compact_old``), the naming
    # older releases staged swaps under: a lake that crashed
    # mid-compaction under that naming must still be restored and
    # cleaned here; leaf-level legacy markers need no extra branch
    # because the endswith() scan below already matches them.
    legacy_old = f"{path.rstrip('/')}{_OLD}"
    legacy_tmp = f"{path.rstrip('/')}{_TMP}"
    if not fs.exists(spark, path) and fs.exists(spark, legacy_old):
        fs.rename(spark, legacy_old, path)
    for stale in (legacy_tmp, legacy_old):
        fs.delete(spark, stale)

    for e in fs.list_entries(spark, path):
        # stale markers INSIDE a hive root (leaf-level crash): restore
        # a missing leaf from its .__compact_old, drop everything else.
        # Marker names are dot-prefixed (``_marker``); strip the dot to
        # recover the leaf name.
        full = f"{path}/{e.name}"
        if e.name.endswith(_OLD):
            leaf = f"{path}/{e.name[: -len(_OLD)].lstrip('.')}"
            if not fs.exists(spark, leaf):
                fs.rename(spark, full, leaf)
            else:
                fs.delete(spark, full)
        elif e.name.endswith(_TMP):
            fs.delete(spark, full)
    entries = fs.list_entries(spark, path)
    subdirs = [
        f"{path}/{e.name}"
        for e in entries
        if "=" in e.name and e.is_dir and not e.name.startswith((".", "_"))
    ]
    total = 0
    if subdirs:  # hive layout: recurse into each partition directory
        total = sum(
            compact_parquet_dir(
                spark, d, target_file_bytes, min_files_to_bother
            )
            for d in subdirs
        )
    files = [e for e in entries if e.name.endswith(".parquet")]
    if subdirs and not files:
        return total
    if subdirs and files:
        # mixed layout (loose files next to partition dirs): the loose
        # files cannot be rewritten in place without clobbering the
        # partition dirs on swap — surface it instead of silently
        # skipping them.
        raise ValueError(
            f"{path} mixes {len(files)} loose parquet files with "
            f"{len(subdirs)} partition directories; compact the loose "
            "files into a partition (or a separate directory) first"
        )
    if len(files) < min_files_to_bother:
        return len(files)
    total_bytes = sum(e.size for e in files)
    n_target = max(1, round(total_bytes / target_file_bytes))
    if n_target >= len(files):
        return len(files)  # already at or below target sizes

    from ..plans.dump import dump_table  # plans imports sinks

    expected = verify_parquet(spark, path).total_rows
    tmp = _marker(path, _TMP)
    # maxRecordsPerFile must not undercut the target: the sink's
    # default (2^19 rows) silently splits each of the n_target
    # partitions for narrow rows, producing ~4× the intended files and
    # making every later maintenance run re-rewrite the directory
    # without converging. Size it from the ACTUAL row count with a
    # small headroom over round-robin's near-even split.
    rows_per_file = -(-expected // n_target)  # ceil
    result = dump_table(
        spark,
        spark.read.parquet(path),
        tmp,
        num_files=n_target,
        max_records_per_file=rows_per_file + max(64, rows_per_file // 16),
    )
    failure = result.failure(expected)
    if failure:
        fs.delete(spark, tmp)  # keep the original
        raise RuntimeError(f"compaction of {path} {failure}")
    old = _marker(path, _OLD)
    fs.rename(spark, path, old)
    fs.rename(spark, tmp, path)
    fs.delete(spark, old)
    return n_target

"""Scheme-agnostic filesystem operations via the Hadoop FileSystem API.

Driver-side ``os``/``shutil`` calls silently no-op (or crash) on
object-store URIs (``s3a://``, ``abfs://``, ``hdfs://``) — and at
100 TB the lake IS an object store. Every path manipulation in the
maintenance plans (upsert swap, compaction swap, stale-state cleanup)
goes through the JVM's ``org.apache.hadoop.fs.FileSystem`` instead,
which dispatches to the scheme's registered implementation, so the
identical code path serves ``file:``, HDFS and cloud stores. This is
the same API ``verify.py`` uses for its shard listing (the reference
re-lists its output directory the same way before verification,
dump_table.py:235-248).

Semantics note: Hadoop ``rename``/``delete`` report failure by
RETURNING FALSE, unlike ``os`` which raises — these wrappers convert
a false return into an exception so callers can't silently lose a
swap step.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import SparkSession


def _jpath(spark: SparkSession, path: str):
    """A Hadoop ``Path``, its class looked up by its fully qualified
    name: a ``jvm.org.apache…`` walk sends one py4j lookup per package
    segment."""
    return getattr(spark._jvm, "org.apache.hadoop.fs.Path")(path)


def _fs_path(spark: SparkSession, path: str):
    jpath = _jpath(spark, path)
    fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, jpath


def exists(spark: SparkSession, path: str) -> bool:
    fs, jpath = _fs_path(spark, path)
    return bool(fs.exists(jpath))


def rename(spark: SparkSession, src: str, dst: str) -> None:
    """Rename ``src`` to ``dst``; raises if the filesystem refuses
    (Hadoop signals e.g. an existing destination FILE by returning
    false).

    An existing destination DIRECTORY is refused explicitly: Hadoop's
    rename would otherwise move ``src`` INSIDE it
    and return true — a swap step (``rename(tmp, path)``) racing a
    concurrent re-creation of ``path`` would silently nest the lake
    at ``path/<tmp-name>/…`` with no error anywhere. The check is
    best-effort (TOCTOU window remains), but it converts the common
    failure into a loud one."""
    fs, jsrc = _fs_path(spark, src)
    jdst = _jpath(spark, dst)
    if fs.exists(jdst):
        raise OSError(f"rename refused: destination exists: {dst}")
    if not fs.rename(jsrc, jdst):
        raise OSError(f"rename failed: {src} -> {dst}")


def delete(spark: SparkSession, path: str) -> None:
    """Recursively delete ``path``; a missing path is not an error
    (mirrors ``shutil.rmtree(..., ignore_errors=True)`` for absence,
    but any other refusal raises)."""
    fs, jpath = _fs_path(spark, path)
    if not fs.exists(jpath):
        return
    if not fs.delete(jpath, True):
        raise OSError(f"delete failed: {path}")


@dataclass(frozen=True)
class Entry:
    """One immediate child of a directory (metadata only)."""

    name: str
    is_dir: bool
    size: int


def list_entries(spark: SparkSession, path: str) -> list[Entry]:
    """Immediate children of ``path`` as (name, is_dir, bytes), sorted
    by name. One metadata round-trip; never reads data."""
    fs, jpath = _fs_path(spark, path)
    out = [
        Entry(
            name=st.getPath().getName(),
            is_dir=bool(st.isDirectory()),
            size=int(st.getLen()),
        )
        for st in fs.listStatus(jpath)
    ]
    return sorted(out, key=lambda e: e.name)


def write_text(spark: SparkSession, path: str, payload: str) -> None:
    """Write a small text file with rename-commit semantics: create
    under a temp name, then Hadoop-rename into place. First write of a
    path is atomic (on HDFS/file:); a REWRITE is delete-then-rename,
    so readers see old-value-or-new-value, never partial bytes, but
    with a small absence window between the delete and the rename.
    The manifest/marker primitive — markers are written once and
    existence-checked, which never hits the rewrite window."""
    tmp = f"{path}.inprogress"
    fs, jtmp = _fs_path(spark, tmp)
    out = fs.create(jtmp, True)
    try:
        out.write(bytearray(payload.encode("utf-8")))
    finally:
        out.close()
    # Hadoop rename refuses an existing destination — clear it first.
    # Readers therefore see old-value-or-new-value (never partial),
    # with a small absence window on rewrite; the manifest use case
    # (markers written once, existence-checked) never rewrites.
    delete(spark, path)
    rename(spark, tmp, path)


def read_text(spark: SparkSession, path: str) -> str:
    """Read a small text file written by :func:`write_text`,
    byte-faithfully. ``spark.read.text`` is NOT a faithful inverse:
    Hadoop's line reader strips ``\\n``/``\\r\\n`` terminators, so a
    payload with a trailing newline would read back unequal to what
    was written. The copy runs
    JVM-side (one ``byte[]`` transfer, no per-byte py4j round trips)."""
    fs, jpath = _fs_path(spark, path)
    jvm = spark._jvm
    ins = fs.open(jpath)
    try:
        out = getattr(jvm, "java.io.ByteArrayOutputStream")()
        getattr(jvm, "org.apache.hadoop.io.IOUtils").copyBytes(ins, out, 8192, False)
        return bytes(out.toByteArray()).decode("utf-8")
    finally:
        ins.close()

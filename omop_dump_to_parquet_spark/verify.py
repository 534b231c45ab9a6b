"""Read-back verification — the reference's correctness mechanism.

The reference re-opens its output directory as a ``ParquetDataset``,
prints the unified schema, and sums per-fragment (footer) row counts
(``dump_table.py:235-248``). Its golden properties are therefore:

1. count conservation: read-back rows == rows written,
2. schema stability: every shard agrees with the pinned schema,
3. shard sizing: no file exceeds the rows-per-file cap.

This module lifts those properties into engine checks. Counting a
parquet directory in Spark is metadata-cheap (vectorized reader +
count-star rewrite reads footers, not column data), matching the
reference's footer trick.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _norm_uri(uri: str) -> str:
    """Canonical key for a file URI so the two listing sources agree.

    ``input_file_name()`` returns percent-encoded ``file:///a%20b``
    URIs; Hadoop's ``Path.toUri`` renders ``file:/a b``. Decode and
    normalize to ``scheme://netloc/path`` so paths with spaces (or any
    URL-escapable byte) don't double-count as phantom 0-row shards.
    """
    from urllib.parse import unquote, urlparse

    pr = urlparse(uri)
    scheme = pr.scheme or "file"
    return f"{scheme}://{pr.netloc}{unquote(pr.path)}"


def _list_parquet_uris(spark: SparkSession, path: str) -> list[str]:
    """Recursive ``.parquet`` listing through the Hadoop FileSystem
    API — works for ANY registered scheme (file, hdfs, s3a, abfs…),
    unlike a driver-side ``os.walk``, which silently reports nothing
    for object-store paths."""
    jvm = spark._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(hconf)
    # Apply Spark's hidden-file rule to every component BELOW the
    # root (r10 review): spark.read.parquet never sees files under
    # `_`/`.`-prefixed entries (e.g. compaction's dot-prefixed
    # staging dirs, _temporary), so counting them here would fail
    # verification on a lake that is actually correct.
    root_uri = fs.makeQualified(jpath).toUri().toString().rstrip("/")
    uris: list[str] = []
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        f = it.next()
        uri = f.getPath().toUri().toString()
        if not uri.endswith(".parquet"):
            continue
        rel = uri[len(root_uri):] if uri.startswith(root_uri) else uri
        if any(seg.startswith(("_", ".")) for seg in rel.split("/") if seg):
            continue
        uris.append(uri)
    return uris


@dataclass
class VerifyReport:
    total_rows: int
    n_files: int
    per_file_rows: dict[str, int] = field(default_factory=dict)
    schema_matches: bool | None = None
    count_matches: bool | None = None
    sizing_ok: bool | None = None
    max_file_rows: int = 0

    @property
    def ok(self) -> bool:
        return (
            (self.schema_matches is not False)
            and (self.count_matches is not False)
            and (self.sizing_ok is not False)
        )


def _footer_row_counts(
    spark: SparkSession, uris: list[str]
) -> dict[str, int]:
    """Per-file row counts read from parquet FOOTER metadata only —
    the reference's verification trick (``dump_table.py:244-246`` sums
    ``fragment.count_rows()`` without scanning data). Goes through the
    JVM's ParquetFileReader so any Hadoop scheme works; cost is one
    footer round-trip per file, no column data."""
    jvm = spark._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    counts: dict[str, int] = {}
    for uri in uris:
        # Path(String) would take the listing's percent-encoding
        # literally (%20 as three path chars); Path(java.net.URI)
        # decodes it, so escapable paths resolve.
        jpath = jvm.org.apache.hadoop.fs.Path(jvm.java.net.URI.create(uri))
        infile = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            jpath, hconf
        )
        reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(infile)
        try:
            counts[_norm_uri(uri)] = int(reader.getRecordCount())
        finally:
            reader.close()
    return counts


def verify_parquet(
    spark: SparkSession,
    path: str,
    expected_count: int | None = None,
    expected_schema=None,
    max_records_per_file: int | None = None,
    fast: bool = False,
) -> VerifyReport:
    """Check count conservation + schema stability + shard sizing.

    Both modes check the same footer-level facts — per-file row
    counts, the schema and shard sizing — and neither decodes column
    data, so neither is a readability check: a file whose data pages
    are corrupt but whose footer is intact passes either way (only a
    query that reads the column, e.g. ``sum(length(c))``, fails).

    - ``fast=True`` — per-file counts from footer metadata only
      (``_footer_row_counts``), matching the reference's
      metadata-level verification.
    - ``fast=False`` (default) — per-file counts from a Spark
      ``groupBy(input_file_name())`` count; the count reads no column
      pages. Zero-row shards produce no rows for the groupBy to see,
      so the file list is reconciled against a Hadoop-FileSystem
      recursive listing (scheme-agnostic: file, hdfs, s3a, …) — they
      count as 0-row files instead of silently vanishing from the
      report.
    """
    back = spark.read.parquet(path)
    if fast:
        per_file = _footer_row_counts(spark, _list_parquet_uris(spark, path))
    else:
        per_file = {
            _norm_uri(r["file"]): r["rows"]
            for r in (
                back.groupBy(F.input_file_name().alias("file"))
                .agg(F.count(F.lit(1)).alias("rows"))
                .collect()
            )
        }
        for uri in _list_parquet_uris(spark, path):
            per_file.setdefault(_norm_uri(uri), 0)
    total = sum(per_file.values())
    report = VerifyReport(
        total_rows=total,
        n_files=len(per_file),
        per_file_rows=per_file,
        max_file_rows=max(per_file.values(), default=0),
    )
    if expected_count is not None:
        report.count_matches = total == expected_count
    if expected_schema is not None:
        report.schema_matches = [
            (f.name, f.dataType) for f in back.schema.fields
        ] == [(f.name, f.dataType) for f in expected_schema.fields]
    if max_records_per_file is not None:
        report.sizing_ok = report.max_file_rows <= max_records_per_file
    return report


def count_conserved(spark: SparkSession, source: DataFrame, path: str) -> bool:
    """Reference semantics in one line: rows out == rows in."""
    return spark.read.parquet(path).count() == source.count()


def schema_drift(pinned, incoming) -> list[str]:
    """Human-readable drift between the pinned schema and an incoming
    batch's schema: added / dropped / retyped columns.

    The reference freezes one inferred schema and forces every shard
    through it (``dump_table.py:203,222,233``) — under continuous
    ingest the same contract needs an explicit gate: an empty return
    means the batch conforms; anything else is the reject/alert list
    (silent pandas-style re-inference is exactly the failure mode the
    reference's pinning exists to prevent).
    """
    p = {f.name: f.dataType for f in pinned.fields}
    i = {f.name: f.dataType for f in incoming.fields}
    drift = [f"added column: {n} {t}" for n, t in i.items() if n not in p]
    drift += [f"dropped column: {n} {t}" for n, t in p.items() if n not in i]
    drift += [
        f"type change: {n} {p[n]} -> {i[n]}"
        for n in p
        if n in i and p[n] != i[n]
    ]
    return drift

"""Read-back verification from Parquet footers, on the driver.

The reference re-opens its output directory as a ``ParquetDataset``,
prints the unified schema, and sums per-fragment (footer) row counts
(``dump_table.py:235-248``). Its golden properties are therefore:

1. count conservation: read-back rows == rows written,
2. schema stability: every shard agrees with the pinned schema,
3. shard sizing: no file exceeds the rows-per-file cap.

``verify_parquet`` checks all three the same way, on one path: it
lists the files and reads each footer from the driver, through the
JVM's Hadoop and Parquet classes. No Spark job runs and no column data
is decoded, so a file with corrupt data pages but an intact footer
passes; only a query that reads the column fails on it.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from urllib.parse import unquote, urlparse

from pyspark.sql import SparkSession
from pyspark.sql.types import ArrayType, MapType, StructField, StructType


def _norm_uri(uri: str) -> str:
    """``per_file_rows`` key for a file URI: percent-decoded
    ``scheme://netloc/path``, so ``file:///a%20b`` (as ``Path.toUri``
    and ``input_file_name()`` render it) reads ``file:///a b``."""
    pr = urlparse(uri)
    scheme = pr.scheme or "file"
    return f"{scheme}://{pr.netloc}{unquote(pr.path)}"


def _list_parquet_files(fs, root) -> list:
    """``FileStatus`` of every visible ``.parquet`` file under ``root``,
    one Hadoop ``listStatus`` per directory (any scheme: file, hdfs,
    s3a…). Below the root, Spark's hidden-file rule skips names starting
    with ``_`` or ``.`` (``_temporary``, compaction's staging dirs), as
    ``spark.read.parquet`` does. A missing ``root`` raises Hadoop's
    ``FileNotFoundException``."""
    files, dirs = [], [root]
    while dirs:
        listing = fs.listStatus(dirs.pop())
        for i in range(len(listing)):
            status = listing[i]
            name = status.getPath().getName()
            if name.startswith(("_", ".")):
                continue
            if status.isDirectory():
                dirs.append(status.getPath())
            elif name.endswith(".parquet"):
                files.append(status)
    return files


def _as_read_back(dt):
    """``dt`` as Spark reads Parquet back: nullable at every nesting
    level, without field metadata."""
    if isinstance(dt, StructType):
        return StructType(
            [StructField(f.name, _as_read_back(f.dataType)) for f in dt.fields]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_as_read_back(dt.elementType))
    if isinstance(dt, MapType):
        return MapType(_as_read_back(dt.keyType), _as_read_back(dt.valueType))
    return dt


@dataclass
class VerifyReport:
    total_rows: int
    n_files: int
    total_bytes: int
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


def verify_parquet(
    spark: SparkSession,
    path: str,
    expected_count: int | None = None,
    expected_schema=None,
    max_records_per_file: int | None = None,
) -> VerifyReport:
    """Check count conservation, schema stability and shard sizing
    from the footer of every visible ``.parquet`` file under ``path``.

    One ``ParquetFileReader.readFooter`` per file gives the row count
    (summed over row groups) and the schema, which
    ``ParquetFileFormat.readSchemaFromFooter`` converts under the
    session's conf, as Spark's own inference does. So the schema check
    covers every file, not the one footer inference reads. It compares
    names and types and ignores nullability and field metadata at every
    level: Spark reads Parquet back all-nullable. A directory with no
    visible file matches no schema.

    The loops index (``size()``/``get(i)``, ``len``/``[i]``) instead of
    iterating: running a Java iterator to exhaustion from Python costs
    ~20 ms per loop (~0.25 ms indexed), as PySpark converts the final
    ``NoSuchElementException`` in a run of py4j round trips. On a
    4-vCPU host a 504-file directory verifies in ~0.9 s (8 files:
    ~0.05 s); reading it back through ``spark.read`` and a
    ``groupBy(input_file_name())`` count took ~2.7 s (8 files: ~0.45 s).
    """
    jvm = spark._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    read_footer = getattr(jvm, "org.apache.parquet.hadoop.ParquetFileReader").readFooter
    input_file = getattr(jvm, "org.apache.parquet.hadoop.util.HadoopInputFile").fromStatus
    no_filter = getattr(
        jvm, "org.apache.parquet.format.converter.ParquetMetadataConverter"
    ).NO_FILTER
    footer = getattr(jvm, "org.apache.parquet.hadoop.Footer")
    spark_parquet = "org.apache.spark.sql.execution.datasources.parquet."
    read_schema = getattr(jvm, spark_parquet + "ParquetFileFormat").readSchemaFromFooter
    converter = getattr(jvm, spark_parquet + "ParquetToSparkSchemaConverter")(
        spark._jsparkSession.sessionState().conf()
    )

    root = getattr(jvm, "org.apache.hadoop.fs.Path")(path)
    per_file: dict[str, int] = {}
    schemas: set[str] = set()
    total_bytes = 0
    for status in _list_parquet_files(root.getFileSystem(hconf), root):
        meta = read_footer(input_file(status, hconf), no_filter)
        blocks = meta.getBlocks()
        file_path = status.getPath()
        per_file[_norm_uri(file_path.toUri().toString())] = sum(
            blocks.get(i).getRowCount() for i in range(blocks.size())
        )
        total_bytes += status.getLen()
        if expected_schema is not None:
            schemas.add(read_schema(footer(file_path, meta), converter).json())

    report = VerifyReport(
        total_rows=sum(per_file.values()),
        n_files=len(per_file),
        total_bytes=total_bytes,
        per_file_rows=per_file,
        max_file_rows=max(per_file.values(), default=0),
    )
    if expected_count is not None:
        report.count_matches = report.total_rows == expected_count
    if expected_schema is not None:
        want = _as_read_back(expected_schema)
        report.schema_matches = bool(schemas) and all(
            _as_read_back(StructType.fromJson(json.loads(s))) == want
            for s in schemas
        )
    if max_records_per_file is not None:
        report.sizing_ok = report.max_file_rows <= max_records_per_file
    return report

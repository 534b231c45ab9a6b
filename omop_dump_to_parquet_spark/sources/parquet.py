"""Parquet lake access.

The reference's output product is a directory of sharded Parquet files
(``dump_table.py:156-157,221-233``); this module is the read side of
that product plus the fixture tables. Reads are
``spark.read.parquet`` so Catalyst applies predicate pushdown, column
pruning, and (on partitioned layouts) partition pruning — visible as
``PushedFilters``/``ReadSchema`` in ``.explain("formatted")``.

Relation memo. A plain ``spark.read.parquet`` runs a Spark job
(``SchemaMergeUtils.mergeSchemasInParallel``) to infer the schema from
the footers. Even with a known schema, a read pays two ``DataSource``
service lookups, a Hadoop ``Configuration`` copy, a new file index with
its own listing and a full analysis (~5 ms of driver time, JIT-warm,
4-vCPU host). ``table()`` and ``read_lake()`` pay that once: per
SparkSession (weakly keyed, so the memo goes with the session object)
and per path tuple, they keep the analyzed ``LogicalRelation`` of the
inferring read and the sorted (path, length, modification time) of the
leaf files it scans. A later read reuses the relation when all of
these hold:

* the same session;
* the same values of the confs that change what inference returns
  (``_INFERENCE_CONFS`` plus ``read_lake``'s ``merge_schema``);
* the same leaf files, listed again now by the rule Spark's file index
  lists with (``HadoopFSUtils.parallelListLeafFiles``: ``_`` and ``.``
  names are hidden, so a ``_SUCCESS`` or ``.crc`` file does not
  count), in a fixed number of py4j calls whatever the file count.

A hit returns ``Dataset.ofRows(session, relation.newInstance())``: the
same relation under fresh attribute ids, so two hits self-join like
two reads. It runs no job and builds no reader; it costs ~2 ms (1.8 ms
median on the benchmark lake's lineitem, against 5.2 ms for a read
with a known schema): ~0.5 ms each for the conf reads and the
listing, ~1 ms for the new Dataset.

Anything else, or any failure along the way (another plan shape, an
internal API change), falls back to plain inference, refills the
entry, and never raises on the memo's account. Limits:

* an in-place rewrite that keeps a file's length and its millisecond
  modification time is not detected, the same assumption Spark's own
  file-status cache makes;
* a hit lists on the driver, one directory at a time, where Spark
  lists many directories in a job;
* a layout the file index reads differently from its leaf files (a
  non-partitioned directory with files in subdirectories) never
  matches, so it re-infers on every read.
"""

from __future__ import annotations

import functools
import re
import weakref

from pyspark.sql import DataFrame, SparkSession

#: Tables the driver materializes at each scale factor (TESTDATA.md).
FIXTURE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Dimension tables small enough to HARD-broadcast at ANY scale
#: factor — TPC-H `region`/`nation` are fixed-cardinality (5/25 rows)
#: even at 100 TB. `supplier` GROWS with scale factor (10k rows/SF),
#: so it gets no hard hint: `spark.sql.autoBroadcastJoinThreshold` /
#: AQE decide per-run whether it still fits.
BROADCAST_DIMS = frozenset({"region", "nation"})

#: Session confs that change the schema Parquet inference returns.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)

#: session -> {paths: (confs, fingerprint, list_leaves, of_rows,
#: relation)}. An entry is one tuple, replaced whole, so a concurrent
#: reader sees an old or a new entry, never a mix; a lost race costs
#: one more inference.
_MEMO: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()

# One ``FileStatus.toString()`` per leaf file, e.g.
# ``LocatedFileStatus{path=file:/a/x.parquet; isDirectory=false;
# length=27156; ...; modification_time=1792208801303; ...}``.
_FILE_STATUS = re.compile(
    r"\w*FileStatus\{path=(.*); isDirectory=false; length=(\d+);"
    r".*?; modification_time=(\d+);"
)

#: ``parallelListLeafFiles``' directory count above which Spark lists
#: in a job: never reached, so a hit lists on the driver.
_INT_MAX = 2**31 - 1


def _parse(listing: str) -> tuple | None:
    """Sorted (path, length, mtime) of a NUL-joined run of
    ``FileStatus`` strings (a file path cannot hold a NUL), or None
    when one of them does not parse. A listing crosses py4j as one
    string, so its cost does not grow with round trips per file."""
    entries = []
    for status in listing.split("\0") if listing else ():
        m = _FILE_STATUS.match(status)
        if m is None:
            return None
        entries.append((m.group(1), int(m.group(2)), int(m.group(3))))
    return tuple(sorted(entries))


def _leaf_files(listed) -> tuple | None:
    """``_parse`` of a ``parallelListLeafFiles`` result, one (root,
    statuses) pair per root path."""
    return _parse(
        "\0".join(listed.apply(i)._2().mkString("\0") for i in range(listed.size()))
    )


def _memo_entry(spark: SparkSession, confs: tuple, df: DataFrame) -> tuple | None:
    """The memo entry of a freshly inferred ``df``: its analyzed
    relation, the listing that relation scans, and the JVM calls a hit
    makes, each resolved once by its class's fully qualified name
    (``HadoopFSUtils.parallelListLeafFiles`` lists the index's root
    paths by the rule the index itself lists with). None when ``df``
    is not a plain file relation."""
    relation = df._jdf.queryExecution().analyzed()
    location = relation.relation().location()
    fingerprint = _parse(location.allFiles().mkString("\0"))
    if not fingerprint:
        return None
    jvm, jsc = spark._jvm, spark.sparkContext._jsc
    list_leaves = functools.partial(
        getattr(jvm, "org.apache.spark.util.HadoopFSUtils").parallelListLeafFiles,
        jsc.sc(), location.rootPaths(), jsc.hadoopConfiguration(),
        None, False, False, _INT_MAX, 0,
    )
    of_rows = functools.partial(
        getattr(jvm, "org.apache.spark.sql.classic.Dataset").ofRows, spark._jsparkSession
    )
    return confs, fingerprint, list_leaves, of_rows, relation


def _read(
    spark: SparkSession, paths: tuple[str, ...], merge_schema: bool = False
) -> DataFrame:
    """``spark.read.parquet(*paths)``, reusing the relation this
    session already resolved for the same listing under the same confs
    (see the module docstring)."""
    confs = (merge_schema, *(spark.conf.get(k, None) for k in _INFERENCE_CONFS))
    memo = _MEMO.setdefault(spark, {})
    entry = memo.get(paths)
    if entry is not None and entry[0] == confs:
        _, fingerprint, list_leaves, of_rows, relation = entry
        try:
            if _leaf_files(list_leaves()) == fingerprint:
                return DataFrame(of_rows(relation.newInstance()), spark)
        except Exception:
            pass
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    df = reader.parquet(*paths)
    try:
        entry = _memo_entry(spark, confs, df)
    except Exception:
        entry = None
    if entry is not None:
        memo[paths] = entry
    return df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table from ``{sf_dir}/{name}.parquet``.

    This is the single choke point that canonicalizes fixture dtypes so
    the whole catalog can assume ``events.ts: timestamp`` (TIMESTAMP_LTZ)
    regardless of how the fixture's writer laid out the parquet
    (``canonical_ts``)."""
    df = _read(spark, (f"{sf_dir}/{name}.parquet",))
    return canonical_ts(df) if name == "events" else df


def canonical_ts(df: DataFrame) -> DataFrame:
    """``df`` (batch or streaming) with its ``ts`` column as TIMESTAMP,
    whichever physical layout the parquet holds. Layouts seen so far
    (fixtures are regenerated and have drifted between them):

    * TIMESTAMP(NANOS) read as a nanosecond ``bigint`` under
      ``spark.sql.legacy.parquet.nanosAsLong`` — truncate-divide to
      micros (same conversion DuckDB applies reading ns parquet as its
      us-native TIMESTAMP, so differential oracles agree).
    * ``timestamp[us]`` with ``isAdjustedToUTC=false``, which Spark
      reads as TIMESTAMP_NTZ — cast to TIMESTAMP. The session pins UTC
      (session.py), so NTZ→LTZ is value-preserving and ``unix_micros``
      et al. see the same instants DuckDB does; a stream needs it too,
      because EventTimeWatermark rejects TIMESTAMP_NTZ.
    * ``timestamp[us]`` already adjusted to UTC (plain TIMESTAMP) —
      passes through untouched.

    If a fixture arrives in a FOURTH layout, add its branch here, never at
    call sites — every operator assumes this contract.
    """
    from pyspark.sql import functions as F

    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def ts_us(col="ts"):
    """Event time as an epoch-microsecond long.

    Every catalog operator that needs arithmetic on ``events.ts`` goes
    through this helper rather than calling ``F.unix_micros`` directly,
    so if the driver ships yet another timestamp layout that ``table()``
    misses, the failure surfaces at one definition instead of N call
    sites. ``unix_micros`` requires TIMESTAMP (not NTZ) — ``table()``
    guarantees that; the analysis error otherwise names this function.

    Known failure signatures of a NEW unhandled layout (fix
    ``canonical_ts``, not the call site):

    * ``CANNOT_RESOLVE ... unix_micros(ts) ... TIMESTAMP_NTZ`` — a new
      not-UTC-adjusted physical type slipped past the ntz branch;
    * ``DATATYPE_MISMATCH ... "ts" is of bigint type`` from a window /
      range frame — an integer-encoded layout at a different unit
      (seconds/millis); extend the bigint branch with the right
      divisor, and keep the truncate-divide (DuckDB truncates too).
    """
    from pyspark.sql import functions as F

    return F.unix_micros(col if not isinstance(col, str) else F.col(col))


def read_lake(
    spark: SparkSession, *paths: str, merge_schema: bool = False
) -> DataFrame:
    """Read one or more Parquet lake locations as a single DataFrame.

    ``merge_schema=True`` turns on ADDITIVE SCHEMA EVOLUTION: shards
    written by an older dump generation (fewer columns) and a newer
    one (added nullable columns) read as one table with the union
    schema, pre-evolution rows NULL in the new columns — the standard
    Parquet-lake contract (every shard's footer carries its own
    schema; Spark unions them at planning time). A user of the
    reference hits this the first time a source table grows a column
    between dump runs (the reference itself would just start writing
    differently-shaped files into the same directory and break the
    next read).

    Off by default, deliberately: footer merging costs a planning
    pass over EVERY file footer, which at 100 TB (millions of shards)
    is a driver-side scan you should not pay on schema-stable lakes —
    the reference's own contract is a pinned schema (``verify.py``
    enforces it per dump). Turn it on only while a lake is
    mid-migration, then compact (``sinks/compact.py``) back to one
    schema.
    """
    return _read(spark, paths, merge_schema)

"""SparkSession construction tuned for this engine.

Local-mode defaults mirror what we would set fleet-wide on a real
cluster: AQE on (runtime join-strategy switches, skew-join splitting,
partition coalescing), shuffle partitions sized to cores rather than
the 200 default, Arrow enabled for the pandas-interop slow path, and a
pinned UTC session timezone so timestamp semantics are engine-stable
(parquet naive timestamps compare equal across Spark/DuckDB).

At 100 TB the same knobs scale: ``spark.sql.shuffle.partitions`` grows
to ~2-3× total cores, ``spark.sql.files.maxPartitionBytes`` stays at
128-256 MiB so scan tasks fit executor memory, and AQE re-coalesces
post-shuffle partitions at runtime regardless of the static setting.

Static confs (read once when the JVM starts) go on ``get_spark``'s
builder, never in ``RUNTIME_CONFS``: ``apply_runtime_confs`` swallows
the error Spark raises for a static key, so one put there silently
does nothing. The generated-code cache is one. Spark keeps the classes
Janino compiles for each codegen stage, projection and ordering in one
LRU of ``spark.sql.codegen.cache.maxEntries`` entries, 100 by default.
A serving session replays the same plans in a cycle, and an LRU smaller
than the cycle evicts every class just before its next use: each warm
query recompiled all of its classes, at ~13 ms each. That was ~145
classes per warm pass of the benchmark's ``lake-relational`` workload
and every one of the ~2,700 a catalog pass compiles. ``get_spark``
sizes the cache to hold the whole catalog, and a warm pass of that
workload now compiles none. A session the caller built keeps Spark's
100 entries.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Runtime-settable confs every entry point applies even to a session
#: it did not build (the driver hands us its own SparkSession).
RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # The events fixture stores TIMESTAMP(NANOS) which Spark's parquet
    # reader rejects; read as long and normalize in sources.parquet
    # (truncation to micros matches DuckDB's ns→us handling).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Name every generated stage class alike instead of after its
    # codegen stage id. AQE numbers a query's stages in the order they
    # are re-planned, which varies between runs of the same query, and
    # a class whose name differs is a different cache entry: identical
    # code then compiled again. Without the id, one catalog pass at
    # sf0.001 compiles ~1,700 distinct classes instead of ~2,030.
    "spark.sql.codegen.useIdInClassName": "false",
}


#: ``spark.sql.codegen.cache.maxEntries`` for sessions ``get_spark``
#: builds. One pass over all 168 catalog ids compiles 1,680-1,740
#: distinct classes at sf0.001, sf0.01 and sf0.1 alike; 4096 keeps more
#: than 2x headroom. A second pass then compiles 10-20: the classes of
#: plans AQE shapes differently from run to run. The cost is metaspace,
#: ~214-218 MB after a catalog pass against ~206 MB with 100 entries.
CODEGEN_CACHE_ENTRIES = 4096


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally built session.

    Safe to call repeatedly; every public query entry point calls this
    so correctness (UTC timestamps) does not depend on who built the
    session.

    A measurement harness can PIN a key against this re-application
    by setting ``spark.graft.pin.<key>`` on its session. Load-bearing
    for the determinism sweep's AQE axis (r10 review): without the
    pin, the sweep's AQE-"off" leg was silently flipped back on here
    at the first catalog call — both legs ran AQE-on and the
    certification was vacuous.
    """
    for k, v in RUNTIME_CONFS.items():
        try:
            if spark.conf.get(f"spark.graft.pin.{k}", None) is not None:
                continue
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on some builds — keep going
    return spark


def codegen_compilations(spark: SparkSession) -> int:
    """Classes Janino has compiled in this JVM so far (Spark's
    ``CodegenMetrics`` compilation-time histogram count). The difference
    across a call is the number of classes it compiled, i.e. its misses
    in the generated-code cache."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def get_shuffle_partitions(spark: SparkSession) -> int:
    """``spark.sql.shuffle.partitions`` as an int, falling back to
    cluster parallelism when the conf is non-numeric — some managed
    runtimes set it to ``"auto"``, and a bare ``int()`` would raise
    ``ValueError`` at plan-build time (advisor note r9).

    Named ``get_*`` so it cannot shadow / be shadowed by
    ``get_spark``'s ``shuffle_partitions`` kwarg below (r10 review)."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism


def host_cores() -> int:
    """CPUs this process may run on (``nproc``), at least 1."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # not Linux
        return os.cpu_count() or 1


def host_driver_memory() -> str:
    """Half the host's available memory as a driver heap, between 1 GB
    and 16 GB, so a local driver never asks for more heap than the box
    can back (the OS would kill it rather than Spark failing cleanly)."""
    try:
        with open("/proc/meminfo") as f:
            avail_kb = next(
                int(line.split()[1]) for line in f if line.startswith("MemAvailable:")
            )
    except (OSError, StopIteration, ValueError):
        avail_kb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 1024
    return f"{max(1024, min(16384, avail_kb // 2048))}m"


def get_spark(
    app_name: str = "omop_dump_to_parquet_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession with engine defaults.

    Cores and driver heap follow the host unless ``SPARK_GRAFT_CPUS`` /
    ``SPARK_DRIVER_MEM`` (or ``cores``) say otherwise."""
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS") or host_cores())
    shuffle_partitions = shuffle_partitions or cores
    memory = os.environ.get("SPARK_DRIVER_MEM") or host_driver_memory()
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", memory)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return apply_runtime_confs(spark)

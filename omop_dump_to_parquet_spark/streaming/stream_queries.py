"""Structured Streaming operators: the ``st*`` ids.

Each id replays fixture tables as a real ``readStream`` and runs the
streaming plan to completion, so its answer is oracle-comparable to
the batch computation (Structured Streaming's unification claim). One
harness runs every replay, and each replay decision has one owner:

- ``_read_fixture`` reads a fixture table on the replay session, as a
  stream (``readStream``) or as a static side (``read``). Its schema
  comes from ``sources.parquet``'s memo on the CALLER's session (the
  replay session is new on every call, so inferring there would run a
  job each time), and ``events.ts`` gets ``canonical_ts``, the same
  rule ``table()`` applies.
- ``_staged`` memoizes, once per process, the directories a replay
  needs beyond the fixture file: the events plus a flush sentinel
  (st01, st08, st09) and the events split into files (st07).
- ``_stream_session`` is the replay session: a clone of the caller's,
  with the state-partition width.
- ``_drive`` runs a started query until its input is processed and,
  for a watermarked replay, until a committed batch's watermark has
  passed the last real event (the flush), stops it, and returns its
  progress as an ``observe.ProgressLog``.
- ``_run_to_memory`` composes them for every memory-sink id and checks
  the single-batch contract; st07's foreachBatch upsert uses the
  session and ``_drive`` directly.

API-coverage note: Spark 4's ``transformWithStateInPandas`` (the
successor arbitrary-stateful API — multiple named state variables,
timers, TTL) is deliberately NOT a catalog id in this build: its
driver-side runner requires ``google.protobuf``, which this container
does not ship (verified: the stream fails at runner init with
``STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE`` / ImportError, not
at plan time — so an id registered on it could never pass a driver
window). The prior-generation ``applyInPandasWithState`` covers the
custom-stateful surface (st03) with zero extra dependencies.
"""

from __future__ import annotations

import atexit
import os
import re
import shutil
import tempfile
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.kernels import map_rows
from ..registry import query
from ..sources.parquet import _read, canonical_ts, table
from .observe import ProgressLog, batch_metrics

#: staging dirs by key (``_staged``), removed at interpreter exit.
_STAGED: dict[str, str] = {}


def _cleanup_staged() -> None:
    """Remove staged dirs at interpreter exit — a long-lived driver (or
    the correctness harness running from its own CWD) shouldn't
    accumulate temp dirs."""
    while _STAGED:
        _key, stage = _STAGED.popitem()
        shutil.rmtree(stage, ignore_errors=True)


atexit.register(_cleanup_staged)


def _staged(key: str, fill) -> str:
    """A temp dir that ``fill(dir)`` populates once per (process,
    ``key``) and every later replay reuses, instead of leaking a fresh
    mkdtemp per invocation; refilled if something removed it."""
    stage = _STAGED.get(key)
    if stage is None or not os.path.exists(stage):
        stage = tempfile.mkdtemp(prefix="stream_stage_")
        fill(stage)
        _STAGED[key] = stage
    return stage


def _read_fixture(
    spark: SparkSession,
    reader,
    sf_dir: str,
    name: str,
    stage: str | None = None,
) -> DataFrame:
    """Fixture table ``name`` through ``reader`` — ``s.readStream`` or
    ``s.read`` of the replay session ``s`` — with ``table()``'s dtypes
    and the schema ``sources.parquet`` memoized on the caller's session
    ``spark``, so a warm call runs no inference job.

    ``stage`` (a ``_staged`` dir) replaces the fixture file. The file
    itself is read through a one-file glob, because a file stream
    source takes a directory or a glob, never a file; ``sf_dir``'s own
    glob characters are escaped so they match only themselves."""
    schema = _read(spark, (f"{sf_dir}/{name}.parquet",)).schema
    glob = re.sub(r"([\\\[\]{}*?])", r"\\\1", sf_dir) + f"/{name}.parque[t]"
    df = reader.schema(schema).parquet(stage or glob)
    return canonical_ts(df) if name == "events" else df


def _events_footer_max_ts(sf_dir: str):
    """Max event time from the parquet FOOTER statistics (no data
    scan). Returns whatever the footer surfaces: a ``datetime`` for
    TIMESTAMP columns, an ``int`` (nanoseconds) for TIMESTAMP(NANOS)
    stored as int64 — the single definition both the flush-sentinel
    staging and the flush wait derive from, so a fixture ts-layout
    change is handled in exactly one place."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(os.path.abspath(f"{sf_dir}/events.parquet"))
    md = pf.metadata
    names = [md.schema.column(i).name for i in range(len(md.schema))]
    ts_idx = names.index("ts")
    stats = [
        md.row_group(i).column(ts_idx).statistics
        for i in range(md.num_row_groups)
    ]
    if not stats or any(s is None for s in stats):
        # fail HERE with the cause, not three frames deeper with
        # "max() arg is an empty sequence" / AttributeError from
        # staging: zero row groups or a writer that
        # skipped column statistics both make sentinel placement
        # impossible by this fast path.
        raise ValueError(
            f"{sf_dir}/events.parquet has no usable ts column "
            "statistics (zero row groups, or written without stats); "
            "the flush-sentinel staging needs the footer max — "
            "rewrite the fixture with statistics enabled"
        )
    return max(s.max for s in stats)


def _events_max_ts_iso(sf_dir: str) -> str:
    """Max real event time (shared footer walk, _events_footer_max_ts)
    as the ISO-millis string Spark's progress JSON uses."""
    import datetime as _dt

    max_ts = _events_footer_max_ts(sf_dir)
    if not isinstance(max_ts, _dt.datetime):  # TIMESTAMP(NANOS) as int
        max_ts = _dt.datetime(1970, 1, 1) + _dt.timedelta(
            microseconds=int(max_ts) // 1000
        )
    return max_ts.strftime("%Y-%m-%dT%H:%M:%S.") + (
        f"{max_ts.microsecond // 1000:03d}Z"
    )


def _stage_events_flush(sf_dir: str) -> str:
    """Staging dir holding the events fixture PLUS a one-row sentinel
    2 hours past the fixture's max event time (``event_type
    '__flush__'``).

    Why: in append mode a windowed aggregate emits a window only when
    the watermark passes its end, and the watermark advances only on
    arriving data — a finite replay would strand the final windows in
    state forever. The sentinel is the standard flush trick: it drags
    the watermark past every real window without contributing to any
    (it is filtered out downstream of the watermark node). A real
    deployment needs none of this — new data arrives continuously.

    The sentinel row is built from the parquet FOOTER only (schema +
    column statistics give max(ts) without scanning data) and written
    with pyarrow so it lands as a flat file the FileStreamSource lists.
    """

    def fill(stage: str) -> None:
        import datetime as _dt

        import pyarrow as pa
        import pyarrow.parquet as pq

        src = os.path.abspath(f"{sf_dir}/events.parquet")
        os.symlink(src, os.path.join(stage, "events.parquet"))
        max_ts = _events_footer_max_ts(sf_dir)
        one = pa.Table.from_batches(
            [next(pq.ParquetFile(src).iter_batches(batch_size=1))]
        )
        # Footer statistics surface TIMESTAMP columns as datetime.datetime
        # and TIMESTAMP(NANOS)/int64 physical columns as plain ints.
        if isinstance(max_ts, _dt.datetime):
            flush_val = max_ts + _dt.timedelta(hours=2)
        else:
            flush_val = int(max_ts) + 7_200_000_000_000  # +2h in ns
        flush_ts = pa.array([flush_val], type=one.schema.field("ts").type)
        sentinel = one.set_column(
            one.schema.get_field_index("ts"), "ts", flush_ts
        ).set_column(
            one.schema.get_field_index("event_type"),
            "event_type",
            pa.array(["__flush__"], type=pa.string()),
        )
        pq.write_table(sentinel, os.path.join(stage, "zz_flush.parquet"))

    return _staged(f"{sf_dir}::flush", fill)


#: State partition count for the streaming queries. Stateful operators
#: pay a PER-PARTITION constant every micro-batch — each partition's
#: state store(s) must be opened, updated, snapshotted, and committed
#: (a symmetric hash join keeps 4 stores per partition) — so state
#: parallelism must be sized by STATE VOLUME (O(arrival rate ×
#: watermark horizon)), never inherited from the batch shuffle width.
#: Measured at sf0.1 (40k buffered rows): ST05 runs 13.9s with the
#: batch-sized 32 partitions vs 3.1s with 8 — commitTimeMs alone was
#: 70s summed across the 32×4 stores. In a checkpointed production
#: job this is picked once at first start (it is frozen into the
#: checkpoint) and sized for peak state.
STREAM_STATE_PARTITIONS = 8


def _stream_session(spark: SparkSession) -> SparkSession:
    """A clone of ``spark`` (``newSession()``: separate SQLConf and
    temp-view catalog, shared SparkContext) to plan a replay on. The
    state-partition width lands on the clone only, so a caller planning
    batch queries on the original session concurrently can never
    observe the narrowed shuffle width, and a memory sink's temp view
    registers in the clone's catalog, keeping the caller's clean."""
    from ..session import apply_runtime_confs

    clone = spark.newSession()
    apply_runtime_confs(clone)
    # The incremental planner reads this at .start(); in a checkpointed
    # production job it is frozen into the checkpoint at first start.
    clone.conf.set(
        "spark.sql.shuffle.partitions", str(STREAM_STATE_PARTITIONS)
    )
    return clone


def _progress(q) -> ProgressLog:
    return ProgressLog([batch_metrics(p.json) for p in q.recentProgress])


def _drive(q, prefix: str, watermark_past: str | None = None) -> ProgressLog:
    """Run the started query ``q`` until its available input is
    processed, stop it, and return its progress.

    ``watermark_past``: append-mode window emission and outer-join
    unmatched-row emission happen in a follow-up NO-DATA micro-batch
    once the watermark passes them; ``processAllAvailable()`` only
    guarantees the source offsets are committed. So poll the query's
    progress for a committed batch whose watermark has passed the given
    instant — the deterministic "flush happened" signal, with no Spark
    job per poll — before stopping."""
    try:
        q.processAllAvailable()
        deadline = time.monotonic() + 30.0
        while watermark_past is not None and not any(
            m >= watermark_past for m in _progress(q).watermarks()
        ):
            if time.monotonic() > deadline:
                raise RuntimeError(
                    f"{prefix}: watermark never passed {watermark_past}; "
                    "the final windows or join rows were not flushed"
                )
            time.sleep(0.15)
        return _progress(q)
    finally:
        q.stop()


def _run_to_memory(
    build,
    spark: SparkSession,
    prefix: str,
    output_mode: str,
    expect_single_batch: bool = False,
    await_watermark_past: str | None = None,
) -> DataFrame:
    """Run a streaming plan to completion into a memory sink; returns
    the sink contents as a (batch) DataFrame on the replay session.
    ``build`` is a ``SparkSession -> streaming DataFrame`` callable,
    called with the ``_stream_session`` clone; ``await_watermark_past``
    is ``_drive``'s ``watermark_past``.

    ``expect_single_batch``: ST03/ST04's oracle-equality holds only if
    the replay lands in ONE micro-batch (update-mode sinks append each
    batch's rows; watermark eviction can re-emit keys across batches).
    The replay layout guarantees it (no maxFilesPerTrigger, so every
    file lands in the first batch) — this assertion turns any future
    violation into a loud error instead of a silent hash mismatch. An
    empty source runs no data batch; that passes when the sink is
    empty too (the answer is 0 rows).
    """
    sink = f"{prefix}_{uuid.uuid4().hex[:8]}"
    clone = _stream_session(spark)
    q = (
        build(clone)
        .writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(sink)
        .start()
    )
    n_data_batches = _drive(q, prefix, await_watermark_past).data_batches()
    out = clone.table(sink)
    if expect_single_batch and n_data_batches != 1:
        if n_data_batches != 0 or not out.isEmpty():
            raise RuntimeError(
                f"{prefix}: replay split into {n_data_batches} "
                "micro-batches; single-batch assumption violated"
            )
    return out


ST01_ORACLE = """
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY window_start, event_type
"""


@query("st01_stream_tumbling", oracle=ST01_ORACLE)
def st01_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows over a real readStream
    replay — append mode + watermark, the form that runs forever on an
    unbounded stream."""
    # Append mode + watermark: state holds only windows newer than the
    # watermark horizon and each window is emitted exactly once when
    # the watermark passes its end — the form that runs forever on an
    # unbounded stream (complete mode would retain every window ever
    # seen). The finite replay needs the '__flush__' sentinel (see
    # _stage_events_flush) to drag the watermark past the last real
    # window. The sentinel is NOT filtered inside the streaming plan:
    # Catalyst pushes deterministic filters BELOW EventTimeWatermark
    # (verified — a pre-agg filter strands the last 2 windows because
    # the sentinel is dropped before the watermark stats see it).
    # Instead it flows into its own group, whose window ends past the
    # final watermark and is therefore never emitted; the batch-side
    # filter on the sink below is insurance for that invariant.
    def build(s: SparkSession) -> DataFrame:
        stream = _read_fixture(
            spark, s.readStream, sf_dir, "events", _stage_events_flush(sf_dir)
        )
        return (
            stream.withWatermark("ts", "1 hour")
            .groupBy(
                F.window("ts", "1 hour").alias("win"),
                "event_type",
            )
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(12,2)"))
                .cast("double")
                .alias("sum_value"),
            )
            .select(
                F.col("win.start").alias("window_start"),
                "event_type",
                "n_events",
                "sum_value",
            )
        )

    out = _run_to_memory(
        build,
        spark,
        "st01_out",
        "append",
        expect_single_batch=True,
        await_watermark_past=_events_max_ts_iso(sf_dir),
    )
    return out.filter(F.col("event_type") != "__flush__")


# Gap comparison is >= : Spark's session_window is end-EXCLUSIVE
# ([start, start+gap)), so an event at exactly gap after its
# predecessor opens a NEW session — the oracle must split there too.
ST02_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
              OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sessions AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
)
SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
FROM sessions
GROUP BY user_id, session_id
"""


@query("st02_session_window", oracle=ST02_ORACLE)
def st02_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 30-minute-gap session windows (``F.session_window``) —
    dynamic-length sessionization, the streaming-native twin of w04's
    batch lag/cumsum formulation."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.session_window("ts", "30 minutes").alias("sw"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# ST03 — custom stateful streaming operator via applyInPandasWithState.
# Per-user running aggregate state (event count + running max value),
# emitted in update mode. Replaying the fixture as a single micro-batch
# makes the final update equal the batch aggregate, so even the
# stateful path gets a differential oracle.
# Scale: state is O(distinct users); a watermark-based timeout
# (ProcessingTimeTimeout) bounds it for unbounded key spaces.
# ---------------------------------------------------------------------------

ST03_ORACLE = """
SELECT user_id, COUNT(*) AS n_events, MAX(value) AS max_value
FROM events
GROUP BY user_id
"""


@query("st03_stateful_running_agg", oracle=ST03_ORACLE)
def st03_stateful_running_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    output_schema = "user_id long, n_events long, max_value double"
    state_schema = "n long, vmax double"

    def update_state(key, pdf_iter, state):
        import pandas as _pd

        n, vmax = (state.get if state.exists else (0, float("-inf")))
        for pdf in pdf_iter:
            n += len(pdf)
            m = pdf["value"].max()
            if m == m and m > vmax:  # NaN-safe
                vmax = float(m)
        state.update((n, vmax))
        # all-NULL/NaN values for a key: emit NULL like the oracle's
        # MAX(value), never the -inf sentinel
        out_max = None if vmax == float("-inf") else vmax
        yield _pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "max_value": [out_max]}
        )

    def build(s: SparkSession) -> DataFrame:
        from pyspark.sql.streaming.state import GroupStateTimeout

        stream = _read_fixture(spark, s.readStream, sf_dir, "events")
        return stream.groupBy("user_id").applyInPandasWithState(
            update_state,
            outputStructType=output_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    return _run_to_memory(
        build, spark, "st03_out", "update", expect_single_batch=True
    )


# ---------------------------------------------------------------------------
# ST04 — streaming dedup-on-ingest: dropDuplicatesWithinWatermark.
# The streaming form of the D01/D02 exact-dedup pass — the operator a
# continuously-fed training corpus needs so duplicates never land in
# the lake. State holds one entry per key only within the watermark
# horizon (expired keys are evicted), so state size is bounded by key
# arrival rate × horizon, not by stream history — the property that
# makes it run forever at 100 TB/day.
# Output = the dedupe keys only (which duplicate row survives is
# nondeterministic, the key set is not) so the batch oracle is a plain
# DISTINCT.
# ---------------------------------------------------------------------------

ST04_ORACLE = """
SELECT DISTINCT user_id, event_type FROM events
"""


@query("st04_stream_dedup", oracle=ST04_ORACLE)
def st04_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build(s: SparkSession) -> DataFrame:
        return (
            _read_fixture(spark, s.readStream, sf_dir, "events")
            .withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark(["user_id", "event_type"])
            .select("user_id", "event_type")
        )

    return _run_to_memory(
        build, spark, "st04_out", "append", expect_single_batch=True
    )


# ---------------------------------------------------------------------------
# ST05 — stream-stream interval join: purchases joined to error events
# of the same user within the preceding 10 minutes, BOTH sides
# unbounded streams. The watermark + time-range condition is what
# bounds join state: each side buffers only rows newer than
# (watermark − interval), so state is O(arrival rate × horizon)
# forever — the property that distinguishes this from an unbounded
# stream join, and the canonical Structured Streaming correlation
# pattern (errors preceding a purchase). Inner join in append mode
# yields exactly the batch join's rows, so the oracle is the plain
# range join.
# ---------------------------------------------------------------------------

ST05_ORACLE = """
SELECT p.event_id AS purchase_event, e.event_id AS error_event, p.user_id
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
JOIN (SELECT * FROM events WHERE event_type = 'error') e
  ON p.user_id = e.user_id
 AND epoch_us(e.ts) >= epoch_us(p.ts) - 600000000
 AND epoch_us(e.ts) <= epoch_us(p.ts)
"""


@query("st05_stream_stream_join", oracle=ST05_ORACLE)
def st05_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build(s: SparkSession) -> DataFrame:
        purchases = (
            _read_fixture(spark, s.readStream, sf_dir, "events")
            .filter(F.col("event_type") == "purchase")
            .select(
                F.col("event_id").alias("purchase_event"),
                "user_id",
                F.col("ts").alias("p_ts"),
            )
            .withWatermark("p_ts", "1 hour")
        )
        errors = (
            _read_fixture(spark, s.readStream, sf_dir, "events")
            .filter(F.col("event_type") == "error")
            .select(
                F.col("event_id").alias("error_event"),
                F.col("user_id").alias("e_user"),
                F.col("ts").alias("e_ts"),
            )
            .withWatermark("e_ts", "1 hour")
        )
        return purchases.join(
            errors,
            (F.col("user_id") == F.col("e_user"))
            & (F.col("e_ts") >= F.col("p_ts") - F.expr("INTERVAL 10 MINUTES"))
            & (F.col("e_ts") <= F.col("p_ts")),
        ).select("purchase_event", "error_event", "user_id")

    return _run_to_memory(build, spark, "st05_out", "append")


# ---------------------------------------------------------------------------
# ST06 — stream-STATIC enrichment join: the standard "attach dimension
# attributes to events on ingest" pattern. Stateless — no watermark,
# no state store: each micro-batch joins against the (broadcast)
# static table and emits immediately, so it runs forever at constant
# memory and any batch-side change is picked up on the next
# micro-batch (Spark re-plans the static side per batch for file
# sources). The static side is a dimension small enough to broadcast;
# at 100 TB-of-events scale that is exactly the shape this pattern
# requires — a big static side would call for pre-bucketing both
# sides instead.
# ---------------------------------------------------------------------------

ST06_ORACLE = """
SELECT event_id, user_id, event_type, c_mktsegment, c_nationkey
FROM events JOIN customer ON user_id = c_custkey
"""


@query("st06_stream_static_enrich", oracle=ST06_ORACLE)
def st06_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build(s: SparkSession) -> DataFrame:
        ev = _read_fixture(spark, s.readStream, sf_dir, "events")
        cust = _read_fixture(spark, s.read, sf_dir, "customer")
        return ev.join(
            F.broadcast(cust), ev.user_id == cust.c_custkey, "inner"
        ).select(
            "event_id", "user_id", "event_type", "c_mktsegment", "c_nationkey"
        )

    return _run_to_memory(build, spark, "st06_out", "append")


# ---------------------------------------------------------------------------
# ST07 — streaming → lake: foreachBatch keyed upsert (the ingestion
# sink pattern). A multi-batch replay (fixture split into 4 files,
# maxFilesPerTrigger=1) drives an update-mode per-user aggregate whose
# changed keys are MERGED into a plain-parquet lake each micro-batch
# via plans/upsert.py — the composition a production pipeline runs as
# "stream in, continuously-correct table out".
#
# Exactly-once: the aggregate state lives in the checkpoint, and the
# upsert is idempotent by key (re-applying a replayed batch writes the
# same rows), so crash/replay converges to the same lake — the
# standard foreachBatch idempotence argument. That argument requires
# an EXPLICIT checkpointLocation: without one Spark
# allocates a temporary checkpoint deleted on stop, and a restarted
# query would rebuild cumulative state from zero and overwrite
# correct lake totals with partials. The query below passes one,
# run-scoped next to the lake because each catalog invocation stages
# a fresh input; a production deployment keeps checkpoint + lake
# together on durable storage so restart RESUMES instead. The differential oracle
# is the BATCH per-user aggregate: after the last micro-batch the lake
# must equal it exactly (decimal state → exact sums, no ordering
# sensitivity).
#
# Scale: update mode emits only keys touched per batch; the merge
# anti-join rewrite is the cost — at 100 TB use a partitioned lake
# (rewrite touched partitions only, upsert.py docstring) or a manifest
# table format. State is O(distinct users), not O(events).
# ---------------------------------------------------------------------------

ST07_SPLITS = 4

ST07_ORACLE = """
SELECT user_id, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY user_id
"""


def _stage_events_split(sf_dir: str, n: int = ST07_SPLITS) -> str:
    """Events fixture rewritten as ``n`` parquet files so
    ``maxFilesPerTrigger=1`` yields ``n`` micro-batches."""

    def fill(stage: str) -> None:
        import pyarrow.parquet as pq

        t = pq.read_table(os.path.abspath(f"{sf_dir}/events.parquet"))
        step = (t.num_rows + n - 1) // n
        for i in range(n):
            part = t.slice(i * step, step)
            if part.num_rows:
                pq.write_table(part, os.path.join(stage, f"part{i}.parquet"))

    return _staged(f"{sf_dir}::split{n}", fill)


@query("st07_stream_foreachbatch_upsert", oracle=ST07_ORACLE)
def st07_stream_foreachbatch_upsert(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..plans.upsert import upsert_parquet

    # a fresh dir per call (the returned DataFrame reads its lake),
    # removed at exit like the staging dirs
    run_dir = tempfile.mkdtemp(prefix="st07_")
    _STAGED[run_dir] = run_dir
    lake = f"{run_dir}/user_totals"
    clone = _stream_session(spark)
    # bootstrap an empty lake with the final schema (upsert merges
    # into an existing table; the first batch merges into emptiness)
    clone.createDataFrame(
        [], "user_id long, n_events long, sum_value double"
    ).write.parquet(lake)

    stream = _read_fixture(
        spark,
        clone.readStream.option("maxFilesPerTrigger", "1"),
        sf_dir,
        "events",
        _stage_events_split(sf_dir),
    )
    agg = stream.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(12,2)")).alias("sum_dec"),
    )

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        updates = batch_df.select(
            "user_id",
            "n_events",
            F.col("sum_dec").cast("double").alias("sum_value"),
        )
        upsert_parquet(clone, lake, updates, ["user_id"])

    q = (
        agg.writeStream.outputMode("update")
        .foreachBatch(merge_batch)
        .option("checkpointLocation", f"{run_dir}/_ckpt")
        .start()
    )
    n_batches = _drive(q, "st07").data_batches()
    if n_batches < 2:
        raise RuntimeError(
            f"st07: expected a multi-batch replay, got {n_batches} "
            "data micro-batches — the cross-batch upsert path was "
            "not exercised"
        )
    return clone.read.parquet(lake)


# ---------------------------------------------------------------------------
# ST08 — stream-stream LEFT OUTER interval join: every purchase joined
# to error events of the same user in the preceding 10 minutes, BOTH
# sides unbounded streams — and purchases with NO such error are still
# emitted (with nulls) once the global watermark passes their join
# horizon. The outer variant is the semantically hard half of
# stream-stream joins: matched rows emit on match (same as ST05), but
# unmatched-left emission must wait until the engine can PROVE no
# future right row can match — i.e. min(left, right watermark) has
# passed the row's state expiry — at which point the row is evicted
# and emitted exactly once with a null right side. State stays
# O(arrival rate × horizon) on both sides, identical to the inner
# join.
#
# Replay mechanics: the finite fixture needs the '__flush__' sentinel
# to drag BOTH watermarks past every real purchase (an unbounded
# deployment needs none of this). Like ST01, the sentinel must flow
# THROUGH the EventTimeWatermark nodes — Catalyst pushes the
# event_type filters below them — so both side filters admit
# '__flush__' and the spurious sentinel rows are dropped batch-side
# after the sink. processAllAvailable() alone cannot prove the
# unmatched rows landed (they emit in a follow-up micro-batch), so
# the runner polls query progress until a committed batch reports a
# watermark past the last real event (await_watermark_past).
# ---------------------------------------------------------------------------

ST08_ORACLE = """
SELECT p.event_id AS purchase_event, e.event_id AS error_event, p.user_id
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
  ON p.user_id = e.user_id
 AND epoch_us(e.ts) >= epoch_us(p.ts) - 600000000
 AND epoch_us(e.ts) <= epoch_us(p.ts)
"""


@query("st08_stream_stream_left_outer", oracle=ST08_ORACLE)
def st08_stream_stream_left_outer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    def build(s: SparkSession) -> DataFrame:
        flush = _stage_events_flush(sf_dir)
        purchases = (
            _read_fixture(spark, s.readStream, sf_dir, "events", flush)
            .filter(F.col("event_type").isin("purchase", "__flush__"))
            .select(
                F.col("event_id").alias("purchase_event"),
                "user_id",
                F.col("ts").alias("p_ts"),
                F.col("event_type").alias("p_type"),
            )
            .withWatermark("p_ts", "1 hour")
        )
        errors = (
            _read_fixture(spark, s.readStream, sf_dir, "events", flush)
            .filter(F.col("event_type").isin("error", "__flush__"))
            .select(
                F.col("event_id").alias("error_event"),
                F.col("user_id").alias("e_user"),
                F.col("ts").alias("e_ts"),
                F.col("event_type").alias("e_type"),
            )
            .withWatermark("e_ts", "1 hour")
        )
        return purchases.join(
            errors,
            (F.col("user_id") == F.col("e_user"))
            & (F.col("e_ts") >= F.col("p_ts") - F.expr("INTERVAL 10 MINUTES"))
            & (F.col("e_ts") <= F.col("p_ts")),
            "leftOuter",
        ).select("purchase_event", "error_event", "user_id", "p_type", "e_type")

    out = _run_to_memory(
        build,
        spark,
        "st08_out",
        "append",
        await_watermark_past=_events_max_ts_iso(sf_dir),
    )
    # Drop the sentinel rows (left sentinel emits — possibly paired
    # with the right sentinel); real rows never pair with a sentinel
    # because its timestamp is 2h past every real event.
    return out.filter(F.col("p_type") == "purchase").select(
        "purchase_event", "error_event", "user_id"
    )


# ---------------------------------------------------------------------------
# ST09 — STREAMING session windows: st02's dynamic-gap
# sessionization as a real readStream job — append mode + watermark,
# the form that runs forever (session state merges windows as events
# arrive and emits a session only once the watermark proves no
# further event can extend it: gap-close + watermark-pass is exactly
# production sessionization's emission rule). st02 remains the batch
# twin; this op proves the ENGINE's session_window state machine
# (merge-on-arrival, watermark eviction) produces the identical
# result, against the same oracle.
#
# The '__flush__' sentinel (st01's trick) drags the watermark 2h past
# the last real event so the final open sessions close; it rides 2h
# past max(ts) with a 30-minute gap, so its own session can never
# merge with a real one — it is excluded by counting only real
# events per session and dropping zero-count sessions batch-side.
# Scale: state is O(open sessions); watermark eviction bounds it on
# an unbounded stream — same argument as st01, with session merge
# instead of fixed buckets.
# ---------------------------------------------------------------------------


@query("st09_stream_session_window", oracle=ST02_ORACLE)
def st09_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 30-minute-gap session windows over a real streaming
    replay (watermark + append) — the streaming state-machine twin of
    st02's batch ``session_window``."""

    def build(s: SparkSession) -> DataFrame:
        stream = _read_fixture(
            spark, s.readStream, sf_dir, "events", _stage_events_flush(sf_dir)
        )
        return (
            stream.withWatermark("ts", "1 hour")
            .groupBy(
                F.session_window("ts", "30 minutes").alias("sw"),
                "user_id",
            )
            .agg(
                F.count(
                    F.when(F.col("event_type") != "__flush__", F.lit(1))
                ).alias("n_events")
            )
            .select(
                "user_id",
                F.col("sw.start").alias("session_start"),
                "n_events",
            )
        )

    out = _run_to_memory(
        build,
        spark,
        "st09_out",
        "append",
        expect_single_batch=True,
        await_watermark_past=_events_max_ts_iso(sf_dir),
    )
    return out.filter(F.col("n_events") > 0)


# ---------------------------------------------------------------------------
# ST10 — streaming corpus chunking: the t21 context-window chunker
# run UNCHANGED under readStream over a replayed ``documents`` table.
# This is the continuously-ingested-corpus half of the training-data
# pipeline: documents landing in the lake get chunked by the exact
# plan the batch path uses (operators/text.py::chunk_documents is
# stateless and map-side, so Structured Streaming runs it with no
# state stores, no watermark, and no output-mode caveats), and the
# oracle is literally T21's SQL — batch ≡ stream, hash-compared.
#
# Scale: a stateless streaming stage's throughput equals the batch
# plan's (same whole-stage-codegen pipeline per micro-batch); the
# sizing knobs are source-side (maxFilesPerTrigger against the
# landing rate) rather than state-side. At 100 TB/day ingest this is
# the shape that works: chunk fan-out happens inside each
# micro-batch's scan tasks and streams straight to the sized parquet
# sink (O9), no shuffle anywhere.
# ---------------------------------------------------------------------------


from ..operators.text import T21_ORACLE as _T21_ORACLE
from ..operators.text import chunk_documents as _chunk_documents


@query("st10_stream_chunking", oracle=_T21_ORACLE)
def st10_stream_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST10 — t21's chunker under readStream (see block comment).
    The oracle is T21's SQL verbatim — the strongest possible
    batch≡stream statement."""

    def build(s: SparkSession) -> DataFrame:
        return _chunk_documents(
            _read_fixture(spark, s.readStream, sf_dir, "documents")
        )

    return _run_to_memory(
        build, spark, "st10_out", "append", expect_single_batch=True
    )


# ---------------------------------------------------------------------------
# ST11 — streaming DECONTAMINATION: p09's benchmark n-gram collision
# flagging with the corpus under readStream and the benchmark STATIC
# — the deployment shape decontamination actually has (the eval
# suite is a fixed artifact; the corpus lands continuously).
#
# The stream side is STATELESS by re-expression: instead of p09's
# explode → broadcast join → groupBy(doc_id) (which under streaming
# would need stateful aggregation and update mode), each document's
# counts are computed PER ROW against the static eval gram set.
# Append mode, no state stores, no watermark; batch ≡ stream
# certified by running P09's oracle SQL verbatim against the stream
# output.
#
# The per-row form is a Python row kernel (``map_rows``) with the
# eval gram set built ONCE on the driver as a frozenset (the
# benchmark split is ~1% of docs and MBs by construction — the same
# structural asymmetry p09's banner documents for its broadcast) and
# shipped as one Spark broadcast. The former Catalyst form — per-doc gram-hash array
# (interpreted transform/slice/xxhash64 HOFs) crossJoined with a
# one-row collect_set array and array_intersect'ed per row — ran the
# whole corpus side in interpreted expression code: measured 5.0s at
# sf0.1 in batch (2.4s gram hashing + 1.8s per-row intersect against
# the 2,397-gram array, all on the fixture's single scan split) vs
# ~0.1s for the kernel's Python-set intersection on gram STRINGS
# (which also deletes the 2⁻⁶⁴ hash-collision caveat — string
# equality is exact). Scale: throughput = scan rate, zero corpus
# shuffle, the broadcast loaded once per Python worker.
# If a "benchmark" ever outgrew driver memory, the stateless shape
# stops applying and the batch path (or a stateful streaming
# join+agg in update mode) is the fallback — documented, not needed
# at any real benchmark size.
# ---------------------------------------------------------------------------

from ..operators.pipeline import P09_EVAL_MOD as _P09_EVAL_MOD
from ..operators.pipeline import P09_NGRAM as _P09_NGRAM
from ..operators.pipeline import P09_ORACLE as _P09_ORACLE

#: Hard cap on the eval-split documents st11 may collect to the driver
#: to build its static gram set. Benchmarks are
#: thousands of documents at most; a fixture drift that makes the
#: "eval split" corpus-sized must fail loud, not OOM the driver.
ST11_MAX_EVAL_DOCS = 100_000


@query("st11_stream_decontamination", oracle=_P09_ORACLE)
def st11_stream_decontamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ST11 — p09 with the corpus streaming and the benchmark static
    (see block comment; stateless per-row re-expression, P09's oracle
    verbatim)."""
    is_eval = F.col("doc_id") % _P09_EVAL_MOD == 0
    w = _P09_NGRAM
    # static side, built once on the DRIVER: the benchmark's
    # distinct gram strings (~52 docs at sf0.1 — bounded by the
    # benchmark, never the corpus; see block comment). The collect
    # is EXPLICITLY bounded: limit(N+1) caps what
    # can ever reach the driver, and row N+1 arriving means the
    # "benchmark" outgrew the stateless shape — fail loud and name
    # the batch fallback rather than OOM the driver.
    ev_texts = [
        r["text"]
        for r in table(spark, sf_dir, "documents")
        .filter(is_eval)
        .select("text")
        .limit(ST11_MAX_EVAL_DOCS + 1)
        .collect()
    ]
    if len(ev_texts) > ST11_MAX_EVAL_DOCS:
        raise ValueError(
            f"st11: eval split exceeds ST11_MAX_EVAL_DOCS="
            f"{ST11_MAX_EVAL_DOCS} documents; the driver-built "
            "gram set no longer qualifies as 'benchmark-sized' — "
            "run the batch p09 path (broadcast join) or a stateful "
            "streaming join instead"
        )
    eval_grams = frozenset(
        " ".join(ts[i : i + w])
        for t in ev_texts
        if t is not None
        for ts in (t.split(" "),)
        for i in range(len(ts) - w + 1)
    )
    # one SPARK BROADCAST, not a closure capture: a
    # closure-captured set is re-serialized into every task binary
    # and re-shipped per micro-batch; the broadcast ships once per
    # executor and the kernel reads bc.value.
    bc = spark.sparkContext.broadcast(eval_grams)

    def score(text):
        # the doc's distinct w-gram STRING set intersected with the
        # eval frozenset; docs with no hit yield no row
        if text is None:
            # NULL text drops the row, as the batch p09 plan does
            # (split(NULL) → no grams, no hit).
            return []
        ts = text.split(" ")
        gs = {" ".join(ts[i : i + w]) for i in range(len(ts) - w + 1)}
        hits = len(gs & bc.value)
        return [(len(gs), hits)] if hits > 0 else []

    def build(s: SparkSession) -> DataFrame:
        stream = _read_fixture(spark, s.readStream, sf_dir, "documents")
        return map_rows(
            stream.filter(~is_eval).select("doc_id", "text"),
            score,
            "n_doc_grams long, n_contaminated long",
        )

    # The memory sink holds the scored rows, so reading the returned
    # table never runs the kernel again: the broadcast can go now.
    try:
        return _run_to_memory(
            build, spark, "st11_out", "append", expect_single_batch=True
        )
    finally:
        bc.destroy()


# ---------------------------------------------------------------------------
# ST12 — streaming QUALITY-CLASSIFIER inference: t24's trained-filter
# stage with the corpus under readStream and the model STATIC — the
# deployment shape model-based filtering actually has (the classifier
# is a fixed artifact; documents land continuously and each is scored
# exactly once, on arrival).
#
# The op runs UNCHANGED: ``classifier_score`` is a stateless map-side
# plan (one-row broadcast weight vector → hashed-feature lookup →
# aggregate sum), so Structured Streaming executes the same
# whole-stage-codegen project per micro-batch with no state stores,
# no watermark, and append mode — st10's pattern, and the oracle is
# literally T24's SQL: batch ≡ stream, hash-compared.
#
# Scale: throughput equals the batch plan's (scan rate); the broadcast
# is the MODEL (MBs, fixed) while the corpus is the unbounded side —
# the same structural asymmetry as st11's benchmark grams. At
# 100 TB/day ingest the score-on-arrival shape avoids ever re-scanning
# the lake to apply a filter the pipeline already knows.
# ---------------------------------------------------------------------------

from ..operators.text import T24_ORACLE as _T24_ORACLE
from ..operators.text import classifier_score as _classifier_score
from ..operators.text import t24_weights as _t24_weights


@query("st12_stream_quality_classifier", oracle=_T24_ORACLE)
def st12_stream_quality_classifier(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ST12 — t24's classifier under readStream (see block comment;
    the op runs unchanged, T24's oracle verbatim — the batch≡stream
    certificate for the model-based quality-filter stage)."""

    def build(s: SparkSession) -> DataFrame:
        return _classifier_score(
            _read_fixture(spark, s.readStream, sf_dir, "documents"),
            _t24_weights(),
        )

    return _run_to_memory(
        build, spark, "st12_out", "append", expect_single_batch=True
    )


# ---------------------------------------------------------------------------
# ST13 — streaming FUZZY decontamination: d15's doc-level MinHash
# overlap check with the CORPUS under readStream and the eval-suite
# LSH index STATIC — the other deployment shape decontamination has
# (st11 streams the exact-gram check; this streams the fuzzy one).
# Documents are screened against the benchmark on ARRIVAL, so a leaked
# eval near-duplicate never reaches the training lake at all.
#
# The kernel runs UNCHANGED: cross_corpus_neardup is a stateless
# map-side plan (in-row signatures → posexplode → broadcast eval index
# → first-shared-band emission → exact-Jaccard verify), so Structured
# Streaming executes the identical whole-stage project per micro-batch
# with no state stores, no watermark, and append mode — and the oracle
# is literally D15's SQL: batch ≡ stream, hash-compared.
#
# Scale: the broadcast is the EVAL INDEX (MBs, fixed — benchmarks are
# small by construction) while the corpus is the unbounded side — the
# structural asymmetry st11/st12 certify, now for the fuzzy family.
# Zero corpus-side exchanges per micro-batch.
# ---------------------------------------------------------------------------

from ..operators.dedup import D15_EVAL_MOD as _D15_EVAL_MOD
from ..operators.dedup import D15_ORACLE as _D15_ORACLE
from ..operators.dedup import cross_corpus_neardup as _cross_corpus_neardup


@query("st13_stream_fuzzy_decontamination", oracle=_D15_ORACLE)
def st13_stream_fuzzy_decontamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ST13 — d15's fuzzy decontamination under readStream (see block
    comment; the kernel runs unchanged against a static broadcast eval
    index, D15's oracle verbatim — the batch≡stream certificate for
    the screen-on-arrival shape)."""

    def build(s: SparkSession) -> DataFrame:
        ev = _read_fixture(spark, s.read, sf_dir, "documents").filter(
            F.col("doc_id") % _D15_EVAL_MOD == 0
        )
        train = _read_fixture(spark, s.readStream, sf_dir, "documents").filter(
            F.col("doc_id") % _D15_EVAL_MOD != 0
        )
        return _cross_corpus_neardup(train, ev)

    return _run_to_memory(
        build, spark, "st13_out", "append", expect_single_batch=True
    )

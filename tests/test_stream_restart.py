"""Checkpointed restart: the streaming property that matters in
production — a watermarked windowed aggregation stopped mid-stream and
restarted from its checkpoint must produce exactly the batch answer,
with no window lost (state recovered) and no window duplicated
(offsets + sink log recovered).

The catalog's st01-st06 replay in a single run; this exercises the
failure path: half the data → stop → rest of the data + flush
sentinel → restart with the same checkpoint → compare to batch.
Uses the parquet file sink (exactly-once via the _spark_metadata
commit log), not the memory sink (which is per-run and can't witness
restart semantics).
"""

from __future__ import annotations

import datetime as dt
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from omop_dump_to_parquet_spark.session import apply_runtime_confs
from omop_dump_to_parquet_spark.sources.parquet import canonical_ts, table


def _write_half(src_table: pa.Table, mask, path: str) -> None:
    pq.write_table(src_table.filter(mask), path)


def _run_until_stable(build_df, out_dir: str, cp_dir: str, spark) -> None:
    q = (
        build_df.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", cp_dir)
        .start()
    )
    try:
        q.processAllAvailable()
        # Window emission happens in the no-data micro-batch that runs
        # asynchronously after the watermark advances. Wait until (a)
        # at least one zero-input batch has actually executed and (b)
        # the sink row count is stable across two consecutive reads —
        # a bare equality poll can observe 0 == 0 before that batch
        # commits and declare victory early (flaky on a loaded box).
        import json as _json

        deadline = time.monotonic() + 60.0
        prev, stable = -1, 0
        while time.monotonic() < deadline:
            saw_nodata = any(
                _json.loads(p.json).get("numInputRows", -1) == 0
                for p in q.recentProgress
            )
            try:
                cur = spark.read.parquet(out_dir).count()
            except Exception:
                cur = -2
            stable = stable + 1 if (saw_nodata and cur == prev and cur >= 0) else 0
            if stable >= 2:
                break
            prev = cur
            time.sleep(0.3)
        else:
            raise RuntimeError("sink never stabilized after watermark flush")
    finally:
        q.stop()


@pytest.mark.parametrize("layout", ["native", "int64_nanos"])
def test_windowed_agg_survives_checkpoint_restart(
    spark, sf_small, tmp_path, layout
):
    src = os.path.join(sf_small, "events.parquet")
    if layout == "int64_nanos":
        # Re-materialize the fixture in the TIMESTAMP(NANOS)-as-int64
        # physical layout earlier fixtures used, so canonical_ts's
        # bigint branch is exercised on a stream instead of dormant
        # until the next fixture drift. Fixture ts is µs
        # precision, so ns = µs·1000 is lossless.
        import pyarrow.compute as pc

        t = pq.read_table(src)
        if not pa.types.is_timestamp(t.schema.field("ts").type):
            pytest.skip("fixture already ships a non-timestamp ts")
        ns = pc.multiply(
            t.column("ts").cast(pa.timestamp("us")).cast(pa.int64()),
            pa.scalar(1000, type=pa.int64()),
        )
        t = t.set_column(
            t.schema.get_field_index("ts"), "ts", ns.cast(pa.int64())
        )
        src = str(tmp_path / "events_ns.parquet")
        pq.write_table(t, src)
    full = pq.read_table(src)
    ts = full.column("ts")
    # Time-ordered split so run-2 data is never behind run-1's
    # watermark (late-data drop would be a test bug, not an engine
    # bug).
    import pyarrow.compute as pc

    cut = pc.quantile(ts.cast(pa.int64()), 0.5).to_pylist()[0]
    cut_scalar = pa.scalar(int(cut), type=pa.int64())
    stage = tmp_path / "stage"
    stage.mkdir()
    _write_half(full, pc.less_equal(ts.cast(pa.int64()), cut_scalar),
                str(stage / "half1.parquet"))

    out_dir, cp_dir = str(tmp_path / "out"), str(tmp_path / "cp")
    clone = spark.newSession()
    apply_runtime_confs(clone)
    clone.conf.set("spark.sql.shuffle.partitions", "8")
    schema = clone.read.parquet(src).schema

    def build():
        # the package's layout rule, applied to a stream
        stream = canonical_ts(
            clone.readStream.schema(schema).parquet(str(stage))
        )
        return (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                F.col("win.start").alias("window_start"),
                "event_type",
                "n_events",
            )
        )

    # Run 1: first half, then stop (simulated failure/redeploy).
    _run_until_stable(build(), out_dir, cp_dir, clone)
    emitted_run1 = clone.read.parquet(out_dir).count()

    # Run 2: rest of the data plus a flush sentinel 2h past max ts so
    # the final windows emit; same checkpoint → resume, not reprocess.
    _write_half(full, pc.greater(ts.cast(pa.int64()), cut_scalar),
                str(stage / "half2.parquet"))
    max_ts = pc.max(ts).as_py()
    one = full.slice(0, 1)
    if isinstance(max_ts, dt.datetime):
        flush_val = max_ts + dt.timedelta(hours=2)
    else:  # TIMESTAMP(NANOS) stored as int64 — nanoseconds since epoch
        flush_val = int(max_ts) + 2 * 3600 * 1_000_000_000
    sentinel = one.set_column(
        one.schema.get_field_index("ts"),
        "ts",
        pa.array([flush_val], type=one.schema.field("ts").type),
    ).set_column(
        one.schema.get_field_index("event_type"),
        "event_type",
        pa.array(["__flush__"], type=pa.string()),
    )
    pq.write_table(sentinel, str(stage / "zz_flush.parquet"))

    _run_until_stable(build(), out_dir, cp_dir, clone)

    got = (
        clone.read.parquet(out_dir)
        .filter(F.col("event_type") != "__flush__")
        .collect()
    )
    # Exactly-once: no (window, type) key appears twice across the
    # two runs' outputs.
    keys = [(r.window_start, r.event_type) for r in got]
    assert len(keys) == len(set(keys)), "restart duplicated windows"

    # Completeness: equals the batch answer over the full fixture.
    expect = {
        (r.window_start, r.event_type): r.n_events
        for r in (
            table(clone, sf_small, "events")
            .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                F.col("win.start").alias("window_start"),
                "event_type",
                "n_events",
            )
            .collect()
        )
    }
    assert {k: None for k in keys}.keys() == expect.keys(), (
        "restart lost or invented windows"
    )
    assert all(expect[(r.window_start, r.event_type)] == r.n_events for r in got), (
        "restart corrupted counts (state not recovered)"
    )
    # The restart actually mattered: run 1 emitted some windows, and
    # run 2 added more (so state+offset recovery was exercised).
    assert 0 < emitted_run1 < len(got)

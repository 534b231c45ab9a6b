"""Streaming observability: the listener-based metrics capture must
see every micro-batch's input rows, watermark movement, and state
size for a real streaming run — the signals a production deployment
alarms on (watermark stall, state growth).

The listener bus is PER-SESSION (a ``newSession()`` clone has its own
``streams`` manager), so the capture must be registered on the session
that starts the query — asserted here by driving the query directly.
Events are delivered asynchronously; the helper polls briefly.
"""

from __future__ import annotations

import time
import uuid


def _await(predicate, timeout_s=15.0):
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        if predicate():
            return True
        time.sleep(0.1)
    return predicate()


def test_capture_progress_sees_batches_watermark_and_state(spark, sf_small):
    from pyspark.sql import functions as F

    from omop_dump_to_parquet_spark.session import apply_runtime_confs
    from omop_dump_to_parquet_spark.streaming.observe import capture_progress
    from omop_dump_to_parquet_spark.streaming.stream_queries import (
        _read_fixture,
    )

    session = spark.newSession()
    apply_runtime_confs(session)
    session.conf.set("spark.sql.shuffle.partitions", "8")

    with capture_progress(session) as log:
        agg = (
            _read_fixture(session, session.readStream, sf_small, "events")
            .withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        sink = f"obs_out_{uuid.uuid4().hex[:8]}"
        q = (
            agg.writeStream.outputMode("update")
            .format("memory")
            .queryName(sink)
            .start()
        )
        try:
            q.processAllAvailable()
            assert session.table(sink).count() > 0
            # listener delivery is async — wait for the progress event
            assert _await(lambda: len(log.batches) >= 1), "no progress events"
        finally:
            q.stop()

    assert sum(b.num_input_rows for b in log.batches) == 1000  # sf0.001 events
    # a watermark was published and the windowed agg kept state
    assert log.watermarks(), log.batches
    assert log.max_state_rows() > 0
    # capture is de-registered: a second capture starts empty
    with capture_progress(session) as log2:
        pass
    assert log2.batches == []

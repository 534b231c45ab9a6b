"""Streaming observability: one reader of Spark's per-micro-batch
progress events, ``batch_metrics``.

The reference's progress surface is a tqdm callback per fetch batch
(``dump_table.py:109-110``); the streaming engine's equivalent is the
progress event every micro-batch commit publishes, with input rows,
watermark position, and per-state-operator memory/row counts.
Production jobs ship these to a metrics store and alarm on them —
watermark stall is how you detect a stuck upstream BEFORE an outer
join silently stops emitting (see st08's liveness note), and
state-rows growth is how you catch a key-space leak before executors
OOM.

Two readers feed ``batch_metrics``, and both give a ``ProgressLog``:

* the replay harness (``stream_queries._drive``) reads a query's own
  ``recentProgress``, synchronously, to count its data batches and to
  wait for the watermark that flushes its final windows;
* ``capture_progress`` is the in-process collector for any query: a
  context manager that registers a listener and accumulates each
  batch's progress — driver-side, bounded by the number of
  micro-batches observed (metrics, not data).

Caveat: the listener bus is PER-SESSION — a ``newSession()`` clone
(as the replay harness uses) has its own ``streams`` manager, so
register the capture on the session that STARTS the query. Event
delivery is asynchronous; poll briefly before reading.
"""

from __future__ import annotations

import json
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class BatchMetrics:
    """One micro-batch's headline numbers."""

    query_id: str
    batch_id: int
    num_input_rows: int
    watermark: str | None
    state_rows_total: int
    state_memory_bytes: int


@dataclass
class ProgressLog:
    batches: list[BatchMetrics] = field(default_factory=list)

    def watermarks(self) -> list[str]:
        return [b.watermark for b in self.batches if b.watermark]

    def max_state_rows(self) -> int:
        return max((b.state_rows_total for b in self.batches), default=0)

    def data_batches(self) -> int:
        """Batches that carried rows; a no-data batch (a watermark
        commit, a state flush) reads 0 input rows."""
        return sum(1 for b in self.batches if b.num_input_rows > 0)


def batch_metrics(progress_json: str) -> BatchMetrics:
    """One progress event (``StreamingQueryProgress.json``) as metrics."""
    p = json.loads(progress_json)
    ops = p.get("stateOperators") or []
    return BatchMetrics(
        query_id=str(p.get("id")),
        batch_id=int(p.get("batchId", -1)),
        num_input_rows=int(p.get("numInputRows", 0)),
        watermark=(p.get("eventTime") or {}).get("watermark"),
        state_rows_total=sum(int(o.get("numRowsTotal", 0)) for o in ops),
        state_memory_bytes=sum(int(o.get("memoryUsedBytes", 0)) for o in ops),
    )


class _Collector(StreamingQueryListener):
    def __init__(self, log: ProgressLog):
        self._log = log

    def onQueryStarted(self, event):  # noqa: N802 (listener API names)
        pass

    def onQueryProgress(self, event):  # noqa: N802
        self._log.batches.append(batch_metrics(event.progress.json))

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        pass


@contextmanager
def capture_progress(spark: SparkSession):
    """Collect per-batch metrics for every streaming query that runs
    inside the block. Listener registration is session-wide; the
    listener is removed on exit so repeated captures don't stack."""
    log = ProgressLog()
    listener = _Collector(log)
    spark.streams.addListener(listener)
    try:
        yield log
    finally:
        spark.streams.removeListener(listener)

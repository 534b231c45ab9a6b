"""Resumable chunked dump — restartable ingestion with a completion
manifest.

The reference's single server-side cursor (``dump_table.py:81-111``)
has a brutal operational property at scale: ANY failure at row
1,999,999,999 of a 2-billion-row dump restarts from row zero — there
is no record of what already landed. This plan splits the dump into
key-range chunks, lands each chunk in its own subdirectory through
:func:`plans.dump.dump_table`, and marks completion with a commit
marker written ONLY after that chunk verified. A re-run:

- validates every existing marker against ITS OWN recorded range and
  parameters (markers are self-describing JSON) and fails fast if the
  resume was invoked with different chunking — silently mixing two
  chunk layouts would duplicate and drop rows;
- skips every chunk whose marker matches (the work is durable);
- re-dumps any chunk without a marker — the write's overwrite mode
  replaces the chunk directory wholesale, so a torn write from the
  crashed attempt is cleared by the rewrite itself;
- verifies the reassembled lake from its footers: count against the
  markers, schema against the source, and file sizing
  (:func:`verify.verify_parquet`; ``_dump_manifest`` is hidden from it,
  as every ``_`` name is).

Coverage: the FIRST chunk is unbounded below (and owns NULL keys) and
the LAST is unbounded above — the same convention as Spark's JDBC
partitioning — so no source row can fall outside every chunk even
when ``lower``/``upper`` came from a stale min/max estimate.

Exactly-once lands as "at-least-once attempts + idempotent chunk
replacement + atomic-marker commit" — the same recipe the streaming
twin uses per micro-batch (plans/stream_dump.py) and foreachBatch
upsert uses per batch (st07), applied to batch backfill.

The chunk loop runs on the driver, bounded by ``n_chunks`` — the
legitimate shape for restartable orchestration (each iteration is a
full parallel Spark job; the loop is control flow, not data flow).
All path/manifest operations go through fs.py's Hadoop FileSystem
wrappers, so the identical code serves file:, HDFS and object stores.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fs
from ..sinks import REFERENCE_SIZING
from ..verify import VerifyReport, verify_parquet
from .dump import dump_table

MANIFEST_DIR = "_dump_manifest"


def _marker_path(output_path: str, chunk: int) -> str:
    return f"{output_path}/{MANIFEST_DIR}/chunk-{chunk:05d}"


@dataclass
class ResumableDumpResult:
    rows_written: int
    report: VerifyReport
    chunks_total: int
    chunks_skipped: int  # already committed by a previous attempt
    chunks_dumped: int
    chunk_rows: dict[int, int] = field(default_factory=dict)

    @property
    def ok(self) -> bool:
        """The reassembled lake holds exactly the rows the chunk
        markers claim, in the source's schema and file sizing, as its
        footers tell."""
        return self.report.ok


def dump_table_resumable(
    spark: SparkSession,
    source: DataFrame,
    output_path: str,
    partition_col: str,
    lower: int,
    upper: int,
    n_chunks: int = 8,
    max_records_per_file: int = REFERENCE_SIZING["rows_per_file"],
) -> ResumableDumpResult:
    """Dump ``source`` into ``n_chunks`` key-range chunks with
    restartable progress.

    ``[lower, upper]`` seeds the chunk boundaries the way the JDBC
    reader's lowerBound/upperBound seed its partitions — and with the
    same semantics: boundaries SPLIT the key space, they do not
    FILTER it. The first chunk takes everything ≤ its high bound
    (including NULL keys) and the last everything ≥ its low bound, so
    stale bounds skew chunk sizes but can never lose rows.
    """
    span = upper - lower + 1
    per = max(1, span // n_chunks)
    skipped = dumped = total_rows = 0
    chunk_rows: dict[int, int] = {}

    for i in range(n_chunks):
        lo = lower + i * per
        hi = upper if i == n_chunks - 1 else lo + per - 1
        chunk_dir = f"{output_path}/chunk={i:05d}"
        marker = _marker_path(output_path, i)

        first, last = i == 0, i == n_chunks - 1
        expect = {
            "chunk": i,
            "partition_col": partition_col,
            "lo": None if first else lo,
            "hi": None if last else hi,
            "n_chunks": n_chunks,
        }

        if fs.exists(spark, marker):
            recorded = json.loads(fs.read_text(spark, marker))
            mismatch = {
                k: (recorded.get(k), v)
                for k, v in expect.items()
                if recorded.get(k) != v
            }
            if mismatch:
                raise ValueError(
                    f"resume parameter mismatch on {marker}: a previous "
                    f"attempt used different chunking {mismatch}; resuming "
                    "with a new layout over old markers would duplicate "
                    "and drop rows — use a fresh output_path or the "
                    "original parameters"
                )
            chunk_rows[i] = int(recorded["rows"])
            total_rows += chunk_rows[i]
            skipped += 1
            continue

        # Split-not-filter bounds: edge chunks are unbounded so the
        # union of chunks covers every source row; NULL keys ride the
        # first chunk (the JDBC-partitioning convention).
        key = F.col(partition_col)
        if first and last:
            cond = F.lit(True)
        elif first:
            cond = (key <= hi) | key.isNull()
        elif last:
            cond = key >= lo
        else:
            cond = (key >= lo) & (key <= hi)
        result = dump_table(
            spark,
            source.filter(cond),
            chunk_dir,
            max_records_per_file=max_records_per_file,
        )
        failure = result.failure()
        if failure:  # no marker: the next attempt re-dumps the chunk
            raise RuntimeError(f"chunk {i} {failure}")
        n = result.rows_written
        # data is durable and verified; NOW commit the self-describing
        # marker
        fs.write_text(spark, marker, json.dumps({**expect, "rows": n}))
        chunk_rows[i] = n
        total_rows += n
        dumped += 1

    # An empty chunk still lands one 0-row file carrying the schema, so
    # an all-empty dump verifies as a conserved 0-row lake.
    report = verify_parquet(
        spark,
        output_path,
        expected_count=total_rows,
        expected_schema=source.schema,
        max_records_per_file=max_records_per_file,
    )
    return ResumableDumpResult(
        rows_written=total_rows,
        report=report,
        chunks_total=n_chunks,
        chunks_skipped=skipped,
        chunks_dumped=dumped,
        chunk_rows=chunk_rows,
    )

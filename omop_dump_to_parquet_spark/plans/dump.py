"""The reference program, end to end, as a Spark pipeline.

Reference ``main`` (``dump_table.py:175-252``):
  count source → size the fetch target → pin schema → stream/buffer/
  flush loop → final flush → read-back verification.

Spark pipeline:
  read (any source) → optional limit → normalize casts (pinned
  schema) → sized parquet write (the one Spark job) → verify count,
  schema and sizing from the footers, on the driver.

The buffer/flush machinery (``dump_table.py:207-233``) has no
counterpart: tasks stream rows straight into the Parquet writer with
bounded memory, in parallel. The progress callback
(``dump_table.py:109-110``) maps to ``df.observe`` metrics here so the
row count is captured by the very same job that writes — no second
scan of the source.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..sinks import REFERENCE_SIZING, write_parquet
from ..sources.jdbc import normalize
from ..verify import VerifyReport, verify_parquet


@dataclass
class DumpResult:
    rows_written: int
    report: VerifyReport
    write_s: float
    verify_s: float

    @property
    def ok(self) -> bool:
        return self.report.ok

    def failure(self, expected_rows: int | None = None) -> str | None:
        """Why this dump is not verified, or None. Beyond the report's
        count, schema and sizing checks, a caller holding an
        independent row expectation passes it as ``expected_rows``."""
        if self.ok and expected_rows in (None, self.rows_written):
            return None
        r = self.report
        return (
            f"failed verification: rows_written={self.rows_written} "
            f"expected_rows={expected_rows} count_matches={r.count_matches} "
            f"schema_matches={r.schema_matches} sizing_ok={r.sizing_ok}"
        )


def dump_table(
    spark: SparkSession,
    source: DataFrame,
    output_path: str,
    row_limit: int | None = None,
    casts: dict[str, str] | None = None,
    max_records_per_file: int = REFERENCE_SIZING["rows_per_file"],
    num_files: int | None = None,
) -> DumpResult:
    """Ingest → normalize → write → verify (reference semantics).

    ``row_limit`` ≙ ``DEFAULT_N_TO_FETCH``/``GRAB_EVERYTHING``
    (``dump_table.py:24-28,194-197``); ``casts`` ≙ the PROVIDER_ID
    Int64 repair (``dump_table.py:145-146``); verification ≙
    ``dump_table.py:235-248``.
    """
    df = source
    if row_limit is not None:
        df = df.limit(row_limit)
    df = normalize(df, casts or {})

    obs = Observation("dump_rows")
    observed = df.observe(obs, F.count(F.lit(1)).alias("n"))
    t0 = time.perf_counter()
    write_parquet(
        observed,
        output_path,
        max_records_per_file=max_records_per_file,
        num_files=num_files,
    )
    rows_written = int(obs.get["n"])
    t1 = time.perf_counter()
    report = verify_parquet(
        spark,
        output_path,
        expected_count=rows_written,
        expected_schema=df.schema,
        max_records_per_file=max_records_per_file,
    )
    return DumpResult(
        rows_written=rows_written,
        report=report,
        write_s=t1 - t0,
        verify_s=time.perf_counter() - t1,
    )

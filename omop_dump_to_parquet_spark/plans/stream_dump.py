"""Continuous ingestion: landing directory → normalized Parquet lake.

The streaming twin of :mod:`plans.dump` — the reference's batch
pipeline (``dump_table.py:175-252``) re-expressed for a source that
never stops arriving. Structured Streaming's FileStreamSource replaces
the reference's cursor loop: each discovered file becomes a
micro-batch, the checkpoint (WAL + source offsets) replaces the
reference's "run it again from zero" recovery story, and each epoch
lands through ``foreachBatch`` into :func:`plans.dump.dump_table`, so
it is sized like a batch dump and verified from its footers (count,
schema, file sizing).

Exactly-once: FileStreamSource offsets are committed to the checkpoint
only after the batch sink returns, so a crash between write and commit
replays the epoch, and so does an epoch that fails verification (the
sink raises). The sink writes with ``epoch_id`` recorded in the batch
directory name, so a replayed epoch overwrites its own output instead
of duplicating it (idempotent-by-epoch — the standard ``foreachBatch``
exactly-once recipe).

Scale: file discovery is the driver-side cost — at 100 TB/day use
``maxFilesPerTrigger`` to bound batch size and compact the landing
directory; state is zero (stateless transform), so the pipeline's
memory is flat forever.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from ..sinks import REFERENCE_SIZING
from ..sources.jdbc import normalize
from .dump import dump_table


def stream_dump(
    spark: SparkSession,
    landing_dir: str,
    output_path: str,
    checkpoint_dir: str,
    schema: StructType,
    fmt: str = "parquet",
    casts: dict[str, str] | None = None,
    max_records_per_file: int = REFERENCE_SIZING["rows_per_file"],
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Start the continuous ingest; returns the running query.

    ``schema`` is REQUIRED (pinned up front): streaming sources do not
    re-infer per batch, which is exactly the reference's
    infer-once-then-freeze contract (``dump_table.py:116-148``) made
    structural.
    """
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = getattr(reader, fmt)(landing_dir)
    stream = normalize(stream, casts or {})

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        result = dump_table(
            spark,
            batch_df,
            f"{output_path}/epoch={epoch_id}",
            max_records_per_file=max_records_per_file,
        )
        failure = result.failure()
        if failure:  # uncommitted: a restart replays the epoch
            raise RuntimeError(f"epoch {epoch_id} {failure}")

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )

"""The single-batch contract of ``stream_queries._run_to_memory``: a
replay must land in one micro-batch, and an empty source, which runs
none, answers with 0 rows instead of an error."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from omop_dump_to_parquet_spark.streaming import stream_queries as SQ


def test_st11_on_empty_documents_table(spark, sf_small, tmp_path):
    schema = pq.read_schema(f"{sf_small}/documents.parquet")
    pq.write_table(schema.empty_table(), tmp_path / "documents.parquet")
    out = SQ.st11_stream_decontamination(spark, str(tmp_path))
    assert out.collect() == []
    assert out.columns == ["doc_id", "n_doc_grams", "n_contaminated"]


def test_replay_in_two_batches_still_raises(spark, tmp_path):
    for i in range(2):
        pq.write_table(
            pa.table({"k": pa.array([i], pa.int64())}),
            tmp_path / f"part{i}.parquet",
        )

    def build(s):
        return (
            s.readStream.schema("k long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(tmp_path))
        )

    with pytest.raises(RuntimeError, match="replay split into 2 micro-batches"):
        SQ._run_to_memory(build, spark, "two", "append", expect_single_batch=True)

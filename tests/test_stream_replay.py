"""Stream replays of the stateless catalog ids.

The single-batch contract of ``stream_queries._run_to_memory``: a
replay must land in one micro-batch, and an empty source, which runs
none, answers with 0 rows instead of an error. Because st11-st13 are
stateless, replaying the corpus as one micro-batch IS the batch
computation, so each must equal its batch twin set-exactly.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from omop_dump_to_parquet_spark import load_catalog
from omop_dump_to_parquet_spark.streaming import stream_queries as SQ

QUERIES, _ = load_catalog()


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


def _rows(qid, spark, sf_dir) -> set[tuple]:
    return {tuple(r) for r in QUERIES[qid](spark, sf_dir).collect()}


def test_st11_matches_p09_batch_output(spark, sf_small):
    """The stateless per-row re-expression under readStream must equal
    the batch groupBy plan row-for-row (both are also oracle-certified
    independently)."""
    batch = _rows("p09_decontamination", spark, sf_small)
    stream = _rows("st11_stream_decontamination", spark, sf_small)
    assert batch == stream and batch


def test_st11_eval_cap_fails_loud(spark, sf_small, monkeypatch):
    """st11's bounded driver collect must raise (naming the batch
    fallback) when the eval split exceeds the cap, instead of
    silently building a corpus-sized driver set."""
    monkeypatch.setattr(SQ, "ST11_MAX_EVAL_DOCS", 1)
    with pytest.raises(ValueError, match="ST11_MAX_EVAL_DOCS"):
        SQ.st11_stream_decontamination(spark, sf_small)


def test_st12_stream_equals_t24_batch(spark, sf_small):
    """st12 (classifier under readStream) and t24 (batch) must produce
    identical row sets."""
    batch = _rows("t24_quality_classifier", spark, sf_small)
    stream = _rows("st12_stream_quality_classifier", spark, sf_small)
    assert batch == stream
    assert batch


def test_st13_stream_equals_d15_batch(spark, sf_small):
    """st13 (fuzzy decontamination under readStream) and d15 (batch)
    must produce identical row sets."""
    batch = _rows("d15_fuzzy_decontamination", spark, sf_small)
    stream = _rows("st13_stream_fuzzy_decontamination", spark, sf_small)
    assert batch == stream
    assert batch

"""Stream replays of the catalog ids, through the one replay harness.

The single-batch contract of ``stream_queries._run_to_memory``: a
replay must land in one micro-batch, and an empty source, which runs
none, answers with 0 rows instead of an error. Because st11-st13 are
stateless, replaying the corpus as one micro-batch IS the batch
computation, so each must equal its batch twin set-exactly. A warm
replay runs no driver-thread job, st11 releases its broadcast, and
the replay source reads only its own ``sf_dir``.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from conftest import count_jobs

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


def test_st11_destroys_its_broadcast(spark, sf_small, monkeypatch):
    """st11's eval-gram broadcast goes once the replay has landed in
    the memory sink; reading the returned table does not need it."""
    from pyspark import SparkContext

    made = []
    broadcast = SparkContext.broadcast

    def spy(self, value):
        made.append(broadcast(self, value))
        return made[-1]

    monkeypatch.setattr(SparkContext, "broadcast", spy)
    out = SQ.st11_stream_decontamination(spark, sf_small)
    assert len(made) == 1
    assert not made[0]._jbroadcast.isValid()
    assert out.count() == len(_rows("p09_decontamination", spark, sf_small))


@pytest.mark.parametrize(
    "qid", ["st01_stream_tumbling", "st10_stream_chunking"]
)
def test_warm_replay_runs_no_driver_job(spark, sf_small, qid):
    """A warm replay reads its schema from the caller's memo and waits
    for the flush on query progress, so the driver thread runs no job;
    the micro-batches run in the stream's own job group."""
    QUERIES[qid](spark, sf_small)
    _, jobs = count_jobs(
        spark, lambda: QUERIES[qid](spark, sf_small), f"warm_{qid}"
    )
    assert jobs == 0


def test_replay_escapes_glob_characters_in_sf_dir(spark, sf_small, tmp_path):
    """The file-stream glob matches only ``sf_dir``'s own file, even
    when ``sf_dir`` holds glob characters that match a sibling."""
    import shutil

    for d in ("sf*", "sf_sibling"):
        (tmp_path / d).mkdir()
        shutil.copy(f"{sf_small}/documents.parquet", tmp_path / d)
    st10 = QUERIES["st10_stream_chunking"]
    got = st10(spark, str(tmp_path / "sf*")).count()
    assert got == st10(spark, sf_small).count() > 0

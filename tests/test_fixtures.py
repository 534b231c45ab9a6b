"""Fixture-layout contract: the dtypes the catalog assumes, asserted
against whatever parquet the driver currently ships.

The driver regenerates /root/testdata between rounds and has changed
the physical layout of ``events.ts`` three times (nanos-as-bigint,
then ``timestamp[us]`` isAdjustedToUTC=false → TIMESTAMP_NTZ). Each
drift silently broke every query doing instant arithmetic on ``ts``.
``sources/parquet.py::table()`` is the single choke point that
canonicalizes layouts; this test makes the NEXT drift fail here, once
and loudly, instead of in N queries at correctness-gate time.
"""

from __future__ import annotations

import pytest

from conftest import SF_MEDIUM, SF_SMALL, count_jobs
from omop_dump_to_parquet_spark.sources.parquet import FIXTURE_TABLES, table

# Canonical post-``table()`` dtypes. A set means "any of these is
# fine" — the catalog is agnostic there (e.g. date columns are only
# compared/truncated, never fed to instant-only functions such as
# unix_micros, so NTZ vs LTZ both work and both hash-match DuckDB
# under the pinned-UTC session).
EXPECTED = {
    "region": {"r_regionkey": "int", "r_name": "string"},
    "nation": {"n_nationkey": "int", "n_name": "string", "n_regionkey": "int"},
    "customer": {
        "c_custkey": "bigint",
        "c_name": "string",
        "c_nationkey": "int",
        "c_acctbal": "double",
        "c_mktsegment": "string",
    },
    "supplier": {
        "s_suppkey": "bigint",
        "s_name": "string",
        "s_nationkey": "int",
        "s_acctbal": "double",
    },
    "part": {
        "p_partkey": "bigint",
        "p_name": "string",
        "p_brand": "string",
        "p_type": "string",
        "p_size": "int",
        "p_retailprice": "double",
    },
    "orders": {
        "o_orderkey": "bigint",
        "o_custkey": "bigint",
        "o_orderstatus": "string",
        "o_totalprice": "double",
        "o_orderdate": {"timestamp", "timestamp_ntz", "date"},
        "o_orderpriority": "string",
    },
    "lineitem": {
        "l_orderkey": "bigint",
        "l_partkey": "bigint",
        "l_suppkey": "bigint",
        "l_linenumber": "int",
        "l_quantity": "double",
        "l_extendedprice": "double",
        "l_discount": "double",
        "l_tax": "double",
        "l_returnflag": "string",
        "l_linestatus": "string",
        "l_shipdate": {"timestamp", "timestamp_ntz", "date"},
    },
    # ts MUST be TIMESTAMP (not NTZ): w03/w04/w06/w09/w10 and the
    # streaming suite do epoch-microsecond arithmetic via ts_us().
    "events": {
        "event_id": "bigint",
        "ts": "timestamp",
        "user_id": "bigint",
        "event_type": "string",
        "value": "double",
        "props": "string",
    },
    "documents": {
        "doc_id": "bigint",
        "text": "string",
        "lang": "string",
        "source": "string",
        "n_chars": "bigint",
    },
    # array<float>: the similarity suite's Arrow kernels np.stack the
    # column as float32; float64 would double shuffle volume.
    "embeddings": {
        "vec_id": "bigint",
        "embedding": "array<float>",
        "label": "int",
    },
}


@pytest.mark.parametrize("name", FIXTURE_TABLES)
def test_fixture_contract(spark, sf_small, name):
    got = dict(table(spark, sf_small, name).dtypes)
    exp = EXPECTED[name]
    assert set(got) == set(exp), f"{name}: columns drifted: {sorted(got)}"
    for col, want in exp.items():
        allowed = want if isinstance(want, set) else {want}
        assert got[col] in allowed, (
            f"{name}.{col} is {got[col]!r}, catalog assumes {sorted(allowed)} — "
            f"if the driver changed the parquet layout, canonicalize it in "
            f"sources/parquet.py::table(), not per-query"
        )


def test_ts_us_works_end_to_end(spark, sf_small):
    """ts_us() must analyze and return sane epoch micros on the shipped
    fixture — this is the exact call that broke in rounds 1 and 3."""
    from pyspark.sql import functions as F

    from omop_dump_to_parquet_spark.sources.parquet import ts_us

    row = (
        table(spark, sf_small, "events")
        .select(ts_us("ts").alias("us"))
        .agg(F.min("us").alias("lo"), F.max("us").alias("hi"))
        .first()
    )
    # Driver fixtures are 2020s-era synthetic data; anything outside
    # [2000, 2100) means a unit error (ns/ms vs us), not new data.
    lo_2000 = 946_684_800 * 1_000_000
    hi_2100 = 4_102_444_800 * 1_000_000
    assert lo_2000 < row.lo <= row.hi < hi_2100


def test_unrolled_oracle_fanout_bounds():
    """The m03/m08/t19 oracles unroll per-document fan-out with
    HARDCODED range() bounds (m03: 4096 frames, m08: 512 hops, t19:
    4095 tokens). A fixture document growing past a bound would make
    the oracle silently drop rows and the differential gate fail as a
    confusing row-count mismatch — pin the contract here so the bound
    violation fails at THIS assertion, by name, instead (advisor
    finding, r6)."""
    import duckdb

    from omop_dump_to_parquet_spark.operators.multimodal import (
        FRAME_BYTES,
        M08_FRAME,
        M08_HOP,
    )

    for sf in (SF_SMALL, SF_MEDIUM):
        max_chars, max_tokens = duckdb.sql(
            "SELECT max(length(text)),"
            "       max(len(string_split(text, ' ')))"
            f" FROM read_parquet('{sf}/documents.parquet')"
        ).fetchone()
        # m03: frame_idx i ranges over [0, 4096); frames exist while
        # i * FRAME_BYTES < length(text).
        assert max_chars <= 4096 * FRAME_BYTES, (
            f"{sf}: max doc {max_chars}B exceeds m03's 4096-frame "
            f"oracle unroll ({4096 * FRAME_BYTES}B) — raise the bound"
        )
        # m08: hop o ranges over [0, 512); frames exist while
        # o * M08_HOP < length(text). (M08_FRAME only pads the last.)
        assert M08_FRAME > M08_HOP  # overlap layout sanity
        assert max_chars <= 512 * M08_HOP, (
            f"{sf}: max doc {max_chars}B exceeds m08's 512-hop oracle "
            f"unroll ({512 * M08_HOP}B) — raise the bound"
        )
        # t19: bigram index i ranges over [2, 4096] ∩ [2, len(ws)].
        assert max_tokens <= 4095, (
            f"{sf}: max doc {max_tokens} tokens exceeds t19's "
            f"4095-token oracle unroll — raise the bound"
        )


# -- schema memo: a repeated read of an unchanged path runs no job, and
#    any change to the listing or to an inference conf re-infers.


def test_memo_repeat_read_runs_no_job(spark, sf_small):
    first = table(spark, sf_small, "lineitem")
    again, jobs = count_jobs(spark, lambda: table(spark, sf_small, "lineitem"), "memo-repeat")
    assert jobs == 0
    assert again.schema == first.schema
    assert again.count() == first.count()


def test_memo_first_read_is_plain_inference(spark, tmp_path):
    from omop_dump_to_parquet_spark.sources.parquet import read_lake

    path = str(tmp_path / "t.parquet")
    spark.range(5).selectExpr("id", "cast(id as string) AS s").write.parquet(path)
    got, jobs = count_jobs(spark, lambda: table(spark, str(tmp_path), "t"), "memo-first")
    assert jobs > 0
    assert got.schema == spark.read.parquet(path).schema
    assert read_lake(spark, path).schema == spark.read.parquet(path).schema


def test_memo_spark_overwrite_and_append_reinfer(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(4).selectExpr("id AS a").write.parquet(path)
    assert table(spark, str(tmp_path), "t").columns == ["a"]

    spark.range(3).selectExpr("id AS a", "'x' AS b").write.mode("overwrite").parquet(path)
    got, jobs = count_jobs(spark, lambda: table(spark, str(tmp_path), "t"), "memo-overwrite")
    assert jobs > 0
    assert got.columns == ["a", "b"] and got.count() == 3

    spark.range(10, 12).selectExpr("id AS a", "'y' AS b").write.mode("append").parquet(path)
    got, jobs = count_jobs(spark, lambda: table(spark, str(tmp_path), "t"), "memo-append")
    assert jobs > 0
    assert sorted(r.a for r in got.collect()) == [0, 1, 2, 10, 11]


def test_memo_pyarrow_inplace_rewrite_reinfers(spark, tmp_path):
    """A single-file table (the shape of the shipped fixture tables) rewritten
    in place by pyarrow: new length and mtime, so the memo misses."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert table(spark, str(tmp_path), "t").collect() == [(1,), (2,)]

    pq.write_table(pa.table({"a": ["p", "q", "r"], "b": [1.5, 2.5, 3.5]}), path)
    got, jobs = count_jobs(spark, lambda: table(spark, str(tmp_path), "t"), "memo-rewrite")
    assert jobs > 0
    assert got.dtypes == [("a", "string"), ("b", "double")]
    assert [r.a for r in got.collect()] == ["p", "q", "r"]


def test_memo_nanos_as_long_toggle_reinfers(spark, sf_small, tmp_path):
    """``spark.sql.legacy.parquet.nanosAsLong`` changes what inference
    returns, so toggling it must re-infer: on the events fixture (same
    schema either way, but a job runs), and on a TIMESTAMP(NANOS) copy
    of it, which reads as canonical ``timestamp`` with the conf on and
    must fail loudly with it off instead of reusing the bigint schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    key = "spark.sql.legacy.parquet.nanosAsLong"
    events = pq.read_table(f"{sf_small}/events.parquet")
    nanos = events.set_column(
        events.schema.get_field_index("ts"), "ts", events["ts"].cast(pa.timestamp("ns", tz="UTC"))
    )
    pq.write_table(nanos, str(tmp_path / "events.parquet"))
    assert dict(table(spark, sf_small, "events").dtypes)["ts"] == "timestamp"
    assert dict(table(spark, str(tmp_path), "events").dtypes)["ts"] == "timestamp"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        got, jobs = count_jobs(spark, lambda: table(spark, sf_small, "events"), "memo-nanos")
        assert jobs > 0
        assert got.schema == table(spark, sf_small, "events").schema
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL|Illegal Parquet type"):
            table(spark, str(tmp_path), "events")
    finally:
        spark.conf.set(key, before)
    _, jobs = count_jobs(spark, lambda: table(spark, sf_small, "events"), "memo-nanos-back")
    assert jobs > 0


# -- relation memo: a hit reuses the relation the first read resolved,
#    only while the listing it scans is the listing on disk.


@pytest.fixture
def reads(monkeypatch):
    """The paths of every ``DataFrameReader.parquet`` call, i.e. of
    every read the memo did not serve."""
    from pyspark.sql import DataFrameReader

    calls = []
    parquet = DataFrameReader.parquet

    def spy(self, *paths, **options):
        calls.append(paths)
        return parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    return calls


def _parts(tmp_path, *columns):
    """A table directory of one pyarrow file per column list:
    ``part-<i>.parquet`` holding ``a``, with no ``_SUCCESS`` or
    ``.crc`` files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "t.parquet"
    d.mkdir()
    for i, values in enumerate(columns):
        pq.write_table(pa.table({"a": values}), d / f"part-{i}.parquet")
    return d


def test_memo_hit_builds_no_reader_on_a_single_file_table(spark, sf_small, monkeypatch):
    """The driver's fixture tables are single files; a repeat read of
    one is served from the memo without a reader or a job."""
    from pyspark.sql import DataFrameReader

    def refuse(self, *paths, **options):
        raise AssertionError(f"memo miss: {paths}")

    first = table(spark, sf_small, "lineitem")
    monkeypatch.setattr(DataFrameReader, "parquet", refuse)
    again, jobs = count_jobs(spark, lambda: table(spark, sf_small, "lineitem"), "memo-hit")
    assert jobs == 0
    assert again.schema == first.schema


def test_memo_hits_self_join(spark, sf_small, reads):
    """Each hit gets fresh attribute ids, so two hits join on
    ``a[c] == b[c]`` like two independent reads."""
    from pyspark.sql import functions as F

    want = (
        table(spark, sf_small, "lineitem")
        .groupBy("l_orderkey")
        .count()
        .agg(F.sum(F.col("count") * F.col("count")))
        .first()[0]
    )
    reads.clear()
    a = table(spark, sf_small, "lineitem")
    b = table(spark, sf_small, "lineitem")
    assert reads == []
    assert a.join(b, a["l_orderkey"] == b["l_orderkey"]).count() == want


def test_memo_hidden_files_keep_the_hit(spark, tmp_path, reads):
    """``_SUCCESS``, ``.crc`` and other hidden names are not data files
    by Spark's listing rule, so adding them keeps the hit."""
    d = _parts(tmp_path, [1, 2], [3])
    assert table(spark, str(tmp_path), "t").count() == 3
    (d / "_SUCCESS").write_bytes(b"")
    (d / "._SUCCESS.crc").write_bytes(b"crc")
    (d / "_temporary").mkdir()
    (d / "_temporary" / "part-9.parquet").write_bytes(b"not parquet")
    reads.clear()
    assert sorted(r.a for r in table(spark, str(tmp_path), "t").collect()) == [1, 2, 3]
    assert reads == []


@pytest.mark.parametrize(
    "change, want",
    [("add", [1, 2, 3, 4, 5]), ("remove", [1, 2]), ("rewrite", [1, 2, 7, 8, 9])],
)
def test_memo_data_file_change_reinfers(spark, tmp_path, reads, change, want):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = _parts(tmp_path, [1, 2], [3])
    assert table(spark, str(tmp_path), "t").count() == 3
    if change == "add":
        pq.write_table(pa.table({"a": [4, 5]}), d / "part-2.parquet")
    elif change == "remove":
        (d / "part-1.parquet").unlink()
    else:
        pq.write_table(pa.table({"a": [7, 8, 9]}), d / "part-1.parquet")
    reads.clear()
    got, jobs = count_jobs(spark, lambda: table(spark, str(tmp_path), "t"), "memo-change")
    assert len(reads) == 1 and jobs > 0
    assert sorted(r.a for r in got.collect()) == want


def test_memo_partitioned_lake_is_never_stale(spark, tmp_path, reads):
    """A hive-partitioned directory through ``read_lake``: an unchanged
    one hits, and a new or dropped partition re-infers, with the
    partition column kept."""
    import shutil

    from omop_dump_to_parquet_spark.sources.parquet import read_lake

    path = str(tmp_path / "p")
    spark.range(6).selectExpr("id", "id % 2 AS k").write.partitionBy("k").parquet(path)

    def rows():
        return sorted((r.id, r.k) for r in read_lake(spark, path).collect())

    assert rows() == [(i, i % 2) for i in range(6)]
    reads.clear()
    assert rows() == [(i, i % 2) for i in range(6)]
    assert reads == []
    spark.range(6, 8).selectExpr("id", "2 AS k").write.mode("append").partitionBy("k").parquet(path)
    assert rows() == [(i, i % 2) for i in range(6)] + [(6, 2), (7, 2)]
    assert len(reads) == 1
    shutil.rmtree(tmp_path / "p" / "k=0")
    assert rows() == [(1, 1), (3, 1), (5, 1), (6, 2), (7, 2)]
    assert len(reads) == 2


@pytest.mark.parametrize("sf_dir", [SF_SMALL, SF_MEDIUM])
def test_driver_fixture_texts_contain_no_pipe_sentinel(sf_dir):
    """The t22/t23 contracts assume documents.text never contains '|'
    (the Spark side raises; the DuckDB oracle would silently treat it
    as a word boundary). Assert the invariant on the driver fixtures
    so the raise stays defense-in-depth, never a live engine-vs-oracle
    asymmetry. Randomized fixtures get the same assert inside
    scripts/gen_random_fixture.py."""
    import pyarrow.parquet as pq

    texts = (
        pq.read_table(f"{sf_dir}/documents.parquet", columns=["text"])
        .column("text")
        .to_pylist()
    )
    assert texts
    assert not any("|" in t for t in texts)

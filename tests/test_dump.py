"""The reference pipeline's golden properties (SURVEY.md §5):
count conservation, schema stability, shard sizing."""

from __future__ import annotations

import collections

import pytest

from conftest import SINKS, count_jobs, package_calls, parquet_codecs

from omop_dump_to_parquet_spark.plans import dump_table
from omop_dump_to_parquet_spark.sources.parquet import table


def test_dump_conserves_counts_and_schema(spark, sf_small, tmp_path):
    src = table(spark, sf_small, "lineitem")
    out = str(tmp_path / "lineitem_dump")
    result = dump_table(
        spark, src, out, max_records_per_file=1000, num_files=4
    )
    assert result.rows_written == src.count() == 6000
    assert result.report.count_matches
    assert result.report.schema_matches
    assert result.report.max_file_rows <= 1000
    assert result.report.n_files >= 6  # 6000 rows / 1000-cap


def test_dump_row_limit(spark, sf_small, tmp_path):
    """row_limit ≙ the reference's DEFAULT_N_TO_FETCH cap
    (dump_table.py:24-28)."""
    src = table(spark, sf_small, "orders")
    out = str(tmp_path / "orders_capped")
    result = dump_table(spark, src, out, row_limit=500)
    assert result.rows_written == 500
    assert result.report.ok


def test_dump_normalize_cast(spark, sf_small, tmp_path):
    """casts ≙ the reference's PROVIDER_ID Int64 repair
    (dump_table.py:145-146)."""
    src = table(spark, sf_small, "nation")
    out = str(tmp_path / "nation_cast")
    result = dump_table(spark, src, out, casts={"n_nationkey": "long"})
    assert result.report.ok
    back = spark.read.parquet(out)
    assert dict(back.dtypes)["n_nationkey"] == "bigint"


def test_upsert_merges_by_key(spark, sf_small, tmp_path):
    from pyspark.sql import functions as F

    from omop_dump_to_parquet_spark.plans import upsert_parquet

    cust = spark.read.parquet(f"{sf_small}/customer.parquet")
    lake = str(tmp_path / "cust_lake")
    cust.write.parquet(lake)

    # updates: change acctbal for 5 existing keys, add 2 new keys
    changed = (
        cust.orderBy("c_custkey").limit(5)
        .withColumn("c_acctbal", F.lit(999999.0))
    )
    new = (
        cust.orderBy(F.col("c_custkey").desc()).limit(2)
        .withColumn("c_custkey", F.col("c_custkey") + 1_000_000)
    )
    updates = changed.unionByName(new)

    n = upsert_parquet(spark, lake, updates, ["c_custkey"])
    back = spark.read.parquet(lake)
    assert n == back.count() == cust.count() + 2
    assert back.filter(F.col("c_acctbal") == 999999.0).count() == 5
    assert back.filter(F.col("c_custkey") > 1_000_000).count() == 2
    # untouched keys keep their original rows
    untouched = back.join(updates.select("c_custkey"), "c_custkey", "left_anti")
    orig = cust.join(updates.select("c_custkey"), "c_custkey", "left_anti")
    assert untouched.exceptAll(orig).count() == 0

    # schema drift is rejected, lake untouched
    import pytest as _pytest

    with _pytest.raises(ValueError):
        upsert_parquet(spark, lake, updates.drop("c_acctbal"), ["c_custkey"])
    assert spark.read.parquet(lake).count() == cust.count() + 2


def test_verify_handles_uri_escapable_paths_and_zero_row_shards(
    spark, sf_small, tmp_path
):
    """Percent-encoding reconciliation: a path with a space must not
    double-count as a phantom 0-row shard, and a genuinely empty shard
    must still be reported (via the Hadoop-FS listing, which also
    covers non-file schemes)."""
    from omop_dump_to_parquet_spark.sources.parquet import table
    from omop_dump_to_parquet_spark.verify import verify_parquet

    out = str(tmp_path / "with space" / "region")
    df = table(spark, sf_small, "region")
    df.coalesce(1).write.parquet(out)
    rep = verify_parquet(spark, out, expected_count=df.count())
    assert rep.count_matches
    assert rep.n_files == 1, rep.per_file_rows
    assert all(" " in f for f in rep.per_file_rows), rep.per_file_rows

    # add an empty shard: same schema, zero rows
    df.limit(0).coalesce(1).write.mode("append").parquet(out)
    rep2 = verify_parquet(spark, out, expected_count=df.count())
    assert rep2.count_matches
    assert rep2.n_files == 2, rep2.per_file_rows
    assert 0 in rep2.per_file_rows.values()


def test_verify_footer_counts_match_groupby_scan(spark, sf_small, tmp_path):
    """Footer row counts agree file by file with a
    ``groupBy(input_file_name())`` count over the data, under a path
    with a space; a 0-row shard, which the scan cannot see, is reported
    with 0 rows."""
    from pyspark.sql import functions as F

    from omop_dump_to_parquet_spark.verify import _norm_uri, verify_parquet

    out = str(tmp_path / "with space" / "orders")
    df = table(spark, sf_small, "orders")
    df.repartition(3).write.parquet(out)
    df.limit(0).coalesce(1).write.mode("append").parquet(out)

    rep = verify_parquet(
        spark, out, expected_count=df.count(), max_records_per_file=10**9
    )
    scanned = {
        _norm_uri(r["file"]): r["rows"]
        for r in spark.read.parquet(out)
        .groupBy(F.input_file_name().alias("file"))
        .agg(F.count(F.lit(1)).alias("rows"))
        .collect()
    }
    assert len(scanned) == 3 and all(" " in f for f in scanned), scanned
    assert rep.n_files == 4
    assert rep.per_file_rows == {**dict.fromkeys(rep.per_file_rows, 0), **scanned}
    assert list(rep.per_file_rows.values()).count(0) == 1
    assert rep.count_matches and rep.sizing_ok
    assert rep.max_file_rows == max(scanned.values())


def test_dump_verifies_nested_non_nullable_columns(spark, tmp_path):
    """Array, struct and map columns whose nested fields are
    non-nullable land without loss; the read-back is all-nullable, so
    the schema check must ignore nullability at every nesting level."""
    from pyspark.sql import functions as F

    df = spark.range(50).select(
        "id",
        F.array(F.lit(1), F.col("id")).alias("arr"),
        F.struct(F.lit(1).alias("x"), F.col("id").alias("y")).alias("st"),
        F.create_map(F.lit("k"), F.col("id")).alias("mp"),
    )
    assert df.schema["arr"].dataType.containsNull is False
    assert df.schema["st"].dataType["x"].nullable is False
    assert df.schema["mp"].dataType.valueContainsNull is False
    out = str(tmp_path / "nested")
    result = dump_table(spark, df, out)
    assert result.report.schema_matches, result.report
    assert result.ok and result.rows_written == 50
    back = {r["id"]: r for r in spark.read.parquet(out).collect()}
    assert back == {r["id"]: r for r in df.collect()}


def test_verify_catches_per_shard_schema_drift(spark, tmp_path):
    """Two shards disagreeing on ``b``'s type fail the schema check
    whichever holds the expected type and whichever is listed first."""
    import glob
    import shutil

    from omop_dump_to_parquet_spark.verify import verify_parquet

    as_string = spark.createDataFrame([(1, "x")], "a long, b string")
    as_int = spark.createDataFrame([(2, 7)], "a long, b int")
    for i, shards in enumerate(((as_string, as_int), (as_int, as_string))):
        out = tmp_path / f"drift{i}"
        out.mkdir()
        for j, shard in enumerate(shards):
            stage = str(tmp_path / "stage")
            shard.coalesce(1).write.mode("overwrite").parquet(stage)
            (landed,) = glob.glob(f"{stage}/*.parquet")
            shutil.move(landed, out / f"part-{j}.parquet")
        for expected in (as_string.schema, as_int.schema):
            rep = verify_parquet(
                spark, str(out), expected_count=2, expected_schema=expected
            )
            assert rep.count_matches and rep.n_files == 2
            assert rep.schema_matches is False and not rep.ok


def test_verify_degenerate_paths(spark, tmp_path):
    """A directory with no visible Parquet file matches no schema; a
    missing path raises Hadoop's FileNotFoundException."""
    import pytest
    from py4j.protocol import Py4JJavaError

    from omop_dump_to_parquet_spark.verify import verify_parquet

    schema = spark.createDataFrame([(1,)], "a long").schema
    empty = tmp_path / "empty"
    empty.mkdir()
    (empty / "_SUCCESS").write_text("")
    rep = verify_parquet(
        spark, str(empty), expected_count=0, expected_schema=schema
    )
    assert rep.n_files == 0 and rep.total_bytes == 0 and rep.count_matches
    assert rep.schema_matches is False and not rep.ok

    with pytest.raises(Py4JJavaError) as err:
        verify_parquet(
            spark, str(tmp_path / "missing"), expected_count=0,
            expected_schema=schema,
        )
    assert (
        err.value.java_exception.getClass().getName()
        == "java.io.FileNotFoundException"
    )


def test_dump_of_empty_source(spark, sf_small, tmp_path):
    src = table(spark, sf_small, "nation").filter("n_nationkey < 0")
    result = dump_table(spark, src, str(tmp_path / "empty_dump"))
    assert result.rows_written == 0 and result.report.total_rows == 0
    assert result.report.schema_matches and result.ok


def test_dump_job_budget_and_stage_report(spark, sf_small, tmp_path):
    """With no repartition, the write is the dump's only Spark job:
    verification reads footers on the driver. The report sizes the
    landed files."""
    import glob
    import os

    from omop_dump_to_parquet_spark.verify import verify_parquet

    src = table(spark, sf_small, "orders")
    n = src.count()
    out = str(tmp_path / "orders_dump")
    result, jobs = count_jobs(
        spark, lambda: dump_table(spark, src, out, max_records_per_file=500),
        "dump_budget",
    )
    assert jobs == 1 and result.ok
    assert result.write_s > 0 and result.verify_s > 0
    landed = glob.glob(f"{out}/*.parquet")
    assert result.report.n_files == len(landed) >= 3
    assert result.report.total_bytes == sum(map(os.path.getsize, landed))

    rep, jobs = count_jobs(
        spark,
        lambda: verify_parquet(
            spark, out, expected_count=n, expected_schema=src.schema
        ),
        "verify_budget",
    )
    assert jobs == 0 and rep.ok


def test_compaction_job_budget(spark, sf_small, tmp_path):
    """Compaction takes its expected count from the old layout's
    footers, so it runs only the schema inference and the repartitioned
    write (two jobs under AQE)."""
    from omop_dump_to_parquet_spark.sinks import compact_parquet_dir

    path = str(tmp_path / "frag")
    table(spark, sf_small, "lineitem").repartition(40).write.parquet(path)
    n, jobs = count_jobs(
        spark,
        lambda: compact_parquet_dir(spark, path, target_file_bytes=512 * 1024),
        "compact_budget",
    )
    assert n < 40 and jobs <= 3


def test_upsert_job_budget(spark, sf_small, tmp_path):
    """The merged rewrite is checked from its footers, not by reading
    it back."""
    from pyspark.sql import functions as F

    from omop_dump_to_parquet_spark.plans import upsert_parquet

    cust = table(spark, sf_small, "customer")
    lake = str(tmp_path / "cust_lake")
    cust.write.parquet(lake)
    updates = (
        cust.orderBy("c_custkey").limit(5)
        .withColumn("c_acctbal", F.lit(999999.0))
    )
    n, jobs = count_jobs(
        spark,
        lambda: upsert_parquet(spark, lake, updates, ["c_custkey"]),
        "upsert_budget",
    )
    assert n == cust.count() and jobs <= 9


#: The one place the package lands Parquet and observes its row count.
ALLOWED_WRITE_CALLS = collections.Counter(
    [
        ("plans/dump.py", "dump_table", "write_parquet"),
        ("plans/dump.py", "dump_table", "Observation"),
    ]
)


def test_parquet_lands_only_through_dump_table():
    """Resume, upsert, compaction and the streaming dump call
    ``dump_table``, so every landed lake is verified the same way."""
    write_calls = package_calls({"write_parquet", "Observation"})
    assert write_calls == ALLOWED_WRITE_CALLS


@pytest.mark.parametrize("land", list(SINKS.values()), ids=list(SINKS))
def test_every_writer_lands_the_one_codec(spark, sf_small, tmp_path, land):
    """Every column chunk of every file a writer lands is
    ``PARQUET_CODEC`` (zstd), whatever codec its input was."""
    from omop_dump_to_parquet_spark.sinks import PARQUET_CODEC

    out = str(tmp_path / "lake")
    land(
        spark,
        table(spark, sf_small, "lineitem"),
        out,
        ["l_orderkey", "l_linenumber"],
    )
    codecs = parquet_codecs(out)
    assert set(codecs) == {PARQUET_CODEC.upper()}, codecs


def test_upsert_is_idempotent_for_replayed_batch(spark, sf_small, tmp_path):
    """The st07 exactly-once argument: re-applying the same update
    batch (a foreachBatch replay after crash) must leave the lake
    byte-identical — upsert-by-key is a set merge, not an append."""
    from omop_dump_to_parquet_spark.plans import upsert_parquet
    from omop_dump_to_parquet_spark.sources.parquet import table

    lake = str(tmp_path / "lake")
    table(spark, sf_small, "region").write.parquet(lake)
    updates = spark.createDataFrame(
        [(1, "REPLAYED")], "r_regionkey int, r_name string"
    )
    n1 = upsert_parquet(spark, lake, updates, ["r_regionkey"])
    first = sorted(map(tuple, spark.read.parquet(lake).collect()))
    n2 = upsert_parquet(spark, lake, updates, ["r_regionkey"])
    second = sorted(map(tuple, spark.read.parquet(lake).collect()))
    assert n1 == n2
    assert first == second


class TestResumableDump:
    def test_resume_skips_committed_chunks_and_redumps_torn_ones(
        self, spark, sf_small, tmp_path
    ):
        """Resume from the state a crash after chunk 1 leaves behind:
        committed chunks are skipped, the torn chunk is replaced,
        totals conserve. A fresh 4-chunk dump runs one job per chunk;
        verification reads footers."""
        import os
        import shutil

        from omop_dump_to_parquet_spark.plans.resume import (
            MANIFEST_DIR,
            dump_table_resumable,
        )
        from omop_dump_to_parquet_spark.sources.parquet import table

        li = table(spark, sf_small, "lineitem")
        out = str(tmp_path / "lake")
        # split-not-filter semantics: the chunked union covers EVERY
        # source row, including keys outside the seed bounds
        n_total = li.count()

        full, jobs = count_jobs(
            spark,
            lambda: dump_table_resumable(
                spark, li, out, "l_orderkey", 0, 1499, n_chunks=4
            ),
            "resume_budget",
        )
        assert full.ok and full.chunks_dumped == 4 and jobs == 4

        # crash state: markers for chunks 0-1 only, nothing of chunk 3
        # and a torn write in chunk 2
        for i in (2, 3):
            os.remove(f"{out}/{MANIFEST_DIR}/chunk-{i:05d}")
        shutil.rmtree(f"{out}/chunk=00003")
        torn = f"{out}/chunk=00002"
        shutil.rmtree(torn)
        os.makedirs(torn)
        with open(f"{torn}/part-garbage.parquet", "w") as fh:
            fh.write("not parquet")

        res = dump_table_resumable(
            spark, li, out, "l_orderkey", 0, 1499, n_chunks=4
        )
        assert res.chunks_skipped == 2  # first attempt's work reused
        assert res.chunks_dumped == 2
        assert res.ok
        assert res.rows_written == res.report.total_rows == n_total
        # the lake reads back whole, the torn file is gone and the
        # re-dumped chunk holds rows
        assert (
            spark.read.parquet(f"{out}/chunk=*").count() == n_total
        )
        assert spark.read.parquet(torn).count() > 0

    def test_resume_catches_a_retyped_committed_chunk(
        self, spark, sf_small, tmp_path
    ):
        """A committed chunk rewritten with the same rows but one
        column retyped keeps its marker and its count, so every chunk
        is skipped; the footer schema check still fails the dump."""
        import shutil

        from pyspark.sql import functions as F

        from omop_dump_to_parquet_spark.plans.resume import (
            dump_table_resumable,
        )
        from omop_dump_to_parquet_spark.sources.parquet import table

        li = table(spark, sf_small, "lineitem")
        out = str(tmp_path / "lake")
        assert dump_table_resumable(
            spark, li, out, "l_orderkey", 0, 1499, n_chunks=3
        ).ok
        chunk, swapped = f"{out}/chunk=00001", str(tmp_path / "swapped")
        rows = spark.read.parquet(chunk)
        assert rows.count() > 0
        retyped = F.col("l_quantity").cast("string")
        rows.withColumn("l_quantity", retyped).write.parquet(swapped)
        shutil.rmtree(chunk)
        shutil.move(swapped, chunk)

        res = dump_table_resumable(
            spark, li, out, "l_orderkey", 0, 1499, n_chunks=3
        )
        assert res.chunks_skipped == 3 and res.chunks_dumped == 0
        assert not res.ok
        assert res.report.count_matches
        assert res.report.schema_matches is False

    def test_rerun_after_success_is_all_skips(self, spark, sf_small, tmp_path):
        from omop_dump_to_parquet_spark.plans.resume import (
            dump_table_resumable,
        )
        from omop_dump_to_parquet_spark.sources.parquet import table

        li = table(spark, sf_small, "lineitem")
        out = str(tmp_path / "lake")
        first = dump_table_resumable(
            spark, li, out, "l_orderkey", 0, 1499, n_chunks=3
        )
        again = dump_table_resumable(
            spark, li, out, "l_orderkey", 0, 1499, n_chunks=3
        )
        assert first.ok and again.ok
        assert again.chunks_skipped == 3 and again.chunks_dumped == 0
        assert again.rows_written == first.rows_written

    def test_resume_with_different_chunking_fails_fast(
        self, spark, sf_small, tmp_path
    ):
        """Markers are self-describing; resuming over them with a
        different chunk layout must raise, not silently mix layouts."""
        import pytest

        from omop_dump_to_parquet_spark.plans.resume import (
            dump_table_resumable,
        )
        from omop_dump_to_parquet_spark.sources.parquet import table

        li = table(spark, sf_small, "lineitem")
        out = str(tmp_path / "lake")
        dump_table_resumable(spark, li, out, "l_orderkey", 0, 1499, n_chunks=4)
        with pytest.raises(ValueError, match="parameter mismatch"):
            dump_table_resumable(
                spark, li, out, "l_orderkey", 0, 1499, n_chunks=2
            )
        with pytest.raises(ValueError, match="parameter mismatch"):
            dump_table_resumable(
                spark, li, out, "l_orderkey", 500, 1499, n_chunks=4
            )

    def test_stale_bounds_lose_no_rows(self, spark, sf_small, tmp_path):
        """Edge chunks are unbounded (split-not-filter semantics), so
        bounds from a stale min/max estimate still cover every row —
        including keys outside [lower, upper]."""
        from pyspark.sql import functions as F

        from omop_dump_to_parquet_spark.plans.resume import (
            dump_table_resumable,
        )
        from omop_dump_to_parquet_spark.sources.parquet import table

        li = table(spark, sf_small, "lineitem")
        out = str(tmp_path / "lake")
        # bounds cover only the middle of the real key range [0, 1499]
        lower, upper = 500, 1000
        assert li.filter(F.col("l_orderkey") < lower).count() > 0
        assert li.filter(F.col("l_orderkey") > upper).count() > 0
        res = dump_table_resumable(
            spark, li, out, "l_orderkey", lower, upper, n_chunks=3
        )
        assert res.ok
        assert res.rows_written == li.count()

    def test_empty_source_reports_zero_conserved(
        self, spark, sf_small, tmp_path
    ):
        """An empty chunk still lands one 0-row file carrying the
        schema, so an all-empty dump verifies as a conserved 0-row
        lake."""
        from omop_dump_to_parquet_spark.plans.resume import (
            dump_table_resumable,
        )
        from omop_dump_to_parquet_spark.sources.parquet import table

        li = table(spark, sf_small, "lineitem").filter("l_orderkey < 0")
        out = str(tmp_path / "lake")
        res = dump_table_resumable(
            spark, li, out, "l_orderkey", 0, 1499, n_chunks=3
        )
        assert res.ok
        assert res.rows_written == 0
        assert res.report.total_rows == 0


def test_lake_additive_schema_evolution(spark, sf_small, tmp_path):
    """Two dump generations into one lake — v2 adds a nullable column
    — must read back as ONE table under read_lake(merge_schema=True):
    union schema, counts conserved, pre-evolution rows NULL in the
    new column; and the schema-stable default (merge_schema=False)
    still reads a single-generation lake untouched."""
    from pyspark.sql import functions as F

    from omop_dump_to_parquet_spark.sources.parquet import read_lake

    src = table(spark, sf_small, "documents").select(
        "doc_id", "text", "lang"
    )
    v1_dir, v2_dir = str(tmp_path / "gen=1"), str(tmp_path / "gen=2")
    r1 = dump_table(spark, src, v1_dir)
    assert r1.ok
    v2 = src.withColumn(
        "quality", (F.length("text") % 7).cast("double")
    ).withColumn("doc_id", F.col("doc_id") + 100_000)
    r2 = dump_table(spark, v2, v2_dir)
    assert r2.ok

    merged = read_lake(spark, v1_dir, v2_dir, merge_schema=True)
    assert set(merged.columns) == {"doc_id", "text", "lang", "quality"}
    n1, n2 = src.count(), v2.count()
    assert merged.count() == n1 + n2
    # every pre-evolution row reads NULL in the evolved column; every
    # post-evolution row keeps its value
    nulls = merged.filter(F.col("quality").isNull()).count()
    assert nulls == n1
    kept = (
        merged.filter(F.col("doc_id") >= 100_000)
        .select(
            F.sum(
                (
                    F.col("quality") == (F.length("text") % 7).cast("double")
                ).cast("int")
            ).alias("ok")
        )
        .first()["ok"]
    )
    assert kept == n2

    # schema-stable default path is unchanged
    plain = read_lake(spark, v1_dir)
    assert set(plain.columns) == {"doc_id", "text", "lang"}
    assert plain.count() == n1


def test_upsert_rejects_duplicate_update_keys(spark, sf_small, tmp_path):
    """r10 review: duplicate keys WITHIN an update batch would land
    multiple rows per key in the lake (anti-join drops the old row,
    union keeps both new ones) and the conservation check counts the
    duplicates on both sides — so the merge must fail fast instead."""
    import pytest

    from omop_dump_to_parquet_spark.plans import upsert_parquet
    from omop_dump_to_parquet_spark.sources.parquet import table

    region = table(spark, sf_small, "region")
    lake = str(tmp_path / "dup_lake")
    region.write.parquet(lake)
    dup = region.limit(1).unionByName(region.limit(1))  # same key twice
    with pytest.raises(ValueError, match="duplicate key"):
        upsert_parquet(spark, lake, dup, ["r_regionkey"])
    # lake untouched by the refused merge
    assert spark.read.parquet(lake).count() == region.count()


def test_verify_ignores_hidden_staging_files(spark, sf_small, tmp_path):
    """r10 review: verification must apply Spark's hidden-file rule —
    a dot-prefixed staging dir (compaction's crash-recovery copy)
    inside a hive root is invisible to spark.read.parquet, so
    counting its footers would fail a lake that is actually correct."""
    from omop_dump_to_parquet_spark.sources.parquet import table
    from omop_dump_to_parquet_spark.verify import verify_parquet

    docs = table(spark, sf_small, "documents")
    root = str(tmp_path / "vlake")
    docs.write.partitionBy("lang").parquet(root)
    # stale hidden staging copy of one leaf, full of real parquet
    leaf = sorted(
        d for d in __import__("os").listdir(root) if d.startswith("lang=")
    )[0]
    spark.read.parquet(f"{root}/{leaf}").write.parquet(
        f"{root}/.{leaf}.__compact_old"
    )
    rep = verify_parquet(spark, root, expected_count=docs.count())
    assert rep.count_matches, rep.total_rows

"""Hive-partitioned lake layout + partition pruning, and the
foreachBatch exactly-once-style streaming sink."""

from __future__ import annotations

from pyspark.sql import functions as F

from omop_dump_to_parquet_spark.sinks import write_parquet
from omop_dump_to_parquet_spark.sources.parquet import table


def test_partitioned_write_and_pruning(spark, sf_small, tmp_path):
    docs = table(spark, sf_small, "documents")
    out = str(tmp_path / "docs_by_lang")
    write_parquet(docs, out, partition_by=["lang"])

    back = spark.read.parquet(out)
    assert back.count() == docs.count()

    # Predicate on the partition column must prune at the source:
    # PartitionFilters carries the predicate, and only matching
    # directories are listed.
    q = back.filter(F.col("lang") == "en")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = q._jdf.queryExecution().explainString(mode)
    pf = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "lang" in pf
    n_en = docs.filter(F.col("lang") == "en").count()
    assert q.count() == n_en
    files = {r[0] for r in q.select(F.input_file_name()).distinct().collect()}
    assert files and all("lang=en" in f for f in files)


def test_foreachbatch_streaming_sink(spark, sf_small, tmp_path):
    """Streaming → parquet lake via foreachBatch (idempotent-by-epoch
    sink pattern); replayed fixture lands exactly once."""
    import os
    import tempfile

    raw = spark.read.parquet(f"{sf_small}/events.parquet")
    stage = tempfile.mkdtemp(prefix="fb_events_")
    os.symlink(
        os.path.abspath(f"{sf_small}/events.parquet"),
        os.path.join(stage, "events.parquet"),
    )
    stream = spark.readStream.schema(raw.schema).parquet(stage)
    out = str(tmp_path / "stream_lake")
    seen_epochs = []

    def sink(batch_df, epoch_id):
        seen_epochs.append(epoch_id)
        batch_df.write.mode("append").parquet(out)

    q = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", str(tmp_path / "ckpt")
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert seen_epochs == [0]
    assert spark.read.parquet(out).count() == raw.count()


def test_stream_dump_exactly_once_and_resume(spark, sf_small, tmp_path):
    """plans.stream_dump: two files arriving across restarts land
    exactly once each, with the normalization cast applied."""
    import shutil

    from omop_dump_to_parquet_spark.plans import stream_dump

    src = spark.read.parquet(f"{sf_small}/nation.parquet")
    landing = tmp_path / "landing"
    landing.mkdir()
    out, ckpt = str(tmp_path / "lake"), str(tmp_path / "ckpt")

    # first arrival
    src.limit(10).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "a")
    )
    for f in (tmp_path / "a").glob("*.parquet"):
        shutil.copy(f, landing / "a.parquet")
    q = stream_dump(
        spark, str(landing), out, ckpt, src.schema,
        casts={"n_regionkey": "int"},
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # second arrival + restart from the same checkpoint: only the new
    # file is processed (offsets survive), nothing is duplicated.
    src.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "b"))
    for f in (tmp_path / "b").glob("*.parquet"):
        shutil.copy(f, landing / "b.parquet")
    q2 = stream_dump(
        spark, str(landing), out, ckpt, src.schema,
        casts={"n_regionkey": "int"},
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    back = spark.read.parquet(out)
    assert back.count() == 10 + src.count()
    assert dict(back.dtypes)["n_regionkey"] == "int"


def test_zorder_clusters_both_dimensions(spark, sf_small, tmp_path):
    """Z-ordered files must cover narrow ranges of BOTH key columns, so
    either predicate prunes most files via footer min/max stats; a
    single-column range layout only achieves that for its own column."""
    import glob

    import pyarrow.parquet as pq

    from omop_dump_to_parquet_spark.sources.parquet import table as t

    orders = t(spark, sf_small, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )

    def per_file_span(path, col):
        spans, glo, ghi = [], None, None
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            idx = md.schema.names.index(col)
            lo = min(md.row_group(i).column(idx).statistics.min for i in range(md.num_row_groups))
            hi = max(md.row_group(i).column(idx).statistics.max for i in range(md.num_row_groups))
            spans.append(hi - lo)
            glo = lo if glo is None else min(glo, lo)
            ghi = hi if ghi is None else max(ghi, hi)
        return sum(spans) / len(spans) / ((ghi - glo) or 1)

    zpath = str(tmp_path / "z")
    # 16 files → the curve's top 4 bits split each dimension into 4
    # top-level ranges (2 bits per dim with 2-dim interleaving)
    write_parquet(
        orders, zpath, zorder_on=["o_custkey", "o_totalprice"], num_files=16
    )
    rpath = str(tmp_path / "r")
    write_parquet(orders, rpath, range_partition_on="o_custkey", num_files=16)

    assert spark.read.parquet(zpath).count() == orders.count()
    # z-order: both dims well under the global span per file
    assert per_file_span(zpath, "o_custkey") < 0.55
    assert per_file_span(zpath, "o_totalprice") < 0.55
    # single-column range layout: its own column clusters tightly,
    # the other column stays near the full span in every file
    assert per_file_span(rpath, "o_custkey") < 0.2
    assert per_file_span(rpath, "o_totalprice") > 0.8


def test_compaction_preserves_rows_and_shrinks_files(spark, sf_small, tmp_path):
    from omop_dump_to_parquet_spark.sinks import compact_parquet_dir

    li = table(spark, sf_small, "lineitem")
    path = str(tmp_path / "frag")
    li.repartition(40).write.parquet(path)  # pathological: 40 tiny files
    import glob

    assert len(glob.glob(f"{path}/*.parquet")) == 40
    n = compact_parquet_dir(spark, path, target_file_bytes=512 * 1024)
    files = glob.glob(f"{path}/*.parquet")
    assert len(files) == n < 40
    back = spark.read.parquet(path)
    assert back.count() == li.count()
    assert back.schema == li.schema
    # idempotent: a second pass finds nothing to do
    assert compact_parquet_dir(spark, path, target_file_bytes=512 * 1024) == n


def test_compaction_recurses_into_hive_partitions(spark, sf_small, tmp_path):
    import glob

    from omop_dump_to_parquet_spark.sinks import compact_parquet_dir

    docs = table(spark, sf_small, "documents")
    path = str(tmp_path / "hive_frag")
    docs.repartition(10).write.partitionBy("lang").parquet(path)
    before = len(glob.glob(f"{path}/lang=*/*.parquet"))
    n = compact_parquet_dir(spark, path, target_file_bytes=4 * 1024 * 1024)
    after = glob.glob(f"{path}/lang=*/*.parquet")
    assert len(after) == n < before
    back = spark.read.parquet(path)
    assert back.count() == docs.count()
    # partition layout intact → pruning still works
    assert set(back.select("lang").distinct().toPandas()["lang"]) == set(
        docs.select("lang").distinct().toPandas()["lang"]
    )


def test_stream_dump_max_files_per_trigger(spark, sf_small, tmp_path):
    """maxFilesPerTrigger=1 must process a 2-file landing dir in two
    epochs (bounded batch size — the backpressure knob at scale)."""
    import glob
    import shutil

    from omop_dump_to_parquet_spark.plans import stream_dump

    src = spark.read.parquet(f"{sf_small}/region.parquet")
    landing = tmp_path / "landing"
    landing.mkdir()
    for i in range(2):
        src.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / f"s{i}"))
        for f in (tmp_path / f"s{i}").glob("*.parquet"):
            shutil.copy(f, landing / f"f{i}.parquet")
    out, ckpt = str(tmp_path / "lake"), str(tmp_path / "ckpt")
    q = stream_dump(
        spark, str(landing), out, ckpt, src.schema, max_files_per_trigger=1
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    epochs = sorted(glob.glob(f"{out}/epoch=*"))
    assert len(epochs) == 2, epochs
    assert spark.read.parquet(out).count() == 2 * src.count()


def test_compaction_recovers_from_stale_crash_state(spark, sf_small, tmp_path):
    """A __compact_tmp/__compact_old left by a crashed run must not
    wedge the next run."""
    import glob
    import os

    from omop_dump_to_parquet_spark.sinks import compact_parquet_dir

    li = table(spark, sf_small, "lineitem")
    path = str(tmp_path / "frag2")
    li.repartition(20).write.parquet(path)
    # simulate a prior crash: stale dirs with junk in them (markers
    # are dot-prefixed siblings — hidden from Spark listing)
    for stale in (
        f"{tmp_path}/.frag2.__compact_tmp",
        f"{tmp_path}/.frag2.__compact_old",
    ):
        os.makedirs(stale)
        with open(os.path.join(stale, "junk.parquet"), "w") as f:
            f.write("not parquet")
    n = compact_parquet_dir(spark, path, target_file_bytes=512 * 1024)
    assert len(glob.glob(f"{path}/*.parquet")) == n < 20
    assert spark.read.parquet(path).count() == li.count()
    assert not os.path.exists(f"{tmp_path}/.frag2.__compact_tmp")
    assert not os.path.exists(f"{tmp_path}/.frag2.__compact_old")


def test_upsert_recovers_from_stale_crash_state(spark, sf_small, tmp_path):
    import os

    from omop_dump_to_parquet_spark.plans import upsert_parquet

    region = spark.read.parquet(f"{sf_small}/region.parquet")
    lake = str(tmp_path / "region_lake")
    region.write.parquet(lake)
    # simulate a prior crash: both stale dirs, with junk in the tmp one
    os.makedirs(f"{lake}.__upsert_old")
    os.makedirs(f"{lake}.__upsert_tmp")
    with open(f"{lake}.__upsert_tmp/junk.parquet", "w") as f:
        f.write("not parquet")
    n = upsert_parquet(spark, lake, region.limit(1), ["r_regionkey"])
    assert n == region.count()
    assert not os.path.exists(f"{lake}.__upsert_old")
    assert not os.path.exists(f"{lake}.__upsert_tmp")


def test_dynamic_partition_pruning_on_join(spark, sf_small, tmp_path):
    """DYNAMIC partition pruning — the join-driven sibling of the
    static pruning above and of the bloom-filter runtime filter
    (test_plans_physical): when a partitioned fact is joined on its
    partition column against a SELECTIVE dimension, the fact scan's
    partition filter is a runtime `dynamicpruning` subquery fed by
    the dim side, so only joining partitions are ever listed/read —
    at 100 TB the difference between scanning one date's directories
    and the whole lake. Broadcast is disabled to force the exchange
    shape where DPP pays (with broadcast reuse, Spark instead feeds
    the pruning subquery from the reused broadcast — also asserted)."""
    from pyspark.sql import functions as F

    assert (
        spark.conf.get("spark.sql.optimizer.dynamicPartitionPruning.enabled")
        == "true"
    )
    docs = table(spark, sf_small, "documents")
    out = str(tmp_path / "docs_by_lang_dpp")
    write_parquet(docs, out, partition_by=["lang"])
    fact = spark.read.parquet(out)
    # selective one-partition dim: distinct langs of short docs
    dim = (
        docs.filter(F.length("text") < 200)
        .select(F.col("lang").alias("d_lang"))
        .distinct()
        .limit(1)
    )
    j = fact.join(dim, fact["lang"] == dim["d_lang"])
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = j._jdf.queryExecution().explainString(mode)
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    # and the join result is correct
    keep = {r["d_lang"] for r in dim.collect()}
    expect = docs.filter(F.col("lang").isin(*keep)).count()
    assert j.count() == expect


def test_hive_leaf_staging_invisible_to_concurrent_readers(
    spark, sf_small, tmp_path
):
    """r10 review: a leaf rewrite staged as a PLAIN-named sibling
    (root/lang=en.__compact_tmp) is discovered by concurrent readers
    of the root as an extra partition value — corrupting the
    partition column and double-counting the leaf. Markers are now
    dot-prefixed, which Spark's hidden-file filter skips: a reader of
    the root mid-rewrite must see exactly the committed data."""
    import os

    from omop_dump_to_parquet_spark.sinks import compact_parquet_dir
    from omop_dump_to_parquet_spark.sinks.compact import _TMP, _marker

    docs = table(spark, sf_small, "documents")
    root = str(tmp_path / "hive_inflight")
    docs.repartition(4).write.partitionBy("lang").parquet(root)
    langs = {
        r["lang"] for r in docs.select("lang").distinct().collect()
    }
    leaf = f"{root}/lang={sorted(langs)[0]}"
    # simulate the mid-rewrite window: the staged copy exists next to
    # the live leaf, full of real parquet data
    staged = _marker(leaf, _TMP)
    spark.read.parquet(leaf).write.parquet(staged)
    assert os.path.basename(staged).startswith(".")
    back = spark.read.parquet(root)
    assert back.count() == docs.count()  # no double count
    assert {
        r["lang"] for r in back.select("lang").distinct().collect()
    } == langs  # no phantom partition value
    # and the next maintenance run clears the stale staging dir
    compact_parquet_dir(spark, root, target_file_bytes=4 * 1024 * 1024)
    assert not os.path.exists(staged)
    assert spark.read.parquet(root).count() == docs.count()


def test_compaction_converges_for_narrow_rows(spark, tmp_path):
    """The sink's default maxRecordsPerFile (2^19) must not split each
    of the n_target partitions of a narrow-row rewrite into several
    files, or the returned count is wrong and every later run
    re-rewrites the directory. The input lands through the sink, so
    both runs size the same codec's bytes."""
    import glob

    from omop_dump_to_parquet_spark.sinks import compact_parquet_dir

    # 3M narrow rows (~24 compressed bytes each): well past 2^19 rows
    # per target file
    df = spark.range(3_000_000).selectExpr("id", "id % 97 AS v")
    path = str(tmp_path / "narrow")
    write_parquet(df, path, num_files=24)
    total = sum(
        __import__("os").path.getsize(f)
        for f in glob.glob(f"{path}/*.parquet")
    )
    target = max(1, round(total / 2))  # aim for exactly 2 files
    n = compact_parquet_dir(spark, path, target_file_bytes=target)
    files = glob.glob(f"{path}/*.parquet")
    assert len(files) == n == 2, (n, len(files))
    assert spark.read.parquet(path).count() == 3_000_000
    # converged: a second run is a no-op (already at/below target)
    assert compact_parquet_dir(spark, path, target_file_bytes=target) == 2
    assert len(glob.glob(f"{path}/*.parquet")) == 2


def test_compaction_converges_across_a_codec_change(spark, tmp_path):
    """A snappy directory is sized by its snappy bytes, so its first
    rewrite lands smaller zstd files that one more run may merge;
    the run after that is a no-op."""
    import glob
    import os

    from conftest import parquet_codecs

    from omop_dump_to_parquet_spark.sinks import compact_parquet_dir

    df = spark.range(3_000_000).selectExpr("id", "id % 97 AS v")
    path = str(tmp_path / "snappy")
    df.repartition(24).write.option("compression", "snappy").parquet(path)

    def files():
        return sorted(glob.glob(f"{path}/*.parquet"))

    target = max(1, round(sum(os.path.getsize(f) for f in files()) / 2))
    runs = [
        (compact_parquet_dir(spark, path, target), files()) for _ in range(3)
    ]
    assert set(parquet_codecs(path)) == {"ZSTD"}
    assert runs[0][0] == 2 and runs[1][0] <= 2
    assert runs[2] == runs[1]  # the third run rewrites nothing
    assert spark.read.parquet(path).count() == 3_000_000


def test_compaction_recovers_legacy_plain_named_root_markers(
    spark, sf_small, tmp_path
):
    """A lake that crashed MID-SWAP under the plain-sibling marker
    naming (``path.__compact_old``, no dot prefix): the only copy of
    the data sits in that marker, so recovery must restore it, then
    compact normally."""
    import glob
    import os

    from omop_dump_to_parquet_spark.sinks import compact_parquet_dir

    li = table(spark, sf_small, "lineitem")
    path = str(tmp_path / "legacy_lake")
    # crash state: data only under the plain-named old marker, plus a
    # stale plain-named tmp with junk — path itself does not exist
    li.repartition(20).write.parquet(f"{path}.__compact_old")
    os.makedirs(f"{path}.__compact_tmp")
    with open(f"{path}.__compact_tmp/junk.parquet", "w") as f:
        f.write("not parquet")

    n = compact_parquet_dir(spark, path, target_file_bytes=512 * 1024)
    assert len(glob.glob(f"{path}/*.parquet")) == n < 20
    assert spark.read.parquet(path).count() == li.count()
    assert not os.path.exists(f"{path}.__compact_old")
    assert not os.path.exists(f"{path}.__compact_tmp")


def test_compaction_cleans_stale_legacy_markers_beside_live_path(
    spark, sf_small, tmp_path
):
    """If the path itself survived the crash, leftover plain-named
    markers are stale state: cleaned, never restored over the live
    data."""
    import glob
    import os

    from omop_dump_to_parquet_spark.sinks import compact_parquet_dir

    li = table(spark, sf_small, "lineitem")
    path = str(tmp_path / "live_lake")
    li.repartition(20).write.parquet(path)
    # stale plain-named markers with DIFFERENT (wrong) contents
    li.limit(5).write.parquet(f"{path}.__compact_old")
    os.makedirs(f"{path}.__compact_tmp")

    n = compact_parquet_dir(spark, path, target_file_bytes=512 * 1024)
    assert len(glob.glob(f"{path}/*.parquet")) == n < 20
    assert spark.read.parquet(path).count() == li.count()  # live data won
    assert not os.path.exists(f"{path}.__compact_old")
    assert not os.path.exists(f"{path}.__compact_tmp")


# ---------------------------------------------------------------------------
# zorder_key: out-of-range, NaN and ±inf values never throw under ANSI
# ---------------------------------------------------------------------------

ZBITS = 8
ZMAX_Q = (1 << ZBITS) - 1


def _deinterleave(key: int, d: int, n_dims: int = 2) -> int:
    """Quantized coordinate of dimension ``d`` in a z-order key."""
    return sum(((key >> (n_dims * i + d)) & 1) << i for i in range(ZBITS))


def _zkeys(df, bounds=None) -> dict[int, int]:
    from omop_dump_to_parquet_spark.functions.zorder import zorder_key

    out = {
        r["id"]: r["zk"]
        for r in df.select(
            "id",
            zorder_key(df, ["x", "y"], bits=ZBITS, bounds=bounds).alias("zk"),
        ).collect()
    }
    assert all(0 <= v <= (1 << (ZBITS * 2)) - 1 for v in out.values())
    return out


def test_zorder_clamps_out_of_range_and_nan_with_caller_bounds(spark):
    """Caller-supplied bounds NARROWER than the data: far-out values
    and NaN must clamp to edge buckets (docstring contract), not
    throw from the ANSI double→long cast."""
    df = spark.createDataFrame(
        [
            (0, 50.0, 50.0),        # inside the bounds
            (1, 1.0e18, 50.0),      # far above hi → top edge bucket
            (2, -1.0e18, 50.0),     # far below lo → bottom edge bucket
            (3, float("nan"), 50.0),  # NaN → NULL-policy bottom bucket
            (4, None, 50.0),        # NULL → bottom bucket
        ],
        "id bigint, x double, y double",
    )
    out = _zkeys(df, bounds={"x": (0.0, 100.0), "y": (0.0, 100.0)})
    assert _deinterleave(out[1], 0) == ZMAX_Q  # clamped to top bucket
    assert _deinterleave(out[2], 0) == 0      # clamped to bottom bucket
    assert _deinterleave(out[3], 0) == 0      # NaN follows the NULL policy
    assert _deinterleave(out[4], 0) == 0
    assert 0 < _deinterleave(out[0], 0) < ZMAX_Q


def test_zorder_nan_in_data_without_bounds_degrades_gracefully(spark):
    """No caller bounds + a NaN in the column: Spark's max() returns
    NaN (NaN orders above everything), which would poison the derived
    bounds and collapse the dimension. NaN is excluded from the stats
    aggregation, so non-NaN values keep their REAL quantization bounds
    and the NaN row follows the per-row NULL policy (bottom bucket) —
    never a throw, never an out-of-space key."""
    df = spark.createDataFrame(
        [(0, 1.0, 10.0), (1, float("nan"), 20.0), (2, 3.0, 30.0)],
        "id bigint, x double, y double",
    )
    by_id = _zkeys(df)
    # x (dim 0): bounds come from the non-NaN values {1.0, 3.0}, so
    # 1.0 -> bottom, 3.0 -> top, NaN -> NULL policy (bottom)
    assert _deinterleave(by_id[0], 0) == 0
    assert _deinterleave(by_id[2], 0) == ZMAX_Q
    assert _deinterleave(by_id[1], 0) == 0
    # y (dim 1) clusters normally
    ys = [_deinterleave(by_id[i], 1) for i in (0, 1, 2)]
    assert ys[0] < ys[1] < ys[2]


def test_zorder_inf_in_data_without_bounds_degrades_gracefully(spark):
    """No caller bounds + a ±inf in the column: an infinite derived
    span would quantize every FINITE row to bucket 0. Non-finite
    values are excluded from the stats aggregation, so finite values
    keep their real bounds; the inf rows clamp to the edge buckets per
    the out-of-range policy."""
    df = spark.createDataFrame(
        [
            (0, 1.0, 10.0),
            (1, float("inf"), 20.0),
            (2, 3.0, 30.0),
            (3, float("-inf"), 40.0),
        ],
        "id bigint, x double, y double",
    )
    by_id = _zkeys(df)
    # x (dim 0): bounds come from the FINITE values {1.0, 3.0}
    assert _deinterleave(by_id[0], 0) == 0
    assert _deinterleave(by_id[2], 0) == ZMAX_Q
    # the inf rows clamp to the edges instead of throwing under ANSI
    assert _deinterleave(by_id[1], 0) == ZMAX_Q
    assert _deinterleave(by_id[3], 0) == 0
    # y (dim 1) clusters normally despite x's non-finite rows
    ys = [_deinterleave(by_id[i], 1) for i in (0, 1, 2, 3)]
    assert ys == sorted(ys) and ys[0] < ys[3]


def test_zorder_caller_supplied_inf_bounds_collapse_not_throw(spark):
    """Caller-supplied (lo=-inf / hi=inf / NaN) bounds must be guarded
    like derived ones: the dimension degrades to constant instead of
    an inf span reaching the quantization arithmetic."""
    df = spark.createDataFrame(
        [(0, 1.0, 10.0), (1, 2.0, 20.0)], "id bigint, x double, y double"
    )
    by_id = _zkeys(
        df, bounds={"x": (float("-inf"), float("inf")), "y": (10.0, 30.0)}
    )
    # x collapsed to a constant dim (guarded), y still clusters
    assert _deinterleave(by_id[0], 0) == _deinterleave(by_id[1], 0)
    assert _deinterleave(by_id[0], 1) < _deinterleave(by_id[1], 1)

"""The kernel wrappers ``functions.kernels.map_rows`` and
``map_batches`` and the kernels built on them: keys pass through with
their own type, exact values and NULLs, empty and all-dropping inputs
give 0 rows with the declared schema, a NULL or ragged embedding fails
by name, and every Python kernel in the package runs on Arrow."""

from __future__ import annotations

import collections

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from conftest import package_calls
from pyspark.sql.types import DataType

from omop_dump_to_parquet_spark.functions.kernels import map_rows
from omop_dump_to_parquet_spark.operators import multimodal as M
from omop_dump_to_parquet_spark.operators import pipeline as P
from omop_dump_to_parquet_spark.operators import similarity as S
from omop_dump_to_parquet_spark.operators import text as T

PAYLOADS = [
    b"the quick brown fox jumps over the lazy dog " * 3,
    bytes(range(97, 123)) * 5,
    b"abcdefghijklmnopqrstuvwxyz0123456789" * 2,
]
HTML = (
    '<html><head><title>t</title></head><body><nav><a href="/">Home</a>'
    "</nav><p>&nbsp;first &amp; second</p><p>third &#102;ourth</p>"
    "</body></html>"
)


def _payloads(spark, key_type, payloads=PAYLOADS):
    keys = [i if key_type == "long" else f"doc-{i}" for i in range(len(payloads))]
    return spark.createDataFrame(
        list(zip(keys, payloads)), f"doc_id {key_type}, payload binary"
    )


def _html(spark, key_type):
    key = "doc-0" if key_type == "string" else 0
    return spark.createDataFrame([(key, HTML)], f"doc_id {key_type}, html string")


# the public kernels called with (doc_id, payload) or (doc_id, html)
KEYED = {
    "decode_features": (_payloads, M.decode_features),
    "frame_sample": (_payloads, M.frame_sample),
    "ahash_64": (_payloads, M.ahash_64),
    "png_pixels∘encode_png_frames": (
        _payloads,
        lambda df: M.png_pixels(M.encode_png_frames(df)),
    ),
    "wav_frame_features∘encode_wav_frames": (
        _payloads,
        lambda df: M.wav_frame_features(M.encode_wav_frames(df)),
    ),
    "html_extract": (_html, T.html_extract),
}


@pytest.mark.parametrize("name", sorted(KEYED))
def test_string_keys_pass_through_unchanged(spark, name):
    make, kernel = KEYED[name]
    by_str = kernel(make(spark, "string"))
    assert dict(by_str.dtypes)["doc_id"] == "string"
    got = sorted((r["doc_id"], *r[1:]) for r in by_str.collect())
    want = sorted(
        (f"doc-{r['doc_id']}", *r[1:]) for r in kernel(make(spark, "long")).collect()
    )
    assert got == want and got


def test_map_rows_fans_out_and_keeps_null_keys(spark):
    for key_type, key in (("string", "k"), ("long", 7)):
        df = spark.createDataFrame(
            [(key, 2), (None, 1), (key, 0)], f"id {key_type}, n int"
        )
        out = map_rows(
            df, lambda n: [(i, f"x{i}") for i in range(n)], "i int, s string"
        )
        assert out.schema == DataType.fromDDL(f"id {key_type}, i int, s string")
        assert sorted(map(tuple, out.collect()), key=repr) == sorted(
            [(key, 0, "x0"), (key, 1, "x1"), (None, 0, "x0")], key=repr
        )


def test_map_rows_keeps_64_bit_values_exact_next_to_nulls(spark):
    """pandas widens a nullable long column holding a NULL to float64:
    2^53 + 1 rounds to 2^53, and 7 reaches the row function as 7.0."""
    big = 2**53 + 1
    df = spark.createDataFrame(
        [(big, 7), (None, None)], "k long, v long"
    ).coalesce(1)
    out = map_rows(df, lambda v: [(repr(v),)], "seen string")
    assert sorted(map(tuple, out.collect()), key=repr) == sorted(
        [(big, "7"), (None, "None")], key=repr
    )


@pytest.mark.parametrize(
    "broken, message",
    [(None, "embedding column holds 1 NULL row"), ([0.5], "ragged embedding")],
    ids=["null", "ragged"],
)
def test_vector_kernel_names_a_null_or_ragged_embedding(
    spark, sf_small, tmp_path, broken, message
):
    emb = pq.read_table(f"{sf_small}/embeddings.parquet").slice(0, 40)
    rows = emb.to_pylist()
    rows[S.N_QUERIES + 3]["embedding"] = broken
    pq.write_table(
        pa.Table.from_pylist(rows, schema=emb.schema),
        str(tmp_path / "embeddings.parquet"),
    )
    with pytest.raises(Exception, match=f"ValueError: {message}"):
        S.s06_ann_int8(spark, str(tmp_path)).collect()


_BINARY = "doc_id long, payload binary"
_SIZED = "doc_id long, payload binary, src_w int, src_h int"
_RESIZED = "doc_id long, " + M.RESIZED_SCHEMA

# kernel → (input schema, declared output schema)
EMPTY = {
    "decode_features": (
        M.decode_features,
        _BINARY,
        "doc_id long, f_len double, f_first double, f_last double, f_sum16 double",
    ),
    "frame_sample": (
        M.frame_sample,
        _BINARY,
        "doc_id long, frame_idx int, frame_bytes int, frame binary",
    ),
    "resize_frames": (M.resize_frames, _SIZED, _RESIZED),
    "resize_bmp": (M.resize_bmp, _BINARY, _RESIZED),
    "encode_bmp_frames": (M.encode_bmp_frames, _BINARY, _BINARY),
    "ahash_64": (M.ahash_64, _BINARY, "doc_id long, phash long"),
    "encode_wav_frames": (M.encode_wav_frames, _BINARY, _BINARY),
    "wav_frame_features": (
        M.wav_frame_features,
        _BINARY,
        "doc_id long, frame_idx int, n_samples int, peak_abs int, "
        "sum_abs long, energy long, zero_crossings int",
    ),
    "encode_png_frames": (M.encode_png_frames, _BINARY, _BINARY),
    "png_pixels": (
        M.png_pixels,
        _BINARY,
        "doc_id long, src_w int, src_h int, pixels binary",
    ),
    "bpe_encode": (
        lambda df: T.bpe_encode(df, []),
        "doc_id long, text string",
        "doc_id long, n_ws_tokens long, n_bpe_symbols long, encoded_md5 string",
    ),
    "html_extract": (
        T.html_extract,
        "doc_id long, html string",
        "doc_id long, n_blocks int, n_dropped int, extracted string",
    ),
    "dsir_scores": (
        lambda df: P.dsir_scores(df, df),
        "doc_id long, text string",
        "doc_id long, n_feats long, score_nanos long",
    ),
}


@pytest.mark.parametrize("name", sorted(EMPTY))
def test_empty_input_gives_zero_rows_with_declared_schema(spark, name):
    kernel, in_ddl, out_ddl = EMPTY[name]
    out = kernel(spark.createDataFrame([], in_ddl))
    assert out.collect() == []
    assert out.schema == DataType.fromDDL(out_ddl)


def test_m08_on_empty_documents_table(spark, tmp_path):
    spark.createDataFrame([], "doc_id long, text string").write.parquet(
        str(tmp_path / "documents.parquet")
    )
    out = M.m08_audio_framing(spark, str(tmp_path))
    assert out.collect() == []
    assert out.schema == DataType.fromDDL(
        "doc_id long, frame_idx int, off int, flen int, energy long, "
        "peak int, mean_crossings int"
    )


@pytest.mark.parametrize(
    "kernel",
    [
        lambda df: M.wav_frame_features(M.encode_wav_frames(df)),
        M.encode_bmp_frames,
        M.encode_png_frames,
    ],
    ids=["wav_frame_features", "encode_bmp_frames", "encode_png_frames"],
)
def test_input_where_every_row_yields_nothing(spark, kernel):
    # shorter than one WAV frame, one BMP row and one PNG scanline
    short = _payloads(spark, "long", [b"", b"abc", b"x" * (M.BMP_W - 1)])
    out = kernel(short)
    assert out.collect() == [] and dict(out.dtypes)["doc_id"] == "bigint"


# (module, enclosing function, method): the two wrappers and the three
# kernels that need whole groups
ARROW_CALLS = collections.Counter(
    [
        ("functions/kernels.py", "map_rows", "mapInArrow"),
        ("functions/kernels.py", "map_batches", "mapInArrow"),
        ("operators/dedup.py", "semdedup_prune_bucketed", "applyInArrow"),
        ("operators/similarity.py", "cosine_pair_gemm", "applyInArrow"),
        ("operators/similarity.py", "kmeans_bucket_assign_2level", "applyInArrow"),
    ]
)


def test_arrow_calls_only_in_map_rows_and_batch_kernels():
    """No kernel goes through pandas; a per-row or per-batch kernel goes
    through ``map_rows`` or ``map_batches``, and ``applyInArrow`` is
    called only where a kernel needs whole groups."""
    calls = package_calls(
        {"mapInPandas", "applyInPandas", "mapInArrow", "applyInArrow"}
    )
    assert calls == ARROW_CALLS

"""Multimodal-column operators: opaque ``binary`` payloads with typed
metadata, decode/feature-extraction via per-payload row kernels that
``functions.kernels.map_rows`` runs over Arrow batches.

Design (the 100 TB pattern): media lives in Parquet as
``binary`` + a metadata struct; all *decisions* (filtering, routing,
sampling) happen on metadata columns JVM-side; the expensive decode
runs once, late, inside an Arrow-batched Python stage whose output is
again a typed column. The image/audio codecs are NOT in this
container, so the decode kernel is stubbed behind an import-try with a
deterministic byte-level fake — the Spark-side plumbing (schema,
batching, partitioning, UDF signature) is real and tested.

Each kernel is a pure module-level function of one payload (plus its
metadata columns) returning its output rows; the Arrow batch protocol
lives once, in ``map_rows``. M01 exercises binary construction +
metadata extraction with pure built-ins; M02 exercises the Arrow
decode path end-to-end with a deterministic kernel that DuckDB can mirror (so even the Python stage
gets a differential oracle); M03/M04 are the honest stubs (byte
slicing in codec position, differentially checked); M09 (8bpp BMP)
and M10 (RIFF/WAV PCM) are REAL container decoders — pure-bytes
formats need no codec library — registered as catalog ids whose
oracles recompute the expected output straight from the source text,
gating the full encode∘decode∘feature roundtrip.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.kernels import map_rows
from ..registry import query
from ..sources.parquet import table


# ---------------------------------------------------------------------------
# M01 — binary payload construction + metadata (pure built-ins).
# The fixture has no true media column; text bytes stand in for an
# opaque payload, exactly how the reference's CLOB→LONG handling
# treats large values as inline bytes (dump_table.py:49-53).
# ---------------------------------------------------------------------------

M01_ORACLE = """
SELECT doc_id,
       octet_length(CAST(text AS BLOB)) AS n_bytes,
       sha256(text) AS payload_sha256
FROM documents
"""


@query("m01_binary_metadata", oracle=M01_ORACLE)
def m01_binary_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "utf-8")
    return docs.select(
        "doc_id",
        F.length(payload).alias("n_bytes"),
        F.sha2(payload, 256).alias("payload_sha256"),
    )


# ---------------------------------------------------------------------------
# M02 — decode / feature-extract via a row kernel (Arrow batches).
# The "decode" kernel is a deterministic byte-level feature extractor
# (payload length, first/last byte, checksum of a 16-byte prefix) so
# the full Python path — Arrow serialization, ``map_rows``' batch
# iteration, typed output schema — is differentially tested against a
# SQL oracle.
# A real image decoder drops into `_payload_features` unchanged.
# ---------------------------------------------------------------------------

M02_ORACLE = """
SELECT doc_id,
       CAST(length(text) AS DOUBLE) AS f_len,
       CAST(ascii(substr(text, 1, 1)) AS DOUBLE) AS f_first,
       CAST(ascii(substr(text, length(text), 1)) AS DOUBLE) AS f_last,
       CAST(list_sum(list_transform(range(1, 17),
                                    i -> ascii(substr(text, CAST(i AS INTEGER), 1)))) % 256 AS DOUBLE) AS f_sum16
FROM documents
"""


def decode_features(df: DataFrame) -> DataFrame:
    """``(doc_id, payload binary)`` → typed feature columns, Arrow-batched.

    The package is pickled by value, so Python workers need neither
    this package on their path nor an addPyFile step. Swap
    ``_payload_features`` for a real codec
    (``PIL.Image.open(io.BytesIO(b))`` …) when available.
    """
    return map_rows(
        df.select("doc_id", "payload"),
        _payload_features,
        "f_len double, f_first double, f_last double, f_sum16 double",
    )


def _payload_features(b: bytes) -> list[tuple]:
    # empty payloads → 0.0, matching DuckDB's ascii('') = 0 so the
    # differential oracle agrees on degenerate documents
    return [
        (
            float(len(b)),
            float(b[0]) if b else 0.0,
            float(b[-1]) if b else 0.0,
            float(sum(b[:16]) % 256),
        )
    ]


@query("m02_decode_features", oracle=M02_ORACLE)
def m02_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    )
    return decode_features(docs)


# ---------------------------------------------------------------------------
# M03 — frame sampling over fake "video" payloads (honest stub for
# the CODEC, differentially checked for everything else).
# Chunks the payload into fixed-size frames and emits every k-th one —
# the plumbing (explode to frame rows, per-frame metadata, bounded
# memory per batch) is the real shape of video pipelines. There is no
# container demuxer (no video codec is available), so the demux is a
# deterministic fake: byte slicing the oracle reproduces with substr
# on the ASCII fixture, so the whole Arrow path (binary in, binary
# frames out, typed metadata) gets a full differential oracle: the
# registered query projects the frame bytes to LOSSLESS hex (the m01
# convention — no oracle-backed query emits raw binary, keeping the
# driver's value hash on strings);
# ``frame_sample`` keeps the binary API for real consumers.
# ---------------------------------------------------------------------------

FRAME_BYTES = 64
FRAME_STRIDE = 2


def _fake_demux(payload: bytes) -> list[bytes]:
    """Chunk ``payload`` into ``FRAME_BYTES``-sized frames (the last
    may be short): the deterministic stand-in for a container demuxer
    that the M03 kernel runs per payload."""
    return [
        payload[i : i + FRAME_BYTES]
        for i in range(0, len(payload), FRAME_BYTES)
    ]


M03_ORACLE = f"""
WITH f AS (
  SELECT doc_id, CAST(i AS INT) AS frame_idx,
         encode(substr(text, CAST(i * {FRAME_BYTES} + 1 AS INT),
                       {FRAME_BYTES})) AS frame
  FROM documents
  -- frame-index range derived from the corpus itself (advisor r9:
  -- a fixed literal cap silently drops frames past it on longer
  -- documents, producing a differential failure that looks like an
  -- operator bug)
  CROSS JOIN (SELECT unnest(range(0, (
    SELECT CAST(coalesce(greatest(0,
      floor((max(length(text)) - 1) / {FRAME_BYTES}) + 1), 0) AS BIGINT)
    FROM documents))) AS i)
  WHERE i * {FRAME_BYTES} < length(text) AND i % {FRAME_STRIDE} = 0
)
SELECT doc_id, frame_idx,
       CAST(octet_length(frame) AS INT) AS frame_bytes,
       hex(frame) AS frame_hex
FROM f
"""


def frame_sample(payloads: DataFrame) -> DataFrame:
    """``(doc_id, payload binary)`` → every ``FRAME_STRIDE``-th
    ``FRAME_BYTES``-sized frame as ``(doc_id, frame_idx, frame_bytes,
    frame binary)`` — the binary API real consumers use."""
    return map_rows(
        payloads.select("doc_id", "payload"),
        _sampled_frames,
        "frame_idx int, frame_bytes int, frame binary",
    )


def _sampled_frames(payload: bytes) -> list[tuple]:
    frames = _fake_demux(bytes(payload))
    return [
        (idx, len(frames[idx]), frames[idx])
        for idx in range(0, len(frames), FRAME_STRIDE)
    ]


@query("m03_frame_sample", oracle=M03_ORACLE)
def m03_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    )
    return frame_sample(docs).select(
        "doc_id",
        "frame_idx",
        "frame_bytes",
        F.hex(F.col("frame")).alias("frame_hex"),
    )


# ---------------------------------------------------------------------------
# M04 — image resize over RAW (container-less) frames: the
# metadata-carrying variant of the resample. The CODEC-complete
# variant is m09, which runs the real BMP decoder in the kernel
# — m04 keeps the raw-frame API (`resize_frames`) for payloads that
# are already decoded planes. Payloads carry (width, height)
# metadata; the "image" is a deterministic fake (row-major bytes).
# Resize = nearest-neighbor index sampling — a real decoder+resampler
# (PIL/cv2) drops into the kernel unchanged; the Spark-side shape
# (metadata-driven target size JVM-side, binary in / binary out
# through Arrow, output dims as typed columns) is the production
# pattern. The nearest-neighbor index arithmetic is pure integer
# sampling the oracle reproduces with substr on the ASCII fixture, so
# the full Arrow path gets a differential oracle (frame bytes as
# lossless hex, the m01/m03 convention); ``resize_frames`` keeps the
# binary API.
# ---------------------------------------------------------------------------

TARGET_W, TARGET_H = 8, 4

# y = k // out_w, x = k % out_w; src index = (y*src_h//out_h)*src_w
# + (x*src_w//out_w) — the kernel's exact arithmetic, 1-based substr.
M04_ORACLE = f"""
SELECT doc_id,
       CAST(32 AS INT) AS src_w,
       CAST(length(text) // 32 AS INT) AS src_h,
       CAST({TARGET_W} AS INT) AS out_w,
       CAST({TARGET_H} AS INT) AS out_h,
       hex(encode(list_aggregate(
         list_transform(range(0, {TARGET_W * TARGET_H}), k ->
           substr(text,
                  CAST(((k // {TARGET_W}) * (length(text) // 32)
                         // {TARGET_H}) * 32
                       + ((k % {TARGET_W}) * 32 // {TARGET_W}) + 1 AS INT),
                  1)),
         'string_agg', ''))) AS resized_hex
FROM documents
WHERE length(text) // 32 >= 1
"""


RESIZED_SCHEMA = "src_w int, src_h int, out_w int, out_h int, resized binary"


def _resized(sw: int, sh: int, px: bytes) -> tuple:
    """Nearest-neighbor resample of a row-major ``sw×sh`` plane to
    ``TARGET_W×TARGET_H``, as one ``RESIZED_SCHEMA`` row."""
    tw, th = TARGET_W, TARGET_H
    out = bytes(
        px[(y * sh // th) * sw + (x * sw // tw)]
        for y in range(th)
        for x in range(tw)
    )
    return sw, sh, tw, th, out


def resize_frames(frames: DataFrame) -> DataFrame:
    """``(doc_id, payload, src_w, src_h)`` → nearest-neighbor-resized
    ``TARGET_W×TARGET_H`` frames with typed dims — binary API."""
    return map_rows(
        frames.select("doc_id", "payload", "src_w", "src_h"),
        lambda payload, sw, sh: [
            _resized(sw, sh, bytes(payload)[: sw * sh])  # the "decoded" frame
        ],
        RESIZED_SCHEMA,
    )


@query("m04_resize", oracle=M04_ORACLE)
def m04_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    )
    # Metadata computed JVM-side: fake frames are W×H with W=32,
    # H=len/32 (truncated) — routing/filtering on dims never touches
    # Python. Skip payloads too small to form one row.
    docs = (
        docs.withColumn("src_w", F.lit(32))
        .withColumn("src_h", F.floor(F.length("payload") / 32).cast("int"))
        .filter(F.col("src_h") >= 1)
    )
    return resize_frames(docs).select(
        "doc_id",
        "src_w",
        "src_h",
        "out_w",
        "out_h",
        F.hex(F.col("resized")).alias("resized_hex"),
    )


def decode_bmp_gray(b: bytes) -> tuple[int, int, bytes]:
    """REAL container decode: uncompressed 8-bit-per-pixel BMP
    (BITMAPINFOHEADER, BI_RGB) → (width, height, row-major top-down
    grayscale bytes). Parses the actual format — magic, pixel-array
    offset, signed height (bottom-up vs top-down), 4-byte row
    stride — so the m04 plumbing is exercised against a true decoder,
    not only the raw-bytes fake. Pure bytes: no
    image library exists in this container, and none is needed for
    BI_RGB. A PIL/cv2 decode drops in unchanged for compressed
    formats. The ``resize_bmp`` kernel calls it per payload.
    """
    if b[:2] != b"BM":
        raise ValueError("not a BMP payload (missing BM magic)")
    if len(b) < 54:  # 14-byte file header + full BITMAPINFOHEADER
        raise ValueError("truncated BMP header")
    data_off = struct.unpack_from("<I", b, 10)[0]
    hdr_size, w, h = struct.unpack_from("<Iii", b, 14)
    planes, bpp = struct.unpack_from("<HH", b, 26)
    compression = struct.unpack_from("<I", b, 30)[0]
    clr_used = struct.unpack_from("<I", b, 46)[0]
    if (
        hdr_size < 40
        or planes != 1
        or bpp != 8
        or compression != 0
        or clr_used > 256
        or w <= 0  # zero/negative width or zero height would decode
        or h == 0  # to an empty buffer and crash the resampler later
    ):
        raise ValueError(
            f"unsupported BMP variant (hdr={hdr_size} planes={planes} "
            f"bpp={bpp} compression={compression} w={w} h={h})"
        )
    # 8bpp pixel bytes are PALETTE INDICES, not luminance: decoding
    # them as grayscale is only valid when the palette is the
    # identity ramp (entry i = BGR (i,i,i)). Validate instead of
    # silently mis-decoding a colormapped image.
    n_colors = clr_used or 256
    pal = b[14 + hdr_size : 14 + hdr_size + 4 * n_colors]
    if len(pal) < 4 * n_colors:
        raise ValueError("truncated BMP palette")
    ramp = bytes(range(n_colors))
    if not (pal[0::4] == ramp and pal[1::4] == ramp and pal[2::4] == ramp):
        raise ValueError(
            "non-grayscale BMP palette (8bpp pixels are palette "
            "indices; a colormapped image cannot be decoded as "
            "luminance)"
        )
    top_down = h < 0
    h_abs = abs(h)
    stride = (w + 3) & ~3  # rows pad to 4-byte boundaries
    rows = []
    for y in range(h_abs):
        src_y = y if top_down else h_abs - 1 - y
        off = data_off + src_y * stride
        row = b[off : off + w]
        if len(row) != w:
            raise ValueError("truncated BMP pixel array")
        rows.append(row)
    data = b"".join(rows)
    # pixels are palette INDICES: with a short palette (clr_used <
    # 256) an index >= clr_used points past the table — decoding it
    # as luminance would be out-of-palette garbage
    if n_colors < 256 and data and max(data) >= n_colors:
        raise ValueError(
            f"BMP pixel index >= clr_used={n_colors} "
            "(out-of-palette reference)"
        )
    return w, h_abs, data


def resize_bmp(payloads: DataFrame) -> DataFrame:
    """``(doc_id, payload: binary BMP)`` → decoded + nearest-neighbor
    resized ``TARGET_W×TARGET_H`` frames with typed dims. The m04
    plan shape (binary in/out through Arrow, dims as typed columns)
    with a REAL decode in the kernel: header parse, stride strip,
    bottom-up row flip."""
    return map_rows(
        payloads.select("doc_id", "payload"),
        lambda payload: [_resized(*decode_bmp_gray(bytes(payload)))],
        RESIZED_SCHEMA,
    )


# ---------------------------------------------------------------------------
# M09 — the REAL container decode as a first-class catalog id (the
# registered m04 runs only the stub arithmetic). End-to-end: build genuine 8bpp
# BI_RGB BMP payloads from the fixture text in one Arrow stage (an
# in-plan fixture ENCODER — bottom-up row order, 4-byte stride
# padding, identity grayscale palette: every decoder obligation is
# physically present in the bytes), then run the production
# `resize_bmp` kernel (header parse → palette validation → stride
# strip → row flip → nearest-neighbor resample) in a second stage.
# The oracle recomputes the expected OUTPUT directly from the text
# via the m04 substr arithmetic — it never sees the container — so
# the driver's value hash gates the whole encode∘decode∘resample
# roundtrip: mishandle the stride, forget the bottom-up flip, or
# misread the palette and the pixels land in the wrong cells.
#
# Scale shape: identical to m04 (binary in/out through Arrow, dims
# as typed columns, decisions JVM-side); in production the BMP bytes
# come from storage and the encoder stage simply isn't there.
# ---------------------------------------------------------------------------

BMP_W = 13  # odd on purpose: stride pads 13 → 16, so padding is live

M09_ORACLE = f"""
SELECT doc_id,
       CAST({BMP_W} AS INT) AS src_w,
       CAST(length(text) // {BMP_W} AS INT) AS src_h,
       CAST({TARGET_W} AS INT) AS out_w,
       CAST({TARGET_H} AS INT) AS out_h,
       hex(encode(list_aggregate(
         list_transform(range(0, {TARGET_W * TARGET_H}), k ->
           substr(text,
                  CAST(((k // {TARGET_W}) * (length(text) // {BMP_W})
                         // {TARGET_H}) * {BMP_W}
                       + ((k % {TARGET_W}) * {BMP_W} // {TARGET_W})
                       + 1 AS INT),
                  1)),
         'string_agg', ''))) AS resized_hex
FROM documents
WHERE length(text) // {BMP_W} >= 1
"""


def encode_bmp_frames(docs: DataFrame) -> DataFrame:
    """``(doc_id, payload: raw bytes)`` → ``(doc_id, payload: real
    8bpp BI_RGB BMP)``, width ``BMP_W`` × height ``len//BMP_W``
    (payloads shorter than one row are dropped, mirroring the m04
    convention). Fixture-encoder role: rows are written BOTTOM-UP
    with stride padding and a 256-entry identity palette, so the
    downstream decoder must do real work to get the pixels back."""
    return map_rows(docs.select("doc_id", "payload"), _bmp_file, "payload binary")


_BMP_PALETTE = b"".join(bytes((i, i, i, 0)) for i in range(256))


def _bmp_file(payload: bytes) -> list[tuple]:
    b = bytes(payload)
    w = BMP_W
    h = len(b) // w
    if h < 1:
        return []
    data_off = 14 + 40 + len(_BMP_PALETTE)
    stride = (w + 3) & ~3
    px = b"".join(
        b[y * w : (y + 1) * w] + b"\x00" * (stride - w)
        for y in range(h - 1, -1, -1)  # bottom-up file order
    )
    hdr = (
        b"BM"
        + struct.pack("<IHHI", data_off + len(px), 0, 0, data_off)
        + struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, 8, 0, len(px), 2835, 2835, 256, 0
        )
    )
    return [(hdr + _BMP_PALETTE + px,)]


@query("m09_bmp_decode_resize", oracle=M09_ORACLE)
def m09_bmp_decode_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    )
    # metadata-driven routing stays JVM-side (the m04 doctrine): drop
    # sub-row payloads before any Python stage runs
    docs = docs.filter(F.length("payload") >= BMP_W)
    return resize_bmp(encode_bmp_frames(docs)).select(
        "doc_id",
        "src_w",
        "src_h",
        "out_w",
        "out_h",
        F.hex(F.col("resized")).alias("resized_hex"),
    )


# ---------------------------------------------------------------------------
# M05 — image near-dup via perceptual hash (aHash) + Hamming banding.
# The training-data image-dedup pipeline end to end: decode →
# 8×8-downsample → 64-bit average-hash in ONE Arrow pass (a NumPy
# row kernel per payload), then everything after the hash is
# JVM-side: the 64-bit fingerprint splits into 4×16-bit bands
# (pigeonhole ⇒ complete for Hamming ≤ 3, same guarantee as d05's
# SimHash chunks), band-bucket self-join proposes candidates, and
# `bit_count(xor)` verifies. Decode is the deterministic fake all
# m0* share (payload bytes reshaped row-major); a real
# `PIL.Image.open(...).convert("L").resize((8,8))` drops into the
# kernel unchanged.
#
# Scale: the only Python stage is linear and batch-local; candidates
# are bounded per band bucket (never corpus-quadratic); the verify is
# a 2-long-column comparison. Only (doc_id, 8 bytes) shuffle.
#
# Full differential oracle (the d05 recipe): the aHash threshold
# is INTEGER-exact — bit j set iff chunk_sum[j]·64 > Σ chunk_sums,
# algebraically identical to px[j] > mean(px) (all 64 chunks share
# one stride) but with no float roundoff, so DuckDB recomputes the
# very same 64-bit hash from the text bytes in SQL (ord(substr) ==
# byte value — the fixture is pure ASCII, asserted in unit tests)
# and the oracle is the UNBANDED all-pairs Hamming ≤ 3 join, which
# pigeonhole-equals the banded plan (4×16-bit bands ⇒ any pair
# within Hamming 3 shares ≥1 exact band).
# ---------------------------------------------------------------------------

PHASH_BANDS = 4
PHASH_BAND_BITS = 16
PHASH_MAX_HAMMING = 3


def ahash_64(df: DataFrame) -> DataFrame:
    """``(doc_id, payload binary)`` → ``(doc_id, phash long)``: fake-
    decode to an 8×8 grayscale and emit the 64-bit average-hash
    (bit i = pixel i > mean), stored as a SIGNED long (uint64 view)
    so ANSI mode never sees an overflow."""
    return map_rows(df.select("doc_id", "payload"), _ahash, "phash long")


def _ahash(payload: bytes) -> list[tuple]:
    b = np.frombuffer(bytes(payload), dtype=np.uint8)
    if b.size < 64:  # too small to form an 8×8 "image"
        b = np.pad(b, (0, 64 - b.size))
    # fake decode: truncate to a multiple of 64 and average each of
    # the 64 equal strides — deterministic and the same
    # downsample-to-8×8 shape a real decoder produces. Threshold in
    # INTEGER space: with one shared stride, px[j] > mean(px) ⟺
    # cs[j]·64 > Σcs — exact (no float mean), so the SQL oracle
    # reproduces every bit from the byte values.
    n = (b.size // 64) * 64
    cs = b[:n].reshape(64, -1).astype(np.int64).sum(axis=1)
    bits = (cs * 64 > cs.sum()).astype(np.uint64)
    h = np.uint64(0)
    for i in range(64):
        h |= bits[i] << np.uint64(i)
    return [(int(h.astype(np.int64)),)]  # signed view


# DuckDB recomputes the kernel's aHash bit-for-bit: ord(substr) is
# the byte value on the ASCII fixture; stride/pad logic mirrors the
# kernel; bit 63 lands on the sign bit, added as the signed value
# -2^63 so the BIGINT phash equals the kernel's int64 view. The pair
# join is UNBANDED all-pairs — pigeonhole-equal to the banded plan.
M05_ORACLE = f"""
WITH b AS (
  SELECT doc_id, text, length(text) AS n,
         CASE WHEN length(text) >= 64 THEN length(text) // 64
              ELSE 1 END AS stride
  FROM documents
), cs AS (
  SELECT doc_id,
         list_transform(range(0, 64), j ->
           CASE
             WHEN n >= 64 THEN
               list_sum(list_transform(
                 range(j * stride + 1, (j + 1) * stride + 1),
                 i -> ord(substr(text, CAST(i AS INT), 1))))
             WHEN j < n THEN ord(substr(text, CAST(j + 1 AS INT), 1))
             ELSE 0
           END) AS cs
  FROM b
), ph AS (
  SELECT doc_id,
         CAST(list_sum(list_transform(range(0, 63), i ->
                CASE WHEN cs[CAST(i + 1 AS INT)] * 64 > list_sum(cs)
                     THEN (CAST(1 AS BIGINT) << CAST(i AS INT))
                     ELSE 0 END)) AS BIGINT)
         + CASE WHEN cs[64] * 64 > list_sum(cs)
                THEN CAST(-9223372036854775807 - 1 AS BIGINT)
                ELSE 0 END AS phash
  FROM cs
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
FROM ph a JOIN ph b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.phash, b.phash)) <= {PHASH_MAX_HAMMING}
"""


@query("m05_image_phash_neardup", oracle=M05_ORACLE)
def m05_image_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    )
    hashed = ahash_64(docs)
    mask = (1 << PHASH_BAND_BITS) - 1
    band_structs = [
        F.struct(
            F.lit(i).alias("band"),
            F.shiftrightunsigned(F.col("phash"), i * PHASH_BAND_BITS)
            .bitwiseAND(mask)
            .alias("bkey"),
        )
        for i in range(PHASH_BANDS)
    ]
    banded = hashed.select(
        "doc_id", "phash", F.explode(F.array(*band_structs)).alias("bb")
    ).select(
        "doc_id",
        "phash",
        F.col("bb.band").alias("band"),
        F.col("bb.bkey").alias("bkey"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    hamming = F.bit_count(F.col("a.phash").bitwiseXOR(F.col("b.phash")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= PHASH_MAX_HAMMING)
    )


# ---------------------------------------------------------------------------
# M06 — cross-modal contrastive pair construction: each document
# paired with its own embedding (positive) plus K deterministic
# hash-sampled negatives — the training-example builder for
# CLIP-style contrastive objectives, where negative sampling must be
# REPRODUCIBLE across engines/runs/partitionings (same argument as
# t06's hash sampler: a random() sampler cannot be re-audited).
#
# Negative ids come from a Knuth-multiplicative hash of
# (doc_id, k) folded into the corpus id space, bumped by one on
# self-collision. The fixture's vec_id space is dense (0..n-1,
# FIXTURES.md), so the computed id always exists; a sparse id space
# would add a repair join against the id directory.
#
# Scale shape: one explode (K+1 rows per doc, map-side) and ONE
# shuffle join against the embeddings table on the computed pair id
# — uniform keys by construction (multiplicative hashing), so no
# skew; the per-pair cosine against the anchor embedding is JVM
# column math. At 100 TB this is exactly the shape of large-batch
# pair generation: linear fan-out, hash-partitioned joins, zero
# driver involvement.
#
# Determinism: integer hash arithmetic (exact in both engines — kept
# in BIGINT range: max factor 2^31 × id < 2^63) and round-6 cosine.
# ---------------------------------------------------------------------------

M06_NEGATIVES = 3
_KNUTH = 2654435761  # 2^32 * golden-ratio conjugate, the classic mix


M06_ORACLE = f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
), n AS (
  SELECT count(*) AS n_vecs FROM v
), anchors AS (
  SELECT d.doc_id, v.emb AS anchor_emb
  FROM documents d JOIN v ON d.doc_id = v.vec_id
), pairs AS (
  SELECT a.doc_id, 0 AS k, a.doc_id AS pair_id, TRUE AS is_positive,
         a.anchor_emb
  FROM anchors a
  UNION ALL
  SELECT a.doc_id, ks.k,
         CASE WHEN (a.doc_id * {_KNUTH} + ks.k * 40503) % n.n_vecs = a.doc_id
              THEN ((a.doc_id * {_KNUTH} + ks.k * 40503) % n.n_vecs + 1)
                   % n.n_vecs
              ELSE (a.doc_id * {_KNUTH} + ks.k * 40503) % n.n_vecs
         END AS pair_id,
         FALSE AS is_positive,
         a.anchor_emb
  FROM anchors a
  CROSS JOIN n
  CROSS JOIN (SELECT unnest(range(1, {M06_NEGATIVES + 1})) AS k) ks
)
SELECT p.doc_id, p.k, p.pair_id, p.is_positive,
       round(list_dot_product(p.anchor_emb, v.emb)
             / (sqrt(list_dot_product(p.anchor_emb, p.anchor_emb))
                * sqrt(list_dot_product(v.emb, v.emb))), 6) AS cos_sim
FROM pairs p JOIN v ON p.pair_id = v.vec_id
"""


@query("m06_contrastive_pairs", oracle=M06_ORACLE)
def m06_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vectors import cosine_d
    from .similarity import embeddings

    v = embeddings(spark, sf_dir)
    docs = table(spark, sf_dir, "documents").select("doc_id")
    anchors = docs.join(
        v.select(
            F.col("vec_id").alias("doc_id"), F.col("emb").alias("anchor_emb")
        ),
        "doc_id",
    )
    n_vecs = v.agg(F.count(F.lit(1)).alias("n_vecs"))
    ks = F.sequence(F.lit(1), F.lit(M06_NEGATIVES))
    raw_neg = (F.col("doc_id") * F.lit(_KNUTH) + F.col("k") * F.lit(40503)) % F.col(
        "n_vecs"
    )
    neg_id = F.when(
        raw_neg == F.col("doc_id"), (raw_neg + 1) % F.col("n_vecs")
    ).otherwise(raw_neg)
    negatives = (
        anchors.crossJoin(F.broadcast(n_vecs))
        .select("doc_id", "anchor_emb", F.explode(ks).alias("k"), "n_vecs")
        .select(
            "doc_id",
            F.col("k").cast("long").alias("k"),
            neg_id.alias("pair_id"),
            F.lit(False).alias("is_positive"),
            "anchor_emb",
        )
    )
    positives = anchors.select(
        "doc_id",
        F.lit(0).cast("long").alias("k"),
        F.col("doc_id").alias("pair_id"),
        F.lit(True).alias("is_positive"),
        "anchor_emb",
    )
    pairs = positives.unionByName(negatives)
    return pairs.join(v, pairs.pair_id == v.vec_id).select(
        "doc_id",
        "k",
        "pair_id",
        "is_positive",
        F.round(cosine_d(F.col("anchor_emb"), F.col("emb")), 6).alias("cos_sim"),
    )


# ---------------------------------------------------------------------------
# M07 — deterministic augmentation plan: per (sample, epoch), derive
# the augmentation parameters (horizontal flip, crop offsets,
# brightness bucket) as pure hash arithmetic over (doc_id, epoch) —
# the reproducible-training requirement: any worker, any restart, any
# engine derives the IDENTICAL augmentation schedule without storing
# it, and an epoch replays exactly. Parameters come from disjoint hex
# slices of md5(doc_id || ':' || epoch) (the t17 recipe: string/hex
# arithmetic both engines evaluate byte-identically), crop ranges
# from m01's payload size. The fan-out is explode(sequence) —
# codegen, one row per (sample, epoch), no shuffle at all until a
# consumer aggregates.
#
# Scale: map-side only; the plan is O(samples × epochs) rows of a few
# ints — at 100 TB you generate it lazily inside the training reader
# rather than materializing, same expression tree.
# ---------------------------------------------------------------------------

M07_EPOCHS = 3

M07_ORACLE = f"""
WITH base AS (
  SELECT doc_id,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         unnest(range(0, {M07_EPOCHS})) AS epoch
  FROM documents
),
h AS (
  SELECT doc_id, epoch, n_bytes,
         md5(CAST(doc_id AS VARCHAR) || ':' || CAST(epoch AS VARCHAR)) AS hx
  FROM base
)
SELECT doc_id, CAST(epoch AS BIGINT) AS epoch,
       substr(hx, 1, 1) <= '7' AS flip,
       CAST(('0x' || substr(hx, 2, 4))::BIGINT % greatest(n_bytes // 4, 1)
            AS BIGINT) AS crop_x,
       CAST(('0x' || substr(hx, 6, 4))::BIGINT % greatest(n_bytes // 4, 1)
            AS BIGINT) AS crop_y,
       CAST(('0x' || substr(hx, 10, 2))::BIGINT % 5 AS BIGINT)
         AS brightness_bucket
FROM h
"""


@query("m07_augmentation_plan", oracle=M07_ORACLE)
def m07_augmentation_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        F.length(F.encode("text", "utf-8")).cast("long").alias("n_bytes"),
        F.explode(
            F.sequence(F.lit(0), F.lit(M07_EPOCHS - 1))
        ).alias("epoch"),
    )
    hx = F.md5(
        F.concat(
            F.col("doc_id").cast("string"),
            F.lit(":"),
            F.col("epoch").cast("string"),
        )
    )
    crop_range = F.greatest(
        F.floor(F.col("n_bytes") / 4).cast("long"), F.lit(1)
    )
    def hex_slice(start: int, n: int):
        return F.conv(F.substring(hx, start, n), 16, 10).cast("long")

    return base.select(
        "doc_id",
        F.col("epoch").cast("long").alias("epoch"),
        (F.substring(hx, 1, 1) <= "7").alias("flip"),
        (hex_slice(2, 4) % crop_range).alias("crop_x"),
        (hex_slice(6, 4) % crop_range).alias("crop_y"),
        (hex_slice(10, 2) % 5).alias("brightness_bucket"),
    )


# ---------------------------------------------------------------------------
# M08 — audio-style framing + per-frame features: OVERLAPPING
# fixed-length windows (frame 256, hop 128 — the 50%-overlap STFT
# layout every audio front-end uses) over an opaque payload, with
# per-frame integer features: energy (byte sum), peak (max byte),
# and mean-crossing count (sign changes of b[i]·L − Σb, the
# zero-crossing-rate shape in integer arithmetic — no float mean, so
# the oracle reproduces every value exactly; same trick as m05's
# aHash threshold). Complements m03 (disjoint frames): overlap means
# each byte lands in ~2 frames, the fan-out a real feature extractor
# pays.
#
# Scale shape: one Arrow pass (``map_rows``), NumPy-vectorized per
# frame, linear in payload bytes × overlap factor; output is typed
# integer columns (routing/filtering JVM-side). A real
# librosa/torchaudio front-end drops into ``_audio_frames`` unchanged
# — the framing indices are exactly what it needs.
# ---------------------------------------------------------------------------

M08_FRAME = 256
M08_HOP = 128

M08_ORACLE = f"""
WITH fr AS (
  SELECT doc_id, CAST(o AS INT) AS frame_idx,
         CAST(o * {M08_HOP} AS INT) AS off,
         substr(text, CAST(o * {M08_HOP} + 1 AS INT), {M08_FRAME}) AS chunk
  FROM documents
  -- derived bound, not a literal cap (see M03_ORACLE note)
  CROSS JOIN (SELECT unnest(range(0, (
    SELECT CAST(coalesce(greatest(0,
      floor((max(length(text)) - 1) / {M08_HOP}) + 1), 0) AS BIGINT)
    FROM documents))) AS o)
  WHERE o * {M08_HOP} < length(text)
), b AS (
  SELECT doc_id, frame_idx, off,
         CAST(length(chunk) AS INT) AS flen,
         list_transform(range(1, CAST(length(chunk) + 1 AS INT)),
                        i -> ord(substr(chunk, CAST(i AS INT), 1))) AS bs
  FROM fr
), e AS (
  SELECT doc_id, frame_idx, off, flen, bs,
         CAST(list_sum(bs) AS BIGINT) AS energy,
         CAST(list_max(bs) AS INT) AS peak
  FROM b
)
SELECT doc_id, frame_idx, off, flen, energy, peak,
       CAST(coalesce(list_sum(list_transform(range(1, flen), i ->
         CASE WHEN (bs[CAST(i AS INT)] * flen - energy)
                   * (bs[CAST(i + 1 AS INT)] * flen - energy) < 0
              THEN 1 ELSE 0 END)), 0) AS INT) AS mean_crossings
FROM e
"""


@query("m08_audio_framing", oracle=M08_ORACLE)
def m08_audio_framing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    )
    return map_rows(
        docs,
        _audio_frames,
        "frame_idx int, off int, flen int, energy long, peak int, "
        "mean_crossings int",
    )


def _audio_frames(payload: bytes) -> list[tuple]:
    b = np.frombuffer(bytes(payload), dtype=np.uint8).astype(np.int64)
    rows = []
    for idx, off in enumerate(range(0, b.size, M08_HOP)):
        c = b[off : off + M08_FRAME]
        energy = int(c.sum())
        d = c * c.size - energy
        rows.append(
            (
                idx,
                off,
                int(c.size),
                energy,
                int(c.max()),
                int(((d[:-1] * d[1:]) < 0).sum()),
            )
        )
    return rows


# ---------------------------------------------------------------------------
# M10 — the second REAL container decode: WAV/RIFF → 16-bit PCM
# samples → overlapping frame features, differentially gated end to
# end with the m09 recipe. One Arrow stage builds genuine WAV files
# from the fixture text (RIFF size header, `fmt ` chunk, an
# odd-sized junk LIST chunk WITH its RIFF pad byte between fmt and
# data — so the decoder must walk chunks by id+size+padding, not
# assume fixed offsets), a second stage runs the production decoder:
# chunk walk → PCM/mono/16-bit validation → little-endian signed
# sample recovery → 50%-overlap framing (the m08 layout, over
# SAMPLES instead of raw bytes) with integer features (peak |s|,
# Σ|s|, Σs², strict-sign zero crossings). The oracle recomputes
# every value straight from the text ((ascii−96)·256 per sample — a
# mapping chosen so ASCII text yields mixed-sign samples and the
# zero-crossing feature is live), so an endianness, signedness,
# chunk-offset, or pad-rule bug hash-fails.
#
# Scale shape: identical to m08 — one Arrow pass per stage,
# NumPy-vectorized framing (stride index matrix, no per-sample
# Python), typed integer output; in production the WAV bytes come
# from storage and the encoder stage isn't there.
# ---------------------------------------------------------------------------

WAV_FRAME = 64
WAV_HOP = 32

M10_ORACLE = f"""
WITH fr AS (
  SELECT doc_id, CAST(o AS INT) AS frame_idx, text
  FROM documents
  -- derived bound, not a literal cap (see M03_ORACLE note)
  CROSS JOIN (SELECT unnest(range(0, (
    SELECT CAST(coalesce(greatest(0,
      floor((max(length(text)) - {WAV_FRAME}) / {WAV_HOP}) + 1), 0)
      AS BIGINT)
    FROM documents))) AS o)
  WHERE o * {WAV_HOP} + {WAV_FRAME} <= length(text)
), s AS (
  SELECT doc_id, frame_idx,
         list_transform(range(1, {WAV_FRAME + 1}), j ->
           (ord(substr(text, CAST(frame_idx * {WAV_HOP} + j AS INT), 1))
            - 96) * 256) AS sm
  FROM fr
)
SELECT doc_id, frame_idx,
       CAST({WAV_FRAME} AS INT) AS n_samples,
       CAST(list_max(list_transform(sm, x -> abs(x))) AS INT) AS peak_abs,
       CAST(list_sum(list_transform(sm, x -> abs(x))) AS BIGINT) AS sum_abs,
       CAST(list_sum(list_transform(sm, x -> x * x)) AS BIGINT) AS energy,
       CAST(coalesce(list_sum(list_transform(range(1, {WAV_FRAME}), j ->
         CASE WHEN sm[CAST(j AS INT)] * sm[CAST(j + 1 AS INT)] < 0
              THEN 1 ELSE 0 END)), 0) AS INT) AS zero_crossings
FROM s
"""


def decode_wav_pcm16(b: bytes) -> list[int]:
    """REAL container decode: RIFF/WAVE, uncompressed mono 16-bit
    PCM → list of signed samples. Walks chunks by (id, size) with
    the RIFF odd-size pad rule — fixed offsets would break on any
    file with an extra chunk (the in-plan encoder plants one). The
    ``wav_frame_features`` kernel calls it per payload.
    """
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    fmt = data = None
    pos = 12
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        size = int.from_bytes(b[pos + 4 : pos + 8], "little")
        body = b[pos + 8 : pos + 8 + size]
        if len(body) != size:
            raise ValueError("truncated RIFF chunk")
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # odd chunks pad to even
    if fmt is None or data is None:
        raise ValueError("missing fmt /data chunk")
    if len(fmt) < 16:
        raise ValueError("truncated fmt chunk")
    audio_fmt, n_ch = struct.unpack_from("<HH", fmt, 0)
    bits = struct.unpack_from("<H", fmt, 14)[0]
    if audio_fmt != 1 or n_ch != 1 or bits != 16:
        raise ValueError(
            f"unsupported WAV variant (fmt={audio_fmt} ch={n_ch} "
            f"bits={bits})"
        )
    if len(data) % 2:
        raise ValueError("odd PCM data length")
    return list(struct.unpack(f"<{len(data) // 2}h", data))


def encode_wav_frames(docs: DataFrame) -> DataFrame:
    """``(doc_id, payload: raw bytes)`` → ``(doc_id, payload: real
    mono 16-bit PCM WAV)``; sample i = (byte_i − 96)·256 (mixed-sign
    over ASCII so sign-sensitive features are live). Fixture-encoder
    role: plants an odd-sized LIST chunk (plus its pad byte) between
    fmt and data so the decoder's chunk walk is exercised."""
    return map_rows(docs.select("doc_id", "payload"), _wav_file, "payload binary")


_WAV_FMT = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
_WAV_JUNK = b"junkdat"  # 7 bytes: odd size forces the pad rule


def _wav_file(payload: bytes) -> list[tuple]:
    raw = np.frombuffer(bytes(payload), dtype=np.uint8)
    pcm = ((raw.astype(np.int64) - 96) * 256).astype("<i2").tobytes()
    chunks = (
        b"fmt "
        + len(_WAV_FMT).to_bytes(4, "little")
        + _WAV_FMT
        + b"LIST"
        + len(_WAV_JUNK).to_bytes(4, "little")
        + _WAV_JUNK
        + b"\x00"  # RIFF pad byte for the odd chunk
        + b"data"
        + len(pcm).to_bytes(4, "little")
        + pcm
    )
    return [(b"RIFF" + (4 + len(chunks)).to_bytes(4, "little") + b"WAVE" + chunks,)]


def wav_frame_features(payloads: DataFrame) -> DataFrame:
    """``(doc_id, payload: binary WAV)`` → per-frame integer features
    over decoded samples (frame ``WAV_FRAME``, hop ``WAV_HOP``, full
    frames only). The production kernel: real RIFF walk + PCM decode
    (``decode_wav_pcm16``), NumPy stride-index framing."""
    return map_rows(
        payloads.select("doc_id", "payload"),
        _wav_frames,
        "frame_idx int, n_samples int, peak_abs int, sum_abs long, "
        "energy long, zero_crossings int",
    )


def _wav_frames(payload: bytes) -> list[tuple]:
    n, hop = WAV_FRAME, WAV_HOP
    s = np.asarray(decode_wav_pcm16(bytes(payload)), dtype=np.int64)
    if s.size < n:
        return []
    n_frames = (s.size - n) // hop + 1
    fr = s[np.arange(n)[None, :] + hop * np.arange(n_frames)[:, None]]
    a = np.abs(fr)
    zc = ((fr[:, :-1] * fr[:, 1:]) < 0).sum(axis=1)
    return [
        (
            i,
            n,
            int(a[i].max()),
            int(a[i].sum()),
            int((fr[i] * fr[i]).sum()),
            int(zc[i]),
        )
        for i in range(n_frames)
    ]


@query("m10_wav_decode_features", oracle=M10_ORACLE)
def m10_wav_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    )
    # JVM-side routing (the m04/m09 doctrine): payloads that cannot
    # fill one frame never reach a Python stage
    docs = docs.filter(F.length("payload") >= WAV_FRAME)
    return wav_frame_features(encode_wav_frames(docs))


# ---------------------------------------------------------------------------
# M11 — REAL compressed-container decode: PNG (8-bit grayscale) via
# stdlib zlib. m09/m10 proved the recipe on pure-bytes containers
# (BMP stride/flip, RIFF chunk walk); PNG adds the two obligations
# those formats lack: an entropy-coded payload (DEFLATE inflate) and
# per-scanline predictive filters (None/Sub/Up/Average/Paeth) that
# must be UNDONE byte-exactly. One Arrow stage builds genuine PNGs
# from the fixture text — chunk framing with CRC-32s, an ancillary
# tEXt chunk between IHDR and the image data (the walk must skip by
# length+CRC, not assume adjacency), the DEFLATE stream split across
# TWO IDAT chunks (the spec allows arbitrary splits; the decoder must
# concatenate before inflating), and scanline y filtered with type
# y % 5 so every filter in the spec — including the Paeth predictor —
# is live in the bytes. The second stage runs the production decoder:
# signature → chunk walk with CRC-32 verification → IHDR validation →
# IDAT reassembly → inflate (with exact-length check) → defilter.
#
# Oracle: the identity roundtrip. Decoded pixels ARE the source text
# bytes (the encoder's pixel array is the text, row-major), so DuckDB
# emits hex(text[:h*w]) and the driver hash compares EVERY output
# byte — the sharpest possible gate: a wrong Paeth tie-break, a
# missed filter byte, a CRC read as big- vs little-endian, or an IDAT
# ordering bug each corrupt at least one scanline and hash-fail.
# (m09's resample oracle tolerates bugs in pixels the resample never
# touches; the identity oracle tolerates none.)
#
# Scale shape: same as m09/m10 — binary in/out through one Arrow
# pass per stage, dims as typed columns, routing decisions
# JVM-side; in production the PNG bytes come from storage and the
# encoder stage isn't there. zlib is C-speed per image; the defilter
# is a per-byte Python loop, honestly bounded: cost is O(w·h) per
# image inside the already-Python Arrow stage, and scanline width —
# not corpus size — bounds the serial inner loop.
# ---------------------------------------------------------------------------

PNG_W = 19  # no stride/padding concerns in PNG; odd width on purpose
_PNG_SIG = b"\x89PNG\r\n\x1a\n"

M11_ORACLE = f"""
SELECT doc_id,
       CAST({PNG_W} AS INT) AS src_w,
       CAST(length(text) // {PNG_W} AS INT) AS src_h,
       hex(encode(substr(
         text, 1, (length(text) // {PNG_W}) * {PNG_W}))) AS px_hex
FROM documents
WHERE length(text) >= {PNG_W}
"""


def _png_defilter(raw: bytes, w: int, h: int) -> bytes:
    """Undo PNG scanline filtering (bpp=1, 8-bit grayscale): ``raw``
    is ``h`` scanlines of ``1 + w`` bytes (filter type + filtered
    data). Implements all five spec filters with the exact Paeth
    tie-break order (left, then up, then upper-left)."""
    if len(raw) != h * (w + 1):
        raise ValueError("decompressed length != h*(w+1)")
    out = bytearray(w * h)
    prior = bytes(w)  # row above row 0 is all zeros, per spec
    for y in range(h):
        off = y * (w + 1)
        ft = raw[off]
        line = bytearray(raw[off + 1 : off + 1 + w])
        if ft == 0:  # None
            pass
        elif ft == 1:  # Sub
            for x in range(1, w):
                line[x] = (line[x] + line[x - 1]) & 0xFF
        elif ft == 2:  # Up
            for x in range(w):
                line[x] = (line[x] + prior[x]) & 0xFF
        elif ft == 3:  # Average
            for x in range(w):
                left = line[x - 1] if x else 0
                line[x] = (line[x] + ((left + prior[x]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for x in range(w):
                a = line[x - 1] if x else 0
                b_ = prior[x]
                c = prior[x - 1] if x else 0
                p = a + b_ - c
                pa, pb, pc = abs(p - a), abs(p - b_), abs(p - c)
                if pa <= pb and pa <= pc:
                    pred = a
                elif pb <= pc:
                    pred = b_
                else:
                    pred = c
                line[x] = (line[x] + pred) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter type {ft}")
        out[y * w : (y + 1) * w] = line
        prior = bytes(line)
    return bytes(out)


def decode_png_gray(b: bytes) -> tuple[int, int, bytes]:
    """REAL compressed-container decode: PNG → ``(w, h, pixels)`` for
    8-bit grayscale (color type 0), non-interlaced. Walks chunks by
    length+type+CRC (verifying every CRC-32), requires IHDR first,
    skips ancillary chunks, reassembles multi-IDAT streams, inflates
    with an exact-length check, and defilters all five scanline
    filter types. The ``png_pixels`` kernel calls it per payload.
    """
    if len(b) < len(_PNG_SIG) or b[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos = len(_PNG_SIG)
    ihdr = None
    idat = bytearray()
    seen_end = False
    while pos < len(b):
        if pos + 8 > len(b):
            raise ValueError("truncated PNG chunk header")
        size = int.from_bytes(b[pos : pos + 4], "big")
        ctype = b[pos + 4 : pos + 8]
        body = b[pos + 8 : pos + 8 + size]
        if len(body) != size or pos + 12 + size > len(b):
            raise ValueError("truncated PNG chunk")
        crc = int.from_bytes(b[pos + 8 + size : pos + 12 + size], "big")
        if zlib.crc32(ctype + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG CRC mismatch in {ctype!r}")
        if ihdr is None and ctype != b"IHDR":
            raise ValueError("first PNG chunk is not IHDR")
        if ctype == b"IHDR":
            if ihdr is not None:
                raise ValueError("duplicate IHDR")
            ihdr = body
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            seen_end = True
            break
        # anything else (tEXt, pHYs, …) is ancillary: skipped
        pos += 12 + size
    if ihdr is None or not seen_end:
        raise ValueError("missing IHDR/IEND")
    if len(ihdr) != 13:
        raise ValueError("IHDR length != 13")
    w = int.from_bytes(ihdr[0:4], "big")
    h = int.from_bytes(ihdr[4:8], "big")
    depth, ctype_, comp, filt, interlace = ihdr[8:13]
    if (depth, ctype_, comp, filt, interlace) != (8, 0, 0, 0, 0):
        raise ValueError(
            f"unsupported PNG variant (depth={depth} color={ctype_} "
            f"comp={comp} filter={filt} interlace={interlace})"
        )
    if w < 1 or h < 1:
        raise ValueError("empty PNG image")
    d = zlib.decompressobj()
    raw = d.decompress(bytes(idat))
    raw += d.flush()
    # trailing bytes past the DEFLATE stream land in unused_data
    # (unconsumed_tail stays empty without a max_length arg)
    if d.unused_data or not d.eof:
        raise ValueError("trailing/garbled DEFLATE data in IDAT")
    return w, h, _png_defilter(raw, w, h)


def encode_png_frames(docs: DataFrame) -> DataFrame:
    """``(doc_id, payload: raw bytes)`` → ``(doc_id, payload: real
    8-bit grayscale PNG)``, width ``PNG_W`` × height ``len//PNG_W``
    (sub-row payloads dropped, the m04/m09 convention). Fixture-
    encoder role: scanline y gets filter type ``y % 5`` (all five
    spec filters live, including Paeth), the DEFLATE stream is split
    across two IDAT chunks, and an ancillary tEXt chunk sits between
    IHDR and the first IDAT — so fixed-offset or single-IDAT decoders
    break, and every chunk carries a genuine CRC-32."""
    return map_rows(docs.select("doc_id", "payload"), _png_file, "payload binary")


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    crc = zlib.crc32(ctype + body) & 0xFFFFFFFF
    return len(body).to_bytes(4, "big") + ctype + body + crc.to_bytes(4, "big")


def _png_filter_row(ft: int, line: bytes, prior: bytes) -> bytes:
    """Apply PNG scanline filter ``ft`` (bpp=1): the inverse of
    ``_png_defilter``'s per-row step."""
    w = len(line)
    if ft == 0:
        return bytes(line)
    if ft == 1:
        return bytes((line[x] - (line[x - 1] if x else 0)) & 0xFF for x in range(w))
    if ft == 2:
        return bytes((line[x] - prior[x]) & 0xFF for x in range(w))
    if ft == 3:
        return bytes(
            (line[x] - (((line[x - 1] if x else 0) + prior[x]) >> 1)) & 0xFF
            for x in range(w)
        )
    out = bytearray(w)
    for x in range(w):
        a = line[x - 1] if x else 0
        b_ = prior[x]
        c = prior[x - 1] if x else 0
        p = a + b_ - c
        pa, pb, pc = abs(p - a), abs(p - b_), abs(p - c)
        pred = a if (pa <= pb and pa <= pc) else (b_ if pb <= pc else c)
        out[x] = (line[x] - pred) & 0xFF
    return bytes(out)


_PNG_TEXT = _png_chunk(b"tEXt", b"Software\x00spark-graft")


def _png_file(payload: bytes) -> list[tuple]:
    b = bytes(payload)
    w = PNG_W
    h = len(b) // w
    if h < 1:
        return []
    prior = bytes(w)
    raw = bytearray()
    for y in range(h):
        line = b[y * w : (y + 1) * w]
        ft = y % 5
        raw += bytes([ft]) + _png_filter_row(ft, line, prior)
        prior = line
    comp = zlib.compress(bytes(raw), 6)
    cut = min(37, len(comp))  # force the two-IDAT path
    ihdr = w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes([8, 0, 0, 0, 0])
    return [
        (
            _PNG_SIG
            + _png_chunk(b"IHDR", ihdr)
            + _PNG_TEXT
            + _png_chunk(b"IDAT", comp[:cut])
            + _png_chunk(b"IDAT", comp[cut:])
            + _png_chunk(b"IEND", b""),
        )
    ]


def png_pixels(payloads: DataFrame) -> DataFrame:
    """``(doc_id, payload: binary PNG)`` → ``(doc_id, src_w, src_h,
    pixels binary)``: the production kernel — chunk walk + CRC verify
    + inflate + defilter (``decode_png_gray``)."""
    return map_rows(
        payloads.select("doc_id", "payload"),
        lambda payload: [decode_png_gray(bytes(payload))],
        "src_w int, src_h int, pixels binary",
    )


@query("m11_png_decode_roundtrip", oracle=M11_ORACLE)
def m11_png_decode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M11 — REAL compressed-container decode (PNG, stdlib zlib):
    chunk walk with CRC-32 verify, split-IDAT reassembly, DEFLATE
    inflate, all-five-filter defilter (incl. Paeth); the identity-
    roundtrip oracle hash-compares EVERY decoded pixel byte."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    )
    # JVM-side routing (the m04/m09 doctrine): payloads that cannot
    # fill one scanline never reach a Python stage
    docs = docs.filter(F.length("payload") >= PNG_W)
    return png_pixels(encode_png_frames(docs)).select(
        "doc_id",
        "src_w",
        "src_h",
        F.hex(F.col("pixels")).alias("px_hex"),
    )

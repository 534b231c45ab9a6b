"""CLI smoke test + hypothesis property tests for the pure helpers."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from omop_dump_to_parquet_spark.cli import build_parser, main


def test_cli_dump_from_parquet(spark, sf_small, tmp_path, capsys):
    out = str(tmp_path / "cli_lake")
    rc = main(
        [
            "--source-parquet",
            f"{sf_small}/nation.parquet",
            "--output-path",
            out,
            "--row-limit",
            "10",
            "--cast",
            "n_regionkey=long",
        ]
    )
    assert rc == 0
    printed = capsys.readouterr().out
    assert "rows=10" in printed and "count_ok=True" in printed
    back = spark.read.parquet(out)
    assert back.count() == 10
    assert dict(back.dtypes)["n_regionkey"] == "bigint"


def test_cli_requires_table_with_jdbc(capsys):
    rc = main(["--jdbc-url", "jdbc:derby:nowhere", "--output-path", "/tmp/x"])
    assert rc == 2


def test_cli_parser_rejects_two_sources():
    import pytest

    with pytest.raises(SystemExit):
        build_parser().parse_args(
            ["--source-parquet", "a", "--jdbc-url", "b", "--output-path", "c"]
        )


# ---------------------------------------------------------------------------
# Property tests (pure logic, no Spark jobs in the inner loop).
# ---------------------------------------------------------------------------


@given(
    st.integers(min_value=1, max_value=200),
    st.integers(min_value=1, max_value=200),
)
@settings(max_examples=200, deadline=None)
def test_size_ratio_condition_is_necessary_for_jaccard(nw_a, nw_b):
    """The integer prefilter d04 uses: every (nw_a, nw_b) admitting
    Jaccard ≥ 0.9 must pass 10·min ≥ 9·max. Jaccard is maximized at
    full containment: j_max = min/max."""
    passes = nw_a * 10 >= nw_b * 9 and nw_b * 10 >= nw_a * 9
    j_max = min(nw_a, nw_b) / max(nw_a, nw_b)
    if j_max >= 0.9:
        assert passes  # never drop a pair that could reach the threshold
    if not passes:
        assert j_max < 0.9


# Session-backed property test: generated vectors through the real
# column expressions, compared against numpy ground truth. One Spark
# job over all examples (hypothesis generates; Spark evaluates in one
# createDataFrame pass) to keep runtime sane.


def test_vector_math_matches_numpy(spark):
    import math

    import numpy as np

    from omop_dump_to_parquet_spark.functions.vectors import (
        cosine_d,
        dot_d,
        l2norm_d,
    )
    from pyspark.sql import functions as F

    rng = np.random.default_rng(11)
    pairs = [
        (rng.uniform(-9, 9, d).tolist(), rng.uniform(-9, 9, d).tolist())
        for d in (1, 2, 7, 64)
        for _ in range(8)
    ]
    df = spark.createDataFrame(
        [(a, b) for a, b in pairs], "a array<double>, b array<double>"
    )
    out = df.select(
        dot_d(F.col("a"), F.col("b")).alias("dot"),
        l2norm_d(F.col("a")).alias("nrm"),
        cosine_d(F.col("a"), F.col("b")).alias("cos"),
    ).collect()
    for (a, b), r in zip(pairs, out):
        va, vb = np.array(a), np.array(b)
        assert math.isclose(r["dot"], float(va @ vb), rel_tol=1e-9, abs_tol=1e-9)
        assert math.isclose(
            r["nrm"], float(np.linalg.norm(va)), rel_tol=1e-9, abs_tol=1e-9
        )
        expect = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
        assert math.isclose(r["cos"], expect, rel_tol=1e-9, abs_tol=1e-9)
        assert -1.0000001 <= r["cos"] <= 1.0000001


@given(
    st.lists(  # per-doc band-key rows: doc i -> keys[i][band]
        st.lists(st.integers(min_value=0, max_value=5), min_size=4, max_size=4),
        min_size=2,
        max_size=12,
    )
)
@settings(max_examples=200, deadline=None)
def test_first_band_emission_equals_distinct_any_band(keys):
    """The LSH emit-once invariant d15 relies on
    (dedup.cross_corpus_neardup): emitting a colliding pair only at
    its FIRST shared band yields each any-band-colliding pair EXACTLY
    once — the set a distinct() over all band collisions gives, with
    no distinct pass. Tiny key range (0-5) forces heavy collisions so
    multi-band duplication actually occurs."""
    n, bands = len(keys), 4
    any_band = {
        (a, b)
        for a in range(n)
        for b in range(a + 1, n)
        if any(keys[a][c] == keys[b][c] for c in range(bands))
    }
    emitted = []
    for c in range(bands):
        for a in range(n):
            for b in range(a + 1, n):
                if keys[a][c] == keys[b][c] and not any(
                    keys[a][e] == keys[b][e] for e in range(c)
                ):
                    emitted.append((a, b))
    assert set(emitted) == any_band
    assert len(emitted) == len(set(emitted))  # exactly-once, no dedupe needed


@given(st.integers(min_value=0, max_value=2**60 - 1),
       st.integers(min_value=0, max_value=2**60 - 1))
@settings(max_examples=300, deadline=None)
def test_simhash_pigeonhole_hamming_implies_shared_chunk(fa, fb):
    """d05's oracle relies on: Hamming(fa, fb) ≤ 3 over 4×15-bit
    chunks ⇒ at least one chunk identical (pigeonhole) — so the
    banded Spark plan and the unbanded all-pairs SQL define the same
    output set."""
    hamming = bin(fa ^ fb).count("1")
    chunks_equal = any(
        ((fa >> (15 * c)) & 0x7FFF) == ((fb >> (15 * c)) & 0x7FFF)
        for c in range(4)
    )
    if hamming <= 3:
        assert chunks_equal


@given(
    st.lists(  # token sets over a small universe → heavy overlap
        st.sets(st.integers(min_value=0, max_value=14), min_size=1, max_size=10),
        min_size=2,
        max_size=8,
    ),
    st.tuples(st.integers(min_value=1, max_value=9),
              st.just(10)),  # threshold num/10
)
@settings(max_examples=300, deadline=None)
def test_prefix_position_filter_is_complete(docsets, ratio):
    """The r6 PPJoin position filter (dedup.prefix_filter_candidates):
    with tokens globally ordered by (df ASC, token ASC), a pair with
    J ≥ num/den must survive prefix indexing + the per-match overlap
    upper bound 1+min(nwa−pa, nwb−pb) ≥ ⌈num(nwa+nwb)/(num+den)⌉ at
    SOME shared token — zero recall loss by construction."""
    from collections import Counter

    num, den = ratio
    df = Counter(t for s in docsets for t in s)
    order = sorted(df, key=lambda t: (df[t], t))
    pos = {t: i for i, t in enumerate(order)}
    ranked = [
        {t: r + 1 for r, t in enumerate(sorted(s, key=lambda t: pos[t]))}
        for s in docsets
    ]
    for i in range(len(docsets)):
        for j in range(i + 1, len(docsets)):
            A, B = docsets[i], docsets[j]
            inter = len(A & B)
            if inter * den < num * len(A | B):
                continue  # below threshold — completeness says nothing
            nwa, nwb = len(A), len(B)
            # size condition (exact, zero recall cost)
            assert nwa * den >= nwb * num and nwb * den >= nwa * num
            pl_b = nwb - -(-num * nwb // den) + 1  # nw - ceil(t*nw) + 1
            pl_a = nwa - -(-num * nwa // den) + 1
            del pl_a  # implementation indexes ONLY the b (larger-id) side
            survived = False
            for t in A & B:
                pa, pb = ranked[i][t], ranked[j][t]
                in_prefix = pb <= pl_b  # index side = larger doc_id
                pos_ok = (1 + min(nwa - pa, nwb - pb)) * (num + den) >= (
                    num * (nwa + nwb)
                )
                if in_prefix and pos_ok:
                    survived = True
                    break
            assert survived, (A, B, num, den)


@given(
    w=st.integers(min_value=1, max_value=40),
    h=st.integers(min_value=1, max_value=30),
    top_down=st.booleans(),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=60, deadline=None)
def test_bmp_roundtrip_property(w, h, top_down, seed):
    """decode_bmp_gray inverts a valid 8bpp BI_RGB encoding for ANY
    dims (stride padding for every width mod 4, both row orders)."""
    import numpy as np

    from omop_dump_to_parquet_spark.operators.multimodal import (
        decode_bmp_gray,
    )

    rng = np.random.default_rng(seed)
    pixels = rng.integers(0, 256, size=w * h, dtype=np.uint8).tolist()
    import struct

    stride = (w + 3) & ~3
    palette = b"".join(bytes((i, i, i, 0)) for i in range(256))
    data_off = 14 + 40 + len(palette)
    ys = range(h) if top_down else range(h - 1, -1, -1)
    px = b"".join(
        bytes(pixels[y * w : (y + 1) * w]) + b"\x00" * (stride - w)
        for y in ys
    )
    payload = (
        b"BM"
        + struct.pack("<IHHI", data_off + len(px), 0, 0, data_off)
        + struct.pack(
            "<IiiHHIIiiII",
            40, w, (-h if top_down else h), 1, 8, 0,
            len(px), 2835, 2835, 256, 0,
        )
        + palette
        + px
    )
    dw, dh, out = decode_bmp_gray(payload)
    assert (dw, dh) == (w, h)
    assert list(out) == pixels


@given(
    n=st.integers(min_value=33, max_value=80),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=25, deadline=None)
def test_pq_lattice_and_train_invariants(n, seed):
    """s09's integer-lattice primitives hold their contracts on random
    float input: u-vectors are int64 with |u_i| ≤ PQ_UGRID·(1+ε) and
    ≈ unit norm on the lattice; trained codebooks are int64 on the
    PQ_LATTICE sub-grid with |c| bounded by the u range, and training
    is deterministic (same input → identical codebook)."""
    import numpy as np

    from omop_dump_to_parquet_spark.operators.similarity import (
        EMB_DIM,
        PQ_LATTICE,
        PQ_M,
        PQ_UGRID,
        _pq_train_np,
        _pq_unit_lattice_np,
    )

    rng = np.random.default_rng(seed)
    X = rng.normal(0, 1, size=(n, EMB_DIM))
    U = _pq_unit_lattice_np(X)
    assert U.dtype == np.int64
    # each |u_i| ≤ UGRID up to one rint step (component ≤ norm)
    assert np.abs(U).max() <= PQ_UGRID + 1
    norms = np.sqrt((U.astype(float) ** 2).sum(axis=1))
    assert np.all(np.abs(norms - PQ_UGRID) < PQ_UGRID * 0.01)
    sub = EMB_DIM // PQ_M
    Utr = U.reshape(n, PQ_M, sub)
    C1 = _pq_train_np(Utr)
    C2 = _pq_train_np(Utr)
    assert C1.dtype == np.int64 and C1.shape == (PQ_M, 32, sub)
    assert np.array_equal(C1, C2), "training must be deterministic"
    # centroids are means of u-vectors scaled by the lattice: bounded
    assert np.abs(C1).max() <= (PQ_UGRID + 1) * PQ_LATTICE


def _passjoin_geometry_model(length: int, p: int) -> list[tuple[int, int]]:
    """Pure-Python reference of ``dedup._passjoin_seg_geometry``: the
    even PassJoin partition of a string of ``length`` chars into
    ``p`` segments — first p−r segments of q = length // p chars,
    last r = length % p of q+1 — as (start, slen) per segment j."""
    q, r = divmod(length, p)
    return [
        (j * q + max(0, j - (p - r)), q + (1 if j >= p - r else 0))
        for j in range(p)
    ]


from _lev import py_levenshtein as _lev  # noqa: E402


@given(
    st.text(alphabet="abc", min_size=7, max_size=24),
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),  # sub/ins/del
            st.integers(min_value=0, max_value=30),  # position
            st.sampled_from("abc"),
        ),
        min_size=0,
        max_size=2,
    ),
)
@settings(max_examples=300, deadline=None)
def test_passjoin_pigeonhole_segment_survives(base, edits):
    """The completeness lemma `_passjoin_candidates` stands on
    (PassJoin, Li/Deng/Feng VLDB'11): if lev(r, s) ≤ k then at least
    one of r's k+1 even-partition segments occurs verbatim in s at a
    start displaced by at most k from its position in r — which is
    exactly the (length, j, segment, start-window) join condition.
    Probes here are adversarial: ≤ k random edits applied to base,
    checked against the SAME geometry model the Spark expression
    implements (`_passjoin_seg_geometry`)."""
    from omop_dump_to_parquet_spark.operators.dedup import (
        passjoin_small_len,
    )

    k = 2
    other = base
    for op, pos, ch in edits:
        if op == 0 and other:  # substitute
            i = pos % len(other)
            other = other[:i] + ch + other[i + 1:]
        elif op == 1:  # insert
            i = pos % (len(other) + 1)
            other = other[:i] + ch + other[i:]
        elif other:  # delete
            i = pos % len(other)
            other = other[:i] + other[i + 1:]
    # the production path only routes (both > small) pairs through
    # PassJoin; the banded path covers the rest (tested elsewhere)
    small = passjoin_small_len(k)
    if len(other) <= small or len(base) <= small:
        return
    assert _lev(base, other) <= k  # by construction
    # index side r = other, probe side s = base: some segment j of r
    # must appear in s within the ±k displacement window the probe
    # enumerates (clamped to valid substring starts, as in the plan)
    found = False
    for j, (start, slen) in enumerate(
        _passjoin_geometry_model(len(other), k + 1)
    ):
        seg = other[start:start + slen]
        lo = max(0, start - k)
        hi = min(len(base) - slen, start + k)
        if any(
            base[t:t + slen] == seg for t in range(lo, hi + 1)
        ):
            found = True
            break
    assert found, (
        f"no surviving segment: r={other!r} s={base!r} "
        f"lev={_lev(base, other)}"
    )


def test_passjoin_geometry_model_matches_spark_expression(spark):
    """The pure model above and the Spark column expression
    `_passjoin_seg_geometry` must agree on (start, slen) for every
    (length, j) the catalog can produce — otherwise the property
    test proves the wrong geometry."""
    from pyspark.sql import functions as F

    from omop_dump_to_parquet_spark.operators.dedup import (
        _passjoin_seg_geometry,
    )

    p = 3
    rows = [(l, j) for l in range(7, 40) for j in range(p)]
    df = spark.createDataFrame(rows, "len int, j int")
    got = {
        (r["len"], r["j"]): (r["_start"], r["_slen"])
        for r in _passjoin_seg_geometry(df, "len", p).collect()
    }
    for l in range(7, 40):
        segs = _passjoin_geometry_model(l, p)
        for j in range(p):
            assert got[(l, j)] == segs[j], (l, j)
        # and the model itself tiles the string exactly
        assert segs[0][0] == 0
        assert all(
            segs[j][0] + segs[j][1] == segs[j + 1][0]
            for j in range(p - 1)
        )
        assert segs[-1][0] + segs[-1][1] == l


def test_cli_rejects_malformed_cast_before_jvm(capsys):
    """r10 review: a --cast without '=' used to crash with an opaque
    dict-construction ValueError AFTER paying JVM startup; pure
    argument errors must exit 2 with a usage message first."""
    rc = main(
        [
            "--source-parquet", "/nonexistent",
            "--output-path", "/tmp/never",
            "--cast", "PROVIDER_ID",
        ]
    )
    assert rc == 2
    assert "COL=TYPE" in capsys.readouterr().err


def test_cli_defaults_are_package_constants_and_start_no_jvm():
    """--fetch-size and --max-records-per-file default to the JDBC and
    sink constants; importing them starts no JVM, so an argument error
    still exits before any Spark startup (checked in a fresh
    interpreter: this one already runs the test session's JVM)."""
    import pathlib
    import subprocess
    import sys

    import omop_dump_to_parquet_spark

    code = """
from pyspark import SparkContext
from omop_dump_to_parquet_spark.cli import build_parser, main
from omop_dump_to_parquet_spark.sinks import REFERENCE_SIZING
from omop_dump_to_parquet_spark.sources.jdbc import DEFAULT_FETCH_SIZE
args = ["--source-parquet", "/nonexistent", "--output-path", "/tmp/never"]
a = build_parser().parse_args(args)
assert a.fetch_size == DEFAULT_FETCH_SIZE
assert a.max_records_per_file == REFERENCE_SIZING["rows_per_file"]
assert main([*args, "--cast", "PROVIDER_ID"]) == 2
assert SparkContext._gateway is None
"""
    root = pathlib.Path(omop_dump_to_parquet_spark.__file__).parents[1]
    run = subprocess.run(
        [sys.executable, "-c", code], cwd=root, capture_output=True, text=True
    )
    assert run.returncode == 0, run.stderr


def test_cosine_d_zero_norm_is_null_like_duckdb(spark):
    """r10 review: under ANSI a plain division THROWS on the 0.0
    divisor an all-zero embedding produces, while the DuckDB oracle
    yields NULL — cosine_d must yield NULL in both engines."""
    import duckdb
    from pyspark.sql import functions as F

    from omop_dump_to_parquet_spark.functions.vectors import cosine_d

    df = spark.createDataFrame(
        [([0.0, 0.0], [1.0, 2.0]), ([1.0, 0.0], [1.0, 0.0])],
        "a array<double>, b array<double>",
    )
    got = df.select(cosine_d(F.col("a"), F.col("b")).alias("c")).collect()
    assert got[0]["c"] is None and got[1]["c"] == 1.0
    oracle = duckdb.sql(
        "SELECT list_dot_product([0.0,0.0],[1.0,2.0]) / "
        "(sqrt(list_dot_product([0.0,0.0],[0.0,0.0])) * "
        "sqrt(list_dot_product([1.0,2.0],[1.0,2.0])))"
    ).fetchone()[0]
    assert oracle is None  # the semantics cosine_d now matches


def test_runtime_conf_set_after_first_apply_survives_query_entry(spark, sf_small):
    """The runtime confs are applied once per session: a setting the
    session's owner makes afterwards (the determinism sweep's AQE-off
    leg) holds through a catalog query call, while a session that has
    never been through an entry point is still brought to the defaults."""
    from omop_dump_to_parquet_spark import load_catalog
    from omop_dump_to_parquet_spark.session import apply_runtime_confs

    queries, _ = load_catalog()
    s = spark.newSession()
    apply_runtime_confs(s)
    s.conf.set("spark.sql.adaptive.enabled", "false")
    out = queries["q01_pricing_summary"](s, sf_small)
    assert out.count() > 0
    assert s.conf.get("spark.sql.adaptive.enabled") == "false", (
        "the owner's setting was overwritten by the query entry point"
    )
    s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    queries["q01_pricing_summary"](s2, sf_small).count()
    assert s2.conf.get("spark.sql.adaptive.enabled") == "true"


# ---------------------------------------------------------------------------
# Scripts and repository layout
# ---------------------------------------------------------------------------


def test_rehearsal_filtered_refresh_preserves_unlisted_rel_ops(tmp_path):
    """An op-filtered rel refresh of scripts/scale_rehearsal.py (only
    q48 measured) must keep q31's prior step-pair rows instead of
    shadowing the prior file with the rebuilt block."""
    import importlib.util
    import json
    import pathlib

    path = pathlib.Path(__file__).parent.parent / "scripts" / "scale_rehearsal.py"
    spec = importlib.util.spec_from_file_location("scale_rehearsal", path)
    rehearsal = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(rehearsal)

    prior = {
        "relational_x10_extension": {
            "note": "prior",
            "ops": {
                "q31_array_map_funcs": {"x1": {"sec": 1.0}, "step_alpha": 0.5},
                "q48_theta_error_bound": {"x1": {"sec": 9.9}},
            },
        }
    }
    prior_path = tmp_path / "SCALE_REHEARSAL.json"
    prior_path.write_text(json.dumps(prior))

    fresh = {"q48_theta_error_bound": {"x1": {"sec": 2.0}, "step_alpha": 0.7}}
    merged = rehearsal._merged_rel_ops(str(prior_path), fresh)
    # unlisted op preserved verbatim, listed op overlaid with the
    # fresh measurement
    assert merged["q31_array_map_funcs"]["step_alpha"] == 0.5
    assert merged["q48_theta_error_bound"]["step_alpha"] == 0.7
    # no prior file → just this run's ops
    assert rehearsal._merged_rel_ops(str(tmp_path / "missing.json"), fresh) == fresh


def test_no_round_named_tests_or_scripts():
    """Tests live in topic files and measurements in reusable scripts
    or perfbench/: a file named after a development round
    (``test_r12_*``, ``r17_*``, ``r15b_*``) or a one-off ×100 probe
    (``x100_*``, ``*_x100``) is a leftover to fold in or delete."""
    import pathlib
    import re

    root = pathlib.Path(__file__).parent.parent
    named_by_round = re.compile(r"^(test_r\d+|r\d+b?_)|(^|_)x100(_|\.py$)")
    offenders = sorted(
        f.relative_to(root).as_posix()
        for d in ("tests", "scripts")
        for f in (root / d).rglob("*.py")
        if named_by_round.search(f.name)
    )
    assert not offenders, offenders


def test_catalog_md_matches_gen_catalog():
    """CATALOG.md is generated: ``python gen_catalog.py`` run from the
    repo root reproduces it byte for byte. A moved operator or a new
    id fails here until the file is regenerated."""
    import pathlib
    import subprocess
    import sys

    root = pathlib.Path(__file__).parent.parent
    out = subprocess.run(
        [sys.executable, "gen_catalog.py"],
        cwd=root,
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    assert out == (root / "CATALOG.md").read_text(), (
        "CATALOG.md is stale: run `python gen_catalog.py > CATALOG.md`"
    )

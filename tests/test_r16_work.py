"""r16 work: d16 span-level exact-substring dedup output (Lee et al.
ExactSubstr's production step — emit the deduplicated corpus, not just
the pair list) and t25 HTML/boilerplate extraction.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from omop_dump_to_parquet_spark.operators.dedup import (
    D16_SPAN_W,
    exact_substring_rewrite,
)
from omop_dump_to_parquet_spark.sources.parquet import table


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


@pytest.fixture(scope="module")
def catalog():
    from omop_dump_to_parquet_spark import load_catalog

    return load_catalog()


# ---------------------------------------------------------------------------
# d16 — differential, semantics, plan shape
# ---------------------------------------------------------------------------


def test_d16_differential_exact(spark, sf_small, catalog, duck):
    """Every reconstructed document byte-verified (via md5) against
    the LSH-free gram-text oracle; row-for-row agreement is also the
    xxhash64 collision check (d11 precedent)."""
    queries, oracles = catalog
    got = sorted(
        (r.doc_id, r.n_tokens, r.n_removed, r.retained_md5)
        for r in queries["d16_exact_substring_rewrite"](spark, sf_small).collect()
    )
    exp = sorted(
        map(tuple, duck.execute(oracles["d16_exact_substring_rewrite"]).fetchall())
    )
    assert len(got) == 500  # one row per input doc, none dropped
    assert got == exp


def test_d16_nondegenerate(spark, sf_small, catalog):
    """The fixture actually exercises the operator: >20 docs get spans
    removed, including at least one fully-deduplicated doc (retained
    text == '') — and untouched docs round-trip byte-identical."""
    queries, _ = catalog
    rows = queries["d16_exact_substring_rewrite"](spark, sf_small).collect()
    rewritten = [r for r in rows if r.n_removed > 0]
    assert len(rewritten) >= 20
    assert any(r.n_removed == r.n_tokens for r in rewritten)
    empty_md5 = _md5("")
    for r in rewritten:
        if r.n_removed == r.n_tokens:
            assert r.retained_md5 == empty_md5
    # untouched docs: md5 equals the original token-joined text
    originals = {
        r.doc_id: r.text
        for r in table(spark, sf_small, "documents").collect()
    }
    untouched = [r for r in rows if r.n_removed == 0]
    assert untouched
    for r in untouched[:50]:
        assert r.retained_md5 == _md5(originals[r.doc_id])


def _rewrite_map(spark, docs_rows):
    docs = spark.createDataFrame(docs_rows, "doc_id long, text string")
    return {
        r.doc_id: r
        for r in exact_substring_rewrite(docs, w=3).collect()
    }


def test_d16_cross_doc_keeper_is_min_doc(spark):
    """A span duplicated across docs survives only in the lexicographic
    -min (doc_id, pos) occurrence."""
    span = "a b c"  # w=3: exactly one window
    out = _rewrite_map(
        spark,
        [(1, f"{span} x y"), (2, f"p q {span}"), (3, f"{span} m n")],
    )
    assert out[1].n_removed == 0
    assert out[1].retained_md5 == _md5("a b c x y")
    assert out[2].n_removed == 3
    assert out[2].retained_md5 == _md5("p q")
    assert out[3].n_removed == 3
    assert out[3].retained_md5 == _md5("m n")


def test_d16_within_doc_repeat_keeps_first(spark):
    out = _rewrite_map(spark, [(7, "a b c z a b c")])
    # second occurrence (pos 5) deleted; tokens 5,6,7 removed
    assert out[7].n_removed == 3
    assert out[7].retained_md5 == _md5("a b c z")


def test_d16_overlapping_marks_union(spark):
    """Two overlapping duplicated windows in the same doc merge via the
    deleted-position set — tokens are not double-counted."""
    out = _rewrite_map(
        spark,
        [(1, "a b c d x"), (2, "y a b c d")],  # windows 'a b c','b c d' both dup
    )
    assert out[1].n_removed == 0
    assert out[2].n_removed == 4  # positions 2..5 union, not 6
    assert out[2].retained_md5 == _md5("y")


def test_d16_short_doc_untouched(spark):
    out = _rewrite_map(spark, [(1, "a b"), (2, "a b")])
    # both docs shorter than w=3: no windows, byte-identical output
    for d in (1, 2):
        assert out[d].n_removed == 0
        assert out[d].retained_md5 == _md5("a b")


def test_d16_plan_single_corpus_hash_exchange(spark, sf_small, catalog):
    """The 100 TB claim: the gram index's keeper groupBy is the ONLY
    hash exchange over corpus-token-scale data; the keeper table and
    deleted-set sliver ride broadcasts; no SortMergeJoin at fixture
    scale. (At production the keeper join degrades to SMJ REUSING the
    same gh exchange — same key.)"""
    queries, _ = catalog
    plan = (
        queries["d16_exact_substring_rewrite"](spark, sf_small)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortMergeJoin" not in plan, plan
    import re

    hash_ex = re.findall(r"Exchange hashpartitioning\(([a-z_]+)#", plan)
    # exactly two hash exchanges: gh (gram index / keeper agg) and
    # doc_id (duplicated-window sliver aggregation)
    assert sorted(hash_ex) == ["doc_id", "gh"], hash_ex
    assert plan.count("BroadcastHashJoin") == 2, plan


# ---------------------------------------------------------------------------
# t25 — differential, encoder integrity, kernel semantics
# ---------------------------------------------------------------------------


def test_t25_differential_exact(spark, sf_small, catalog, duck):
    """Identity roundtrip: every extracted document md5-equals its
    source text, block counts match the oracle's structural formula."""
    queries, oracles = catalog
    got = sorted(
        tuple(r) for r in queries["t25_html_extract"](spark, sf_small).collect()
    )
    exp = sorted(map(tuple, duck.execute(oracles["t25_html_extract"]).fetchall()))
    assert len(got) == 500
    assert got == exp


def test_t25_encoder_builds_real_markup(spark, sf_small):
    """The roundtrip is not vacuous: the encoded page really contains
    boilerplate blocks and live entities that the kernel must remove/
    decode to recover the source bytes."""
    from omop_dump_to_parquet_spark.operators.text import html_wrap

    docs = table(spark, sf_small, "documents")
    row = html_wrap(docs).orderBy("doc_id").first()
    h = row.html
    for frag in (
        "<nav>",
        '<div class="sidebar">',
        "<footer>",
        "<article>",
        "<p>&nbsp;",
        "&#",  # numeric character reference in CONTENT
        "&amp;",  # named entity (footer)
        "<head>",
    ):
        assert frag in h, frag
    orig = docs.orderBy("doc_id").first().text
    assert orig not in h  # entities make content != source bytes


def test_t25_kernel_on_handbuilt_page(spark):
    """Known-answer extraction: link-dense blocks dropped, head
    stripped, tags stripped, entities decoded, whitespace normal."""
    from omop_dump_to_parquet_spark.operators.text import html_extract

    page = (
        "<html><head><title>leak me not</title></head><body>"
        '<nav><a href="/">all links here</a></nav>'
        "<p>keep &#72;ello &amp; <b>world</b></p>"
        '<div><a href="/x">link link link</a> tiny</div>'
        "<footer>mostly <a href='/y'>linked footer text</a></footer>"
        "</body></html>"
    )
    df = spark.createDataFrame([(1, page)], "doc_id long, html string")
    r = html_extract(df).collect()[0]
    assert r.n_blocks == 4  # nav, p, div, footer
    assert r.n_dropped == 3  # nav (1.0), div (~0.75), footer (~0.6)
    assert r.extracted == "keep Hello & world"


def test_t25_entity_decode_is_single_pass(spark):
    """HTML semantics: '&#38;amp;' is '&amp;' (the decoder must not
    rescan its own output), and unknown entities pass through."""
    from omop_dump_to_parquet_spark.operators.text import html_extract

    df = spark.createDataFrame(
        [(1, "<p>&#38;amp; stays &unknown; ok</p>")],
        "doc_id long, html string",
    )
    r = html_extract(df).collect()[0]
    assert r.extracted == "&amp; stays &unknown; ok"


def test_t25_plan_zero_shuffles(spark, sf_small, catalog):
    """Zero shuffles by construction: scan → expressions →
    mapInArrow → project. Only widen_scan's fixture round-robin may
    appear; no hash/range exchange, no join, no aggregate."""
    queries, _ = catalog
    plan = (
        queries["t25_html_extract"](spark, sf_small)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "Join" not in plan, plan
    assert "Aggregate" not in plan, plan

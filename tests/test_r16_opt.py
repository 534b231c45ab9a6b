"""Focused tests for the r16 OPTIMIZATION-round changes — every one
pins an internals change whose OUTPUT must be identical to the
pre-r16 form (the round's contract: plans may change, results may
not).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from omop_dump_to_parquet_spark.operators import dedup as D
from omop_dump_to_parquet_spark.sources.parquet import table


def test_d04_collapsed_pipeline_matches_legacy_agg_path(spark, sf_small):
    """d04's pipeline (map-side NumPy kernel → exact token-set group
    collapse → rep-level LSH + verify → member expansion) must yield
    exactly the brute-force all-pairs word-set Jaccard ≥ threshold
    set on the fixture, jaccard values included."""
    new = {
        (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
        for r in D.d04_dedup_minhash_lsh(spark, sf_small).collect()
    }
    docs = table(spark, sf_small, "documents")
    toks = {
        r["doc_id"]: set(r["text"].split(" "))
        for r in docs.select("doc_id", "text").collect()
    }
    ids = sorted(toks)
    brute = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            nc = len(toks[a] & toks[b])
            jac = nc / (len(toks[a]) + len(toks[b]) - nc)
            if jac >= D.MINHASH_THRESHOLD:
                brute.add((a, b, round(jac, 9)))
    assert new == brute and len(new) > 0


def test_d04_group_collapse_is_exact(spark, sf_small):
    """Two docs share a (nw, g1, g2) group key iff their distinct
    token SETS are identical — the collapse must never merge distinct
    sets (false jaccard-1.0 pairs) nor split identical ones (missed
    within-group pairs)."""
    docs = table(spark, sf_small, "documents")
    rows = D.minhash_prepared(docs).select(
        "doc_id", "nw", "g1", "g2"
    ).collect()
    toks = {
        r["doc_id"]: frozenset(r["text"].split(" "))
        for r in docs.select("doc_id", "text").collect()
    }
    by_key: dict = {}
    for r in rows:
        by_key.setdefault((r["nw"], r["g1"], r["g2"]), []).append(
            r["doc_id"]
        )
    for key, ids in by_key.items():
        sets = {toks[i] for i in ids}
        assert len(sets) == 1, f"group {key} merged distinct sets"
    # identical sets must land in the same group
    by_set: dict = {}
    for i, s in toks.items():
        by_set.setdefault(s, set()).add(i)
    keys_of = {
        r["doc_id"]: (r["nw"], r["g1"], r["g2"]) for r in rows
    }
    for s, ids in by_set.items():
        assert len({keys_of[i] for i in ids}) == 1


def test_minhash_prepared_nw_matches_expression_form(spark, sf_small):
    """The kernel's nw (|distinct tokens|) must equal the Catalyst
    expression the pre-r16 path used — it feeds the exact integer
    set-size pruning condition."""
    docs = table(spark, sf_small, "documents")
    got = {
        r["doc_id"]: r["nw"] for r in D.minhash_prepared(docs).collect()
    }
    want = {
        r["doc_id"]: r["nw"]
        for r in docs.select(
            "doc_id",
            F.size(F.array_distinct(F.split(F.col("text"), " "))).alias(
                "nw"
            ),
        ).collect()
    }
    assert got == want


def test_d04_plan_uses_kernel_not_agg_signatures(spark, sf_small):
    """Plan shape: the d04 signature subtree is the Arrow kernel
    (MapInArrow), and the 126-column min-aggregate groupBy is gone —
    the only aggregates left belong to the hot-bucket cap machinery
    (count per (band, bkey))."""
    docs = table(spark, sf_small, "documents")
    # the signature subtree itself (pre-checkpoint): kernel, no agg
    sub = D.minhash_prepared(
        docs
    )._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in sub
    assert "HashAggregate" not in sub and "xxhash64" not in sub
    # the full query's plan is checkpoint-truncated (Scan ExistingRDD
    # leaves), so assert the legacy 126-min-agg signature shape is
    # gone from it rather than that the kernel node is visible
    plan = D.d04_dedup_minhash_lsh(
        spark, sf_small
    )._jdf.queryExecution().executedPlan().toString()
    assert "min(xxhash64" not in plan

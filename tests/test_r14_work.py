"""Round-14 worklist tests (r13 verdict #4; the BPE depth-8
property net lives in test_bpe.py):

* p08 / mixture_threshold_draw skew posture: the dominant source
  really is ≥90% of rows, the boundary bucket that reaches the only
  window sort really is sliver-sized, and both quota branches
  (boundary draw + whole-source keep) are exercised.
"""

from __future__ import annotations

import collections

from pyspark.sql import functions as F


# --------------------------------------------------------------------------
# p08 — skew posture proofs
# --------------------------------------------------------------------------


def test_p08_fixture_is_skew_dominant(spark, sf_small):
    from omop_dump_to_parquet_spark.operators.pipeline import p08_skewed_docs

    counts = {
        r["source"]: r["n"]
        for r in p08_skewed_docs(spark, sf_small)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    total = sum(counts.values())
    assert counts["web"] / total >= 0.90, counts


def test_p08_boundary_bucket_is_sliver_sized(spark, sf_small):
    """The ONLY sort in the threshold draw is the row_number window
    over the boundary bucket. Re-derive that bucket exactly as pass 1
    does and assert it is a ~1/256 sliver of the dominant source, not
    the source itself — the property that kills the single-task-chain
    serialization at 100 TB."""
    from omop_dump_to_parquet_spark.operators.pipeline import (
        P06_SEED,
        mixture_quotas,
        p08_skewed_docs,
    )

    docs = p08_skewed_docs(spark, sf_small)
    counts = {
        r["source"]: r["n"]
        for r in docs.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    quotas = mixture_quotas(counts)
    hist = (
        docs.select(
            "source",
            F.substring(
                F.md5(
                    F.concat(
                        F.col("doc_id").cast("string"), F.lit(f":{P06_SEED}")
                    )
                ),
                1,
                2,
            ).alias("pfx"),
        )
        .groupBy("source", "pfx")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    by_source: dict[str, list[tuple[str, int]]] = {}
    for r in hist:
        by_source.setdefault(r["source"], []).append((r["pfx"], r["n"]))
    dom = "web"
    cum, boundary_n = 0, None
    for pfx, n in sorted(by_source[dom]):
        if cum + n >= quotas[dom]:
            boundary_n = n
            break
        cum += n
    assert boundary_n is not None, "dominant source must hit the boundary path"
    # sliver: the windowed rows are ONE 2-hex bucket of the dominant
    # source — generous 16× headroom over the 1/256 expectation still
    # proves it's a sliver, not the source
    assert boundary_n <= max(1, counts[dom] * 16 // 256), (
        boundary_n,
        counts[dom],
    )


def test_p08_exercises_whole_source_keep_branch(spark, sf_small):
    """At least one minority source's quota equals its size (the
    `quota >= n_s → keep all, no window at all` branch): the draw must
    keep every row of such sources."""
    from omop_dump_to_parquet_spark.operators.pipeline import (
        mixture_quotas,
        mixture_threshold_draw,
        p08_skewed_docs,
    )

    docs = p08_skewed_docs(spark, sf_small)
    counts = {
        r["source"]: r["n"]
        for r in docs.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    quotas = mixture_quotas(counts)
    full = [s for s in counts if s != "web" and quotas[s] == counts[s]]
    assert full, (
        "skew fixture should give at least one minority source a "
        f"whole-source quota; got {quotas} over {counts}"
    )
    kept = collections.Counter(
        r["source"]
        for r in mixture_threshold_draw(docs, quotas).collect()
    )
    for s in full:
        assert kept[s] == counts[s], (s, kept[s], counts[s])


# --------------------------------------------------------------------------
# p09 — decontamination plan and invariants
# --------------------------------------------------------------------------


def test_p09_plan_is_broadcast_single_corpus_shuffle(spark, sf_small):
    """The eval gram set must broadcast (no shuffle of the corpus for
    the join) and the corpus side must shuffle exactly once (the
    groupBy(doc_id)); a SortMergeJoin anywhere means the 100 TB
    asymmetry argument broke."""
    from omop_dump_to_parquet_spark import load_catalog

    queries, _ = load_catalog()
    plan = (
        queries["p09_decontamination"](spark, sf_small)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_p09_invariants(spark, sf_small):
    from omop_dump_to_parquet_spark.operators.pipeline import P09_EVAL_MOD
    from omop_dump_to_parquet_spark import load_catalog

    queries, _ = load_catalog()
    rows = queries["p09_decontamination"](spark, sf_small).collect()
    assert rows, "fixture should surface contaminated docs"
    for r in rows:
        assert r["doc_id"] % P09_EVAL_MOD != 0, "eval docs never flagged"
        assert 1 <= r["n_contaminated"] <= r["n_doc_grams"]


# --------------------------------------------------------------------------
# st11 — streaming decontamination invariants
# --------------------------------------------------------------------------


def test_st11_matches_p09_batch_output(spark, sf_small):
    """The stateless per-row re-expression under readStream must equal
    the batch groupBy plan row-for-row — batch ≡ stream on the same
    fixture (both are also oracle-certified independently)."""
    from omop_dump_to_parquet_spark import load_catalog

    queries, _ = load_catalog()
    batch = {
        (r["doc_id"], r["n_doc_grams"], r["n_contaminated"])
        for r in queries["p09_decontamination"](spark, sf_small).collect()
    }
    stream = {
        (r["doc_id"], r["n_doc_grams"], r["n_contaminated"])
        for r in queries["st11_stream_decontamination"](
            spark, sf_small
        ).collect()
    }
    assert batch == stream and batch

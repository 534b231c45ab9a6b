"""Semantic tests for the training-data pipeline operators
(operators/pipeline.py): the temperature mixture (p06-p08), n-gram
decontamination (p09, p10) and DSIR importance scoring (p11).

The differential oracle proves Spark ≡ DuckDB on the driver fixture;
these pin what neither engine can show by agreeing: skew postures,
regimes, planted-answer completeness and plan shapes.
"""

from __future__ import annotations

import collections
import math

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from omop_dump_to_parquet_spark import load_catalog
from omop_dump_to_parquet_spark.operators.pipeline import (
    P06_SEED,
    P07_RATE,
    P09_EVAL_MOD,
    P10_INJ_MOD,
    P10_INJ_RESIDUE,
    P10_NGRAM,
    mixture_quotas,
    mixture_targets,
    mixture_threshold_draw,
    p08_skewed_docs,
    p10_injected_corpus,
)
from omop_dump_to_parquet_spark.sources.parquet import table

QUERIES, _ = load_catalog()


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _source_counts(docs) -> dict[str, int]:
    return {
        r["source"]: r["n"]
        for r in docs.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }


def _rank_prefix(n_chars: int):
    """The threshold draw's rank-hash prefix, derived as the operator
    derives it."""
    return F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(f":{P06_SEED}"))),
        1,
        n_chars,
    )


# ---------------------------------------------------------------------------
# Temperature mixture: quotas, targets and the threshold draw
# ---------------------------------------------------------------------------

SKEWED_COUNTS = {"big": 500, "mid": 200, "small": 80, "tiny": 20}


def _skewed_docs_dir(spark, tmp_path) -> str:
    """A documents table with source sizes 500/200/80/20 — the skew
    the uniform sf fixtures cannot exercise."""
    rows, did = [], 0
    for src, n in SKEWED_COUNTS.items():
        for _ in range(n):
            rows.append((did, src))
            did += 1
    docs = spark.createDataFrame(rows, "doc_id long, source string").toPandas()
    docs["text"] = "x"
    docs["lang"] = "en"
    docs["n_chars"] = 1
    pq.write_table(pa.Table.from_pandas(docs), str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def test_mixture_quotas_flatten_by_temperature():
    q = mixture_quotas(SKEWED_COUNTS, rate=0.2)
    budget = int(0.2 * sum(SKEWED_COUNTS.values()))
    assert sum(q.values()) <= budget  # floor rounding never overshoots
    assert all(q[s] <= SKEWED_COUNTS[s] for s in SKEWED_COUNTS)
    # temperature T=0.5 flattens: smaller sources get a strictly
    # higher sampling RATE than larger ones
    rates = {s: q[s] / SKEWED_COUNTS[s] for s in SKEWED_COUNTS}
    assert rates["tiny"] > rates["small"] > rates["mid"] > rates["big"]
    # and the quota ratio tracks sqrt(n) ratio, not n ratio
    assert (
        q["big"] / q["tiny"] < SKEWED_COUNTS["big"] / SKEWED_COUNTS["tiny"]
    )


def test_mixture_quotas_are_capped_targets():
    """mixture_quotas must equal min(n_s, mixture_targets): p06 and p07
    share one basis arithmetic."""
    counts = {"a": 10_000, "b": 100, "c": 1}
    tgt = mixture_targets(counts, 0.5)
    q = mixture_quotas(counts, 0.5)
    assert q == {s: min(counts[s], tgt[s]) for s in counts}
    assert sum(q.values()) <= sum(tgt.values())


def test_mixture_quotas_properties_hypothesis():
    """Property test over arbitrary source-count maps: quotas never
    exceed source size, never overshoot the budget, are monotone in
    source size (a bigger source never gets a smaller quota), and are
    insensitive to dict insertion order (the determinism contract)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=200, deadline=None)
    @given(
        st.dictionaries(
            st.text(alphabet="abcdefgh", min_size=1, max_size=4),
            st.integers(min_value=1, max_value=10_000_000),
            min_size=1,
            max_size=30,
        ),
        st.floats(min_value=0.01, max_value=1.0),
    )
    def check(counts, rate):
        q = mixture_quotas(counts, rate=rate)
        assert set(q) == set(counts)
        assert all(0 <= q[s] <= counts[s] for s in counts)
        assert sum(q.values()) <= math.floor(rate * sum(counts.values()))
        ordered = sorted(counts, key=counts.__getitem__)
        for a, b in zip(ordered, ordered[1:]):
            if counts[a] == counts[b]:
                assert q[a] == q[b]
        # insertion-order insensitivity
        rev = dict(reversed(list(counts.items())))
        assert mixture_quotas(rev, rate=rate) == q
        # monotone: strictly bigger source never gets a smaller quota
        for a in counts:
            for b in counts:
                if counts[a] < counts[b]:
                    assert q[a] <= q[b]

    check()


def test_p07_epochs_upsample_small_sources(spark, tmp_path):
    """With a 2x corpus budget, the temperature-flattened targets give
    small sources MORE epochs per doc than large ones, every doc of
    every source appears, and per-source totals equal the integer
    targets exactly."""
    sf_dir = _skewed_docs_dir(spark, tmp_path)
    out = (
        QUERIES["p07_mixture_upsample"](spark, sf_dir)
        .groupBy("source")
        .count()
        .collect()
    )
    totals = {r["source"]: r["count"] for r in out}
    counts = SKEWED_COUNTS
    r = {s: math.floor(math.sqrt(n) * 1_000_000) for s, n in counts.items()}
    budget = math.floor(P07_RATE * sum(counts.values()))
    tgt = {s: (budget * r[s]) // sum(r.values()) for s in counts}
    assert totals == tgt
    epochs_per_doc = {s: totals[s] / counts[s] for s in counts}
    assert (
        epochs_per_doc["tiny"]
        > epochs_per_doc["small"]
        > epochs_per_doc["mid"]
        > epochs_per_doc["big"]
    )


def test_mixture_threshold_draw_equals_window_path(spark, sf_small, tmp_path):
    """The two-pass threshold draw (the 100 TB skew posture) must keep
    EXACTLY the window path's doc set — on the driver fixture and on
    the skewed corpus, at two histogram granularities (prefix_len 1
    exercises multi-bucket boundaries, 2 the sliver regime)."""
    for sf_dir in (sf_small, _skewed_docs_dir(spark, tmp_path)):
        docs = table(spark, sf_dir, "documents")
        quotas = mixture_quotas(_source_counts(docs))
        want = {
            (r["doc_id"], r["source"])
            for r in QUERIES["p06_temperature_mixture_sample"](
                spark, sf_dir
            ).collect()
        }
        for plen in (1, 2):
            got = {
                (r["doc_id"], r["source"])
                for r in mixture_threshold_draw(docs, quotas, plen).collect()
            }
            assert got == want, (sf_dir, plen, len(got), len(want))


def test_threshold_draw_raw_uncapped_quota_keeps_whole_source(spark):
    """A RAW quota strictly greater than a source's row count must take
    the ('g', 0) keep-all branch (no boundary prefix exists: the
    histogram loop exhausts without cum + n >= q) and keep every row —
    the guard for callers outside mixture_quotas' q <= n_s cap."""
    docs = spark.createDataFrame(
        [(i, "minor" if i % 5 == 0 else "major") for i in range(200)],
        "doc_id long, source string",
    )
    counts = collections.Counter(r["source"] for r in docs.collect())
    # minor gets an UNCAPPED quota 3x its size; major a partial draw
    quotas = {"minor": counts["minor"] * 3, "major": counts["major"] // 2}
    kept = collections.Counter(
        r["source"] for r in mixture_threshold_draw(docs, quotas).collect()
    )
    assert kept["minor"] == counts["minor"], (kept, counts)
    assert kept["major"] == quotas["major"], (kept, quotas)


def test_threshold_draw_keep_all_bound_is_the_g_sentinel(spark):
    """Pin the mechanism, not just the outcome: with an uncapped quota
    every row of that source must arrive via the sort-free 'sure' leg
    (pfx < 'g'), i.e. zero of its rows pass through the boundary
    window."""
    docs = spark.createDataFrame(
        [(i, "only") for i in range(50)], "doc_id long, source string"
    )
    out = mixture_threshold_draw(docs, {"only": 1000})
    assert out.count() == 50
    # no 2-hex md5 prefix sorts >= 'g', so pfx < 'g' (the no-window
    # leg) covers every row — the boundary window's input is EMPTY
    n_ge_g = (
        docs.select(_rank_prefix(2).alias("pfx"))
        .filter(F.col("pfx") >= "g")
        .count()
    )
    assert n_ge_g == 0


def test_p08_fixture_is_skew_dominant(spark, sf_small):
    counts = _source_counts(p08_skewed_docs(spark, sf_small))
    total = sum(counts.values())
    assert counts["web"] / total >= 0.90, counts


def test_p08_boundary_bucket_is_sliver_sized(spark, sf_small):
    """The ONLY sort in the threshold draw is the row_number window
    over the boundary bucket. Re-derive that bucket exactly as pass 1
    does and assert it is a ~1/256 sliver of the dominant source, not
    the source itself — the property that kills the single-task-chain
    serialization at 100 TB."""
    docs = p08_skewed_docs(spark, sf_small)
    counts = _source_counts(docs)
    quotas = mixture_quotas(counts)
    hist = (
        docs.select("source", _rank_prefix(2).alias("pfx"))
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
    docs = p08_skewed_docs(spark, sf_small)
    counts = _source_counts(docs)
    quotas = mixture_quotas(counts)
    full = [s for s in counts if s != "web" and quotas[s] == counts[s]]
    assert full, (
        "skew fixture should give at least one minority source a "
        f"whole-source quota; got {quotas} over {counts}"
    )
    kept = collections.Counter(
        r["source"] for r in mixture_threshold_draw(docs, quotas).collect()
    )
    for s in full:
        assert kept[s] == counts[s], (s, kept[s], counts[s])


# ---------------------------------------------------------------------------
# p09 / p10 — n-gram decontamination
# ---------------------------------------------------------------------------


def test_p09_plan_is_broadcast_single_corpus_shuffle(spark, sf_small):
    """The eval gram set must broadcast (no shuffle of the corpus for
    the join) and the corpus side must shuffle exactly once (the
    groupBy(doc_id)); a SortMergeJoin anywhere means the 100 TB
    asymmetry argument broke."""
    plan = _executed_plan(QUERIES["p09_decontamination"](spark, sf_small))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_p09_invariants(spark, sf_small):
    rows = QUERIES["p09_decontamination"](spark, sf_small).collect()
    assert rows, "fixture should surface contaminated docs"
    for r in rows:
        assert r["doc_id"] % P09_EVAL_MOD != 0, "eval docs never flagged"
        assert 1 <= r["n_contaminated"] <= r["n_doc_grams"]


def test_p10_plan_is_broadcast_single_corpus_shuffle(spark, sf_small):
    """p09's 100 TB plan arguments must carry over at width 8: eval
    grams and the donor-span injection both broadcast, no SortMergeJoin
    anywhere (the corpus shuffles exactly once, at groupBy(doc_id))."""
    plan = _executed_plan(
        QUERIES["p10_decontamination_sparse"](spark, sf_small)
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_p10_regime_is_sparse(spark, sf_small):
    """p10's regime: nonzero but <10% of train docs flagged — the
    selective production shape, not the near-total one width 3 gives
    on Zipf text."""
    flagged = QUERIES["p10_decontamination_sparse"](spark, sf_small).count()
    n_train = (
        table(spark, sf_small, "documents")
        .filter(F.col("doc_id") % P09_EVAL_MOD != 0)
        .count()
    )
    assert flagged > 0
    assert flagged / n_train < 0.10, (flagged, n_train)


def test_p10_finds_every_planted_collision(spark, sf_small):
    """Completeness: every injected train doc whose donor span is a
    full 8-gram must be flagged (the planted span IS an eval 8-gram),
    and eval docs are never flagged."""
    rows = {
        r["doc_id"]: r
        for r in QUERIES["p10_decontamination_sparse"](
            spark, sf_small
        ).collect()
    }
    corpus = p10_injected_corpus(spark, sf_small)
    injected = [
        r["doc_id"]
        for r in corpus.filter(
            (F.col("doc_id") % P10_INJ_MOD == P10_INJ_RESIDUE)
            & (F.col("doc_id") % P09_EVAL_MOD != 0)
            # donor span appended AND forms a full 8-gram
            & (F.size(F.split("text", " ")) >= P10_NGRAM)
        ).collect()
    ]
    assert injected, "fixture must plant collisions"
    for doc_id in injected:
        assert doc_id in rows, f"planted doc {doc_id} not flagged"
        r = rows[doc_id]
        assert 1 <= r["n_contaminated"] <= r["n_doc_grams"]
    for doc_id in rows:
        assert doc_id % P09_EVAL_MOD != 0, "eval docs never flagged"


def test_p10_corpus_derivation_only_touches_injected_docs(spark, sf_small):
    """The derived corpus differs from the raw fixture EXACTLY on the
    doc_id % 19 == 3 stripe (everything else byte-identical), so the
    sparse regime is attributable to the planted spans alone."""
    raw = table(spark, sf_small, "documents").select("doc_id", "text")
    derived = p10_injected_corpus(spark, sf_small)
    diff = (
        raw.alias("a")
        .join(derived.alias("b"), "doc_id")
        .filter(F.col("a.text") != F.col("b.text"))
        .select("doc_id", F.col("a.text").alias("orig"), F.col("b.text").alias("inj"))
        .collect()
    )
    assert diff, "injection must change some docs"
    for r in diff:
        assert r["doc_id"] % P10_INJ_MOD == P10_INJ_RESIDUE
        assert r["inj"].startswith(r["orig"] + " ")


# ---------------------------------------------------------------------------
# p11 — DSIR importance scoring
# ---------------------------------------------------------------------------


def test_p11_dim_matches_t24():
    """p11 shares t24's feature hashing — pin the bucket-table width
    so the two can never silently diverge."""
    from omop_dump_to_parquet_spark.operators.pipeline import P11_DIM
    from omop_dump_to_parquet_spark.operators.text import T24_DIM

    assert P11_DIM == T24_DIM


def test_p11_plan_shape(spark, sf_small):
    """No sort-merge join anywhere: the weight row reaches the scoring
    scan via a broadcast nested-loop (1-row side), and the only
    exchanges are the two 256-key distribution folds."""
    plan = _executed_plan(QUERIES["p11_dsir_importance"](spark, sf_small))
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_p11_target_affinity_mechanism(spark):
    """The score must rank target-like docs above off-target docs: a
    target distribution dominated by token 'aa' gives an 'aa aa aa'
    train doc a higher score than a 'zz zz zz' one (both all-repeat, so
    n_feats ties — only the distribution term differs)."""
    from omop_dump_to_parquet_spark.operators.pipeline import dsir_scores

    train = spark.createDataFrame(
        [(1, "aa aa aa"), (2, "zz zz zz")], "doc_id long, text string"
    )
    ev = spark.createDataFrame(
        [(0, "aa aa aa aa aa aa")], "doc_id long, text string"
    )
    got = {r.doc_id: r.score_nanos for r in dsir_scores(train, ev).collect()}
    assert got[1] > got[2]


def test_p11_kernel_buckets_equal_expression_buckets(spark, sf_small):
    """p11's row-kernel bucketing must be value-identical to the
    Catalyst expression twin t24 uses (first 15 md5 hex chars == top
    60 bits of the digest) — pinned feature-by-feature so the two can
    never silently diverge."""
    from omop_dump_to_parquet_spark.operators.pipeline import (
        P11_DIM,
        _dsir_buckets,
    )
    from omop_dump_to_parquet_spark.operators.text import (
        md5_bucket,
        tokens,
        uni_bigram_feats,
    )

    docs = table(spark, sf_small, "documents").limit(50)
    expr = {
        r.doc_id: r.buckets
        for r in docs.select(
            "doc_id",
            F.transform(
                uni_bigram_feats(tokens("text")),
                lambda w: md5_bucket(w, P11_DIM).cast("int"),
            ).alias("buckets"),
        ).collect()
    }
    got = {
        r.doc_id: _dsir_buckets(r.text)[0][0]
        for r in docs.select("doc_id", "text").collect()
    }
    assert got == expr

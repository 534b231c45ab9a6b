"""Physical-plan regression tests — the scale contract.

Correct results are necessary but not sufficient: these assert the
*plan shapes* that survive a 100× scale-up — filters and projections
reaching the parquet scan, dimension joins broadcasting, top-k
avoiding a global sort, semi-joins staying semi. If a refactor
silently turns a broadcast into a cartesian or drops a pushdown,
these fail before any benchmark does.
"""

from __future__ import annotations

import re

import pytest

from omop_dump_to_parquet_spark import load_catalog

QUERIES, _ = load_catalog()


def formatted_plan(spark, name, sf_dir) -> str:
    return explained(QUERIES[name](spark, sf_dir))


def explained(df) -> str:
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def test_filter_and_projection_pushdown(spark, sf_small):
    plan = formatted_plan(spark, "q02_filter_project", sf_small)
    pushed = next(l for l in plan.splitlines() if "PushedFilters" in l)
    assert "GreaterThan(l_quantity,45.0)" in pushed
    assert "l_shipdate" in pushed
    schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    # column pruning: only the 6 referenced columns, not all 11
    assert "l_returnflag" not in schema and "l_tax" not in schema


def test_star_join_broadcasts_dimensions(spark, sf_small):
    plan = formatted_plan(spark, "q07_star_broadcast", sf_small)
    joins = set(re.findall(r"BroadcastHashJoin|SortMergeJoin|CartesianProduct", plan))
    assert "CartesianProduct" not in joins
    assert "BroadcastHashJoin" in joins


def test_topk_avoids_global_sort(spark, sf_small):
    plan = formatted_plan(spark, "q13_topk", sf_small)
    assert "TakeOrderedAndProject" in plan


def test_semi_and_anti_stay_semi(spark, sf_small):
    semi = formatted_plan(spark, "q05_join_semi", sf_small)
    anti = formatted_plan(spark, "q06_join_anti", sf_small)
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti


def test_aggregation_is_partial(spark, sf_small):
    """Map-side partial aggregation before the shuffle (two
    HashAggregate nodes around one Exchange)."""
    plan = formatted_plan(spark, "q01_pricing_summary", sf_small)
    # count detail headers only — the formatted output prints every
    # node twice (tree + "(n) Node" block), so a raw substring count
    # is satisfied by HALF the claimed nodes (r10 test review)
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) >= 2
    assert "Exchange" in plan



@pytest.mark.parametrize(
    "name, widens",
    [("q01_pricing_summary", False), ("q03_join_inner", False), ("q07_star_broadcast", True)],
)
def test_relational_scan_widening(spark, sf_small, name, widens):
    """q01 and q03 aggregate in the scan's own tasks: no round-robin
    exchange widens their one-split fixture scan. q07 keeps
    ``widen_scan``, because its broadcast probe chain runs inside the
    scan stage: at sf0.1 on ``local[4]`` it was 7–9% slower without
    the widening (median of 10 alternating reps, two runs)."""
    df = QUERIES[name](spark, sf_small)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert ("RoundRobinPartitioning" in plan) == widens, plan


@pytest.mark.parametrize(
    "name",
    [
        "s01_knn_bruteforce",
        "s02_ann_lsh",
        "s05_ann_ivf",
        "s08_range_search",
        "s11_maxsim_late_interaction",
        "s12_rrf_hybrid_search",
        "s13_mmr_diversified",
    ],
)
def test_probe_scoring_broadcasts_probes(spark, sf_small, name, monkeypatch):
    """Every id that scores probes through ``similarity.exact_topk``
    broadcasts the probe set onto the corpus (never a cartesian) and
    scores it JVM-side. The helper's own result is checked as well as
    the id's plan: s13 ranks its shortlist behind a checkpoint."""
    from omop_dump_to_parquet_spark.operators import similarity as S

    ranked = []
    exact_topk = S.exact_topk

    def spy(*args, **kwargs):
        ranked.append(exact_topk(*args, **kwargs))
        return ranked[-1]

    monkeypatch.setattr(S, "exact_topk", spy)
    plan = formatted_plan(spark, name, sf_small)
    assert len(ranked) == 1, name
    scoring = explained(ranked[0])
    assert "BroadcastNestedLoopJoin" in scoring or "BroadcastHashJoin" in scoring
    for p in (plan, scoring):
        assert "CartesianProduct" not in p
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_s03_casts_each_embedding_once(spark, sf_small):
    """s03 projects the ``array<double>`` cast before the norm, so the
    optimized plan casts each embedding once, not once per argument of
    the norm's dot product."""
    df = QUERIES["s03_vector_stats"](spark, sf_small)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("transform(embedding") == 1, plan


@pytest.mark.parametrize(
    "name", ["q02_filter_project", "q01_pricing_summary"]
)
def test_no_python_udfs_in_relational_plans(spark, sf_small, name):
    """Hot-path relational queries must stay JVM-side end to end."""
    plan = formatted_plan(spark, name, sf_small)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_q25_filters_push_to_all_three_scans(spark, sf_small):
    """TPC-H Q3 shape: each table's selective filter must reach its own
    parquet scan, and the final top-10 must not sort globally."""
    plan = formatted_plan(spark, "q25_shipping_priority", sf_small)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    blob = "\n".join(pushed)
    assert "c_mktsegment" in blob
    assert "o_orderdate" in blob
    assert "l_shipdate" in blob
    assert "TakeOrderedAndProject" in plan


def test_salted_join_spreads_keys_without_udfs(spark, sf_small):
    plan = formatted_plan(spark, "q28_salted_join", sf_small)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Generate" in plan  # the salt-explode on the replicated side


def test_lateral_explode_is_codegen_generate(spark, sf_small):
    plan = formatted_plan(spark, "q29_lateral_explode", sf_small)
    assert "Generate" in plan
    assert "BatchEvalPython" not in plan
    assert "Exchange" not in plan  # pure map-side fan-out, no shuffle


def test_q30_six_way_join_broadcasts_dims_no_cartesian(spark, sf_small):
    plan = formatted_plan(spark, "q30_local_supplier_volume", sf_small)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    pushed = "\n".join(l for l in plan.splitlines() if "PushedFilters" in l)
    assert "r_name" in pushed  # region filter reaches its scan
    assert "o_orderdate" in pushed  # date range reaches the orders scan


def test_s04_gemm_is_distributed_cogroup(spark, sf_small):
    """S04's corpus must never be collected to the driver: the plan is
    two broadcast joins of the embeddings scan against the constant
    block-pair table feeding a cogrouped Arrow GEMM. A driver-collect
    regression would show a LocalTableScan in place of the second
    parquet scan."""
    plan = formatted_plan(spark, "s04_dedup_embedding", sf_small)
    assert "FlatMapCoGroupsInArrow" in plan
    assert plan.count("Scan parquet") >= 2  # both GEMM sides read distributed
    assert "LocalTableScan" not in plan


def test_s06_corpus_stays_on_executors(spark, sf_small):
    """S06 broadcasts only the N_QUERIES probe vectors; the corpus side
    is a parquet scan into mapInArrow — no driver round-trip."""
    plan = formatted_plan(spark, "s06_ann_int8", sf_small)
    assert "MapInArrow" in plan
    assert "Scan parquet" in plan
    assert "LocalTableScan" not in plan


STREAMING_QUERIES = {
    "st01_stream_tumbling",
    "st03_stateful_running_agg",
    "st04_stream_dedup",
    "st05_stream_stream_join",
    # st06/st07 run a real readStream replay; their "plan" would be the
    # memory-sink/lake scan, not the streaming job — nothing to
    # smell-check.
    "st06_stream_static_enrich",
    "st07_stream_foreachbatch_upsert",
    "st08_stream_stream_left_outer",
    "st09_stream_session_window",
}


@pytest.mark.parametrize(
    "name", sorted(n for n in QUERIES if n not in STREAMING_QUERIES)
)
def test_no_plan_smells_catalogwide(spark, sf_small, name):
    """Every batch query in the catalog: no cartesian product, no
    row-at-a-time Python (BatchEvalPython). Arrow-batched mapInArrow
    stages are the sanctioned Python path."""
    plan = formatted_plan(spark, name, sf_small)
    assert "CartesianProduct" not in plan, name
    assert "BatchEvalPython" not in plan, name


def test_d04_cap_machinery_has_no_window(spark, sf_small):
    """The hot-bucket cap is a partial-agg count whose capped buckets
    leave through a broadcast anti-join — never a COUNT WINDOW, which
    would sort every partition of the banded table (the largest
    intermediate in the query). And the band self-join's condition is
    plain comparisons: a lambda or higher-order function there is
    interpreted per raw band collision and keeps the join out of
    whole-stage codegen."""
    from omop_dump_to_parquet_spark.operators.dedup import (
        d04_candidate_pairs,
    )
    from omop_dump_to_parquet_spark.sources.parquet import table

    docs = table(spark, sf_small, "documents")
    plan = (
        d04_candidate_pairs(docs)
        ._jdf.queryExecution()
        .explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    )
    assert not re.search(r"\(\d+\) Window", plan), plan
    # formatted mode details each node in a block headed "(N) Name"
    joins = [
        n.splitlines()
        for n in re.split(r"\n(?=\(\d+\) )", plan)
        if "Join type:" in n
    ]
    anti = [n[0] for n in joins if "Join type: LeftAnti" in n]
    assert anti and all(h.endswith(" BroadcastHashJoin") for h in anti), plan
    conds = [l for n in joins if "Join type: Inner" in n for l in n]
    conds = [l for l in conds if l.startswith("Join condition")]
    assert conds, plan
    for cond in conds:
        assert "lambdafunction" not in cond and "exists(" not in cond, cond


def test_q35_not_exists_decorrelates_to_anti_join(spark, sf_small):
    """The correlated NOT EXISTS must plan as ONE anti join
    (RewritePredicateSubquery), never a per-row subquery."""
    plan = formatted_plan(spark, "q35_not_exists_decorrelated", sf_small)
    assert "LeftAnti" in plan, plan
    # no residual subquery machinery in the physical plan
    assert "Subquery" not in plan, plan


def test_p01_pipeline_is_one_scan_two_shuffles(spark, sf_small):
    """The composed manifest pipeline must plan as ONE corpus scan
    (pruned to doc_id+text) and exactly two shuffles (dedup window,
    shard window), with WindowGroupLimit pushing the keep-first rank
    below the dedup exchange — the fusion a stage-per-script pipeline
    can't get."""
    plan = formatted_plan(spark, "p01_training_manifest", sf_small)
    # count physical nodes via their numbered detail headers (the tree
    # section repeats each node name)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2, plan
    assert "WindowGroupLimit" in plan
    schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "lang" not in schema and "source" not in schema


def test_runtime_bloom_filter_injects_at_scale_thresholds(spark, sf_small):
    """Catalyst's InjectRuntimeFilter (on by default in Spark 4) adds a
    bloom-filter semi-join reduction to the big side of a shuffle join
    whose other side is selective — at 100 TB this prunes the fact scan
    before the shuffle. Its size gates (10 GB application-side scan)
    never trip on KB fixtures, so this pins the behavior with the
    thresholds lowered on a cloned session: the mechanism the engine
    relies on at scale, verified to engage."""
    from pyspark.sql import functions as F

    from omop_dump_to_parquet_spark.session import apply_runtime_confs

    clone = spark.newSession()
    apply_runtime_confs(clone)
    clone.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "0",
    )
    clone.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB"
    )
    # AQE folds the tiny join to broadcast before the filter matters;
    # disable broadcast so the shuffle-join path (the 100 TB shape) is
    # what gets planned.
    clone.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    orders = clone.read.parquet(f"{sf_small}/orders.parquet").filter(
        F.col("o_totalprice") > 450000
    )
    lineitem = clone.read.parquet(f"{sf_small}/lineitem.parquet")
    j = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .count()
    )
    mode = clone._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = j._jdf.queryExecution().explainString(mode)
    assert "might_contain" in plan, plan[:2000]


def test_q38_nullsafe_join_hashes_not_nested_loop(spark, sf_small):
    """EqualNullSafe must plan as a HASH join key (Catalyst rewrites
    `a <=> b` to hashable (coalesce, isnull) tuples) — a planner that
    demotes it to BroadcastNestedLoopJoin turns the dimension lookup
    into an O(n·m) scan at scale."""
    plan = formatted_plan(spark, "q38_nullsafe_join", sf_small)
    assert "HashJoin" in plan, plan
    assert "NestedLoop" not in plan, plan


def test_w13_gaps_and_islands_single_shuffle(spark, sf_small):
    """Change-point formulation: lag + running-sum share ONE window
    sort on user_id, and both downstream groupBys reuse that
    partitioning (their keys are supersets of user_id) — the whole
    query is exactly one Exchange. The textbook two-row_number
    difference trick would shuffle the fact table twice."""
    plan = formatted_plan(spark, "w13_gaps_and_islands", sf_small)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Sort\b", plan)) == 1, plan


def test_t13_fact_side_never_shuffles(spark, sf_small):
    """The exploded token stream (the 100 TB side) must meet the vocab
    via BroadcastHashJoin only; every Exchange in the plan belongs to
    the vocab build or the final per-doc aggregate — none may sit
    between the fact scan's explode and the join."""
    plan = formatted_plan(spark, "t13_unigram_logprob", sf_small)
    # fact stream: the explode Generate feeds the broadcast join
    # DIRECTLY (no Exchange between them)
    assert re.search(
        r"BroadcastHashJoin Inner BuildRight \(\d+\)\s*\n\s*:- Generate",
        plan,
    ), plan
    # the only nested-loop is the 1-row scalar-total fold on the vocab
    # (build) side, never on the fact side
    assert "BroadcastNestedLoopJoin Cross" in plan
    # vocab-count exchange (appears twice pre-AQE; runtime
    # ReuseExchange dedups it — asserted loosely here), scalar-total
    # SinglePartition, final doc_id aggregate: nothing else.
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 4, plan


def test_w14_ohlc_single_shuffle(spark, sf_small):
    """Both row_number passes and the final OHLC aggregate cluster on
    (user_id, bucket): one Exchange, two Sorts (asc + desc re-sort,
    no re-shuffle). Requires `bucket` to be projected as an attribute
    BEFORE the window specs — partitioning on the raw date_trunc
    expression forfeits the reuse."""
    plan = formatted_plan(spark, "w14_ohlc_downsample", sf_small)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Sort\b", plan)) == 2, plan


def test_tfidf_broadcasts_vocab_and_limits_topk(spark, sf_small):
    """t14: the exploded corpus must cross ONE BroadcastHashJoin (the
    vocabulary/idf side), and the per-doc top-k must plan a partial
    WindowGroupLimit below the doc_id exchange."""
    plan = formatted_plan(spark, "t14_tfidf_keywords", sf_small)
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_domain_mixture_scans_corpus_once(spark, sf_small):
    """t15: normalization constants must NOT re-plan the corpus scan
    (one FileScan; windows over the tiny aggregate instead)."""
    plan = formatted_plan(spark, "t15_domain_mixture", sf_small)
    # formatted mode prints each node once in the tree and once in the
    # detail list — count distinct numbered scan nodes.
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1


def test_semdedup_joins_on_bucket(spark, sf_small):
    """d10: the self-join must be keyed on the bucket column (hash
    partitioning on bucket), never a cartesian."""
    plan = formatted_plan(spark, "d10_semdedup", sf_small)
    assert "CartesianProduct" not in plan
    assert "bucket" in plan


def test_cohort_retention_single_window_shuffle(spark, sf_small):
    """w16: first-event derivation is a window over user_id — no
    groupBy+join round trip (no join operator at all)."""
    plan = formatted_plan(spark, "w16_cohort_retention", sf_small)
    assert "Join" not in plan
    assert "Window" in plan


def test_unpivot_plans_expand(spark, sf_small):
    plan = formatted_plan(spark, "q40_unpivot", sf_small)
    assert "Expand" in plan


def test_incremental_dedup_stays_anti(spark, sf_small):
    """p02: the lake-digest check must plan as a LeftAnti join (never
    a full join + filter), on the digest key."""
    plan = formatted_plan(spark, "p02_incremental_ingest_dedup", sf_small)
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_sketch_rollup_two_level_aggregate(spark, sf_small):
    """q41: daily sketches then weekly merge — two aggregate levels,
    each with map-side partials around its exchange."""
    plan = formatted_plan(spark, "q41_sketch_rollup_merge", sf_small)
    # detail-header counts (see test_aggregation_is_partial): two
    # LEVELS = four nodes; the raw substring count doubled and would
    # pass with a single regressed level (r10 test review)
    n_agg = len(
        re.findall(r"\(\d+\) (?:Object)?HashAggregate", plan)
    )
    assert n_agg >= 4, n_agg
    assert "Exchange" in plan


def test_contrastive_pairs_single_fact_join(spark, sf_small):
    """m06: the scalar corpus-size folds in via broadcast; pair
    resolution is hash joins on ids — no cartesian anywhere."""
    plan = formatted_plan(spark, "m06_contrastive_pairs", sf_small)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_q03_preaggregates_before_join(spark, sf_small):
    """q03's manual partial-aggregation pushdown: the lineitem side
    must aggregate to per-orderkey rows BEFORE the join (Catalyst
    won't derive this), and no Expand (no COUNT DISTINCT) may remain."""
    plan = formatted_plan(spark, "q03_join_inner", sf_small)
    assert "Expand" not in plan
    # search the TREE section only: the numbered detail blocks repeat
    # every node AFTER the tree, so an unsliced position search always
    # finds the post-join aggregate's detail header and the assert is
    # vacuous (r10 test review — same fix q42's test already carried)
    tree = plan[: plan.find("(1)")]
    join_pos = min(
        (tree.find(t) for t in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin") if tree.find(t) != -1),
        default=-1,
    )
    assert join_pos != -1
    # the tree prints parents first, so a HashAggregate at a LARGER
    # offset than the join is a child of it — the pre-join
    # per-orderkey aggregation. (The post-join priority agg sits above
    # the join and does not satisfy this search.)
    assert tree.find("HashAggregate", join_pos) != -1


def test_rolling_distinct_preaggregates_days(spark, sf_small):
    """q42: the event stream must collapse to (day, user) DISTINCT
    pairs before the 7-bucket fan-out (one Generate above the
    day-level aggregate, never above the raw scan), and the bucket
    restriction must stay a semi join."""
    plan = formatted_plan(spark, "q42_rolling_distinct", sf_small)
    assert "LeftSemi" in plan
    # search the TREE section only — the numbered detail blocks that
    # follow repeat every node name and would make a position-based
    # assert vacuous
    tree = plan[: plan.find("(1)")]
    gen = tree.find("Generate")
    assert gen != -1
    # at least one aggregate BELOW the generate (tree prints parents
    # first, so deeper nodes appear later)
    assert tree.find("HashAggregate", gen) != -1


def test_corpus_profile_is_one_scan(spark, sf_small):
    plan = formatted_plan(spark, "t16_corpus_profile", sf_small)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1


def test_variant_extraction_stays_jvm_side(spark, sf_small):
    plan = formatted_plan(spark, "q43_variant_json", sf_small)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # partial + final (detail headers, not the doubled raw count)
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) >= 2


def test_ewma_single_shuffle(spark, sf_small):
    """w17: one exchange (the user_id groupBy) — the fold itself is a
    map-side expression over the collected array."""
    plan = formatted_plan(spark, "w17_ewma", sf_small)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_verbatim_overlap_index_is_compact(spark, sf_small):
    """d11: the self-join keys on the 64-bit gram hash (gh), not gram
    text — the posting list that shuffles is two longs per row."""
    plan = formatted_plan(spark, "d11_verbatim_overlap", sf_small)
    # a real column reference to the hashed key (gh#<id>L), not the
    # accidental "gh" substring inside BuildRight/Right keys
    assert re.search(r"\bgh#\d+L", plan), plan
    assert "CartesianProduct" not in plan



def test_q54_plans_null_aware_anti_join(spark, sf_small):
    """q54's NOT IN over a nullable key must plan Spark's dedicated
    NAAJ path — BroadcastHashJoin LeftAnti with isNullAwareAntiJoin
    set (the simple-string form renders the flag as a trailing
    `true` on the join line) — not a nested-loop fallback, and the
    result must drop NULL-key rows (3VL) while a plain anti join
    keeps them."""
    # the isNullAwareAntiJoin flag renders only in the SIMPLE explain
    # form (trailing `true` on the join line); formatted mode's node
    # detail omits it entirely
    df = QUERIES["q54_not_in_null_aware"](spark, sf_small)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "simple"
    )
    plan = df._jdf.queryExecution().explainString(mode)
    join_lines = [
        l for l in plan.splitlines()
        if "BroadcastHashJoin" in l and "LeftAnti" in l
        and l.rstrip().endswith("true")  # the isNullAwareAntiJoin flag
    ]
    assert join_lines, f"no NULL-AWARE broadcast anti join in plan:\n{plan}"
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # semantic 3VL check: no NULL uid group in the output (the
    # subquery is non-empty at every fixture scale by construction)
    rows = QUERIES["q54_not_in_null_aware"](spark, sf_small).collect()
    assert rows, "q54 is vacuous at this scale"
    assert all(r["uid"] is not None for r in rows)


def test_t21_chunking_is_shuffle_free(spark, sf_small):
    """t21's 100 TB claim is 'chunking parallelism == scan
    parallelism': the whole plan must be scan → project/generate with
    NO Exchange, and only doc_id/text read from the parquet scan."""
    plan = formatted_plan(spark, "t21_context_chunking", sf_small)
    assert "Exchange" not in plan
    assert "Generate" in plan  # the explode(sequence(...)) fan-out
    schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "text" in schema and "lang" not in schema and "source" not in schema


# ---------------------------------------------------------------------------
# widen_scan, the zero-shuffle predicate and the forcing recipe
# ---------------------------------------------------------------------------


def test_new_shuffle_predicate_rejects_a_real_shuffle(spark):
    """The zero-shuffle certificate (strip BroadcastExchange, then no
    Exchange remains) must FAIL on a plan that genuinely shuffles, of
    every partitioning kind; the class name "ShuffleExchange" never
    appears in an executed-plan string, so testing for it proves
    nothing."""
    from pyspark.sql import functions as F

    df = spark.range(100).select(
        (F.col("id") % 7).alias("k"), F.col("id").alias("v")
    )
    shuffled = df.groupBy("k").agg(F.sum("v").alias("s"))
    plan = shuffled._jdf.queryExecution().executedPlan().toString()
    assert "ShuffleExchange" not in plan  # the dead token: vacuously true
    assert "Exchange" in plan.replace("BroadcastExchange", "")  # real check fires

    rr = df.repartition(4)  # roundrobinpartitioning
    plan_rr = rr._jdf.queryExecution().executedPlan().toString()
    assert "ShuffleExchange" not in plan_rr
    assert "Exchange" in plan_rr.replace("BroadcastExchange", "")


def test_widen_scan_is_noop_when_wide_enough(spark, sf_small):
    """widen_scan must be a structural no-op once the input has at
    least the session's shuffle width in splits — the production case
    (file count ≫ cores)."""
    from omop_dump_to_parquet_spark.operators.dedup import widen_scan
    from omop_dump_to_parquet_spark.session import get_shuffle_partitions
    from omop_dump_to_parquet_spark.sources.parquet import table

    n = get_shuffle_partitions(spark)
    docs = table(spark, sf_small, "documents").repartition(n + 2)
    assert widen_scan(docs) is docs


def test_widen_scan_still_widens_narrow_batch_scans(spark, sf_small):
    """A single-file fixture scan round-robins up to the session
    shuffle width."""
    from omop_dump_to_parquet_spark.operators.dedup import widen_scan
    from omop_dump_to_parquet_spark.sources.parquet import table

    docs = table(spark, sf_small, "documents")
    n_before = docs.rdd.getNumPartitions()
    widened = widen_scan(docs)
    n_session = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if n_before >= n_session:
        assert widened is docs
    else:
        assert widened.rdd.getNumPartitions() == n_session


def test_widen_scan_passes_streams_through(spark, tmp_path):
    """widen_scan(stream) must return the stream unchanged instead of
    raising on `.rdd` (AnalysisException 'Queries with streaming
    sources must be executed with writeStream.start()')."""
    from pyspark.sql import functions as F

    from omop_dump_to_parquet_spark.operators.dedup import widen_scan

    src = str(tmp_path / "stream_src")
    spark.range(10).select(
        F.col("id").alias("doc_id"), F.lit("x y z").alias("text")
    ).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    out = widen_scan(stream)
    assert out.isStreaming
    assert out is stream  # unchanged, no extra plan nodes


def test_forced_count_handles_nested_maps(spark):
    """F.hash raises on maps ANYWHERE in the type tree; forced_count
    must route transitively-map-bearing columns through to_json. A
    top-level-only MapType check would raise AnalysisException on
    every one of these shapes."""
    from pyspark.sql import functions as F

    from omop_dump_to_parquet_spark.force import forced_count

    df = spark.range(3).select(
        "id",
        F.create_map(F.lit("k"), F.col("id")).alias("top_map"),
        F.struct(F.create_map(F.lit("k"), F.col("id")).alias("m")).alias(
            "struct_map"
        ),
        F.array(F.create_map(F.lit("k"), F.col("id"))).alias("arr_map"),
        F.create_map(
            F.lit("outer"), F.create_map(F.lit("inner"), F.col("id"))
        ).alias("map_map"),
    )
    assert forced_count(df) == 3


def test_contains_map_type_walk():
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        MapType,
        StringType,
        StructField,
        StructType,
    )

    from omop_dump_to_parquet_spark.force import contains_map

    assert not contains_map(LongType())
    assert not contains_map(ArrayType(StringType()))
    assert contains_map(MapType(StringType(), LongType()))
    assert contains_map(ArrayType(MapType(StringType(), LongType())))
    assert contains_map(
        StructType(
            [
                StructField("a", LongType()),
                StructField(
                    "b", ArrayType(MapType(StringType(), LongType()))
                ),
            ]
        )
    )
    assert not contains_map(
        StructType([StructField("a", ArrayType(StringType()))])
    )

#!/usr/bin/env python
"""Headline benchmark: runs the catalog's representative queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Usage: python bench.py [--queries q01_pricing_summary,...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from omop_dump_to_parquet_spark import load_catalog  # noqa: E402
from omop_dump_to_parquet_spark.session import (  # noqa: E402
    codegen_compilations,
    get_spark,
)

HEADLINE = [
    "q01_pricing_summary",  # scan + 8-agg groupBy
    "q03_join_inner",  # fact-fact shuffle join
    "q07_star_broadcast",  # 5-way star join, broadcast dims
    "q13_topk",  # TakeOrderedAndProject
    "q25_shipping_priority",  # TPC-H Q3 shape: filters→3-way join→agg→top-k
    "q30_local_supplier_volume",  # TPC-H Q5 shape: 6-way join + region filter
    "w02_window_running",  # window frame over full fact table
    "w04_sessionization",  # layered windows + two-level agg
    "w05_asof_join",  # as-of via union-and-carry-forward
    "d02_dedup_hash_keep_first",  # content-hash dedup
    "d04_dedup_minhash_lsh",  # MinHash+LSH near-dedup
    "s01_knn_bruteforce",  # embedding cosine top-k
    "s06_ann_int8",  # SQ8-quantized GEMM top-k
    "t02_quality_score",  # map-side text profiling
    "q29_lateral_explode",  # generator fan-out (one row per token)
    "m02_decode_features",  # Arrow mapInPandas decode path
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = HEADLINE
    subset = False
    if len(sys.argv) > 1:
        # strict CLI (r10 review): a typo'd flag or missing value used
        # to silently fall through to the FULL multi-minute suite
        if sys.argv[1] != "--queries" or len(sys.argv) != 3:
            sys.exit("usage: bench.py [--queries name1,name2,...]")
        names = sys.argv[2].split(",")
        subset = True

    queries, _ = load_catalog()
    unknown = [n for n in names if n not in queries]
    if unknown:
        sys.exit(f"unknown queries: {', '.join(unknown)} "
                 f"(available: {', '.join(sorted(queries))})")
    spark = get_spark("bench")

    # Warm the JVM/session so q1 doesn't pay one-time costs that are
    # not the query's: codegen compiler, parquet reader classes,
    # shuffle machinery. A tiny read+agg touches all three.
    spark.range(1000).count()
    warm = spark.read.parquet(f"{sf_dir}/region.parquet")
    warm.groupBy("r_name").count().collect()
    # ... and the Python-worker pool, so Arrow-UDF queries don't pay
    # daemon spawn + import time inside their measurement. The warm
    # batch mirrors the GEMM kernels' shape (array<double> column,
    # NumPy stacked inside the worker) so their first measured batch
    # doesn't pay the numpy import either.
    def _warm_gemm(batches):
        import numpy as _np

        for pdf in batches:
            _np.stack(pdf["emb"].to_numpy())
            yield pdf[["id"]]

    from pyspark.sql import functions as F

    (
        spark.range(64)
        .select("id", F.array(*[F.lit(float(i)) for i in range(64)]).alias("emb"))
        .mapInPandas(_warm_gemm, schema="id long")
        .count()
    )

    # Classes each rep compiled (codegen-cache misses), per id: the
    # first rep compiles the id's classes, a warm rep should compile 0.
    compiles: dict[str, list[int]] = {}

    def run_once(name: str) -> tuple[float, int]:
        fn = queries[name]
        c0 = codegen_compilations(spark)
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        # Evaluate EVERY output column, not just the row count — a
        # bare count() lets Catalyst prune computed columns (a window
        # aggregate that doesn't change cardinality would never run).
        # Shared recipe (force.forced_count): hash(*) over all
        # columns, maps — nested or top-level — via to_json.
        from omop_dump_to_parquet_spark.force import forced_count

        n = forced_count(df)
        elapsed = time.perf_counter() - t0
        compiles.setdefault(name, []).append(codegen_compilations(spark) - c0)
        return elapsed, n

    # A single-shot timing on a shared box is load noise, not a plan
    # measurement (observed 6x swings: 15.6s idle vs 91s under
    # concurrent load for the same binary). Run each query REPS times
    # and report the per-query MEDIAN of 3 (r7, verdict ask #6): the
    # median is robust to one contended rep without being flattered
    # by one lucky one — the r1-r6 min-of-2 stat couldn't distinguish
    # "plan got faster" from "one rep got lucky", which is how d04
    # carried two contradictory numbers at the same commit. Raw
    # per-rep lists stay in bench_detail.json so the variance itself
    # is auditable.
    # Default 5 reps since r15 (was 3): d04 is BIMODAL on this box
    # (r14 close pair observed per-rep 7.0-38.9s; two same-session
    # measurements read 11.2s idle vs 14.6s right after an 11-minute
    # test suite — BASELINE.md "d04 box-state sensitivity"). A
    # median-of-3 lets ONE slow-mode rep sit adjacent to the median
    # and drag the headline; median-of-5 needs three slow reps to
    # move, which the observed mode frequencies (~1 in 5) make rare.
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "5")))

    def stat(runs: list[float]) -> float:
        import statistics

        return round(statistics.median(runs), 3)

    def gc_quiesce():
        """Force a full JVM GC before each measured rep. The broadcast
        builds (token arrays, probe matrices) leave old-gen garbage
        that the NEXT rep pays for as GC pauses — measured on d04:
        5.6-6.2s steady-state with inter-rep GC vs 8.8-14.3s swings
        without. On a real cluster each executor heap is isolated and
        short-lived garbage never accumulates across queries; forcing
        collection isolates the PLAN's cost from the harness's heap
        history, which is what the benchmark is for.
        """
        spark.sparkContext._jvm.System.gc()

    # Per-query FRESH-JVM isolation (r15 verdict #2). d04 is the one
    # headline query that builds/frees ~100 MB broadcasts (token
    # arrays + probe matrices); by the time it runs 10 queries deep,
    # the shared local[32] JVM's old gen carries the whole suite's
    # garbage and d04's reps pay it as GC pauses — BENCH_r15 caught
    # all five reps in that slow mode (14-27s vs the same HEAD's
    # 6.9-7.4s isolated floor). gc_quiesce() bounds within-run
    # variance but cannot undo a cold heap-history episode, and the
    # plan's F.broadcast exchanges are JVM-managed (no Python-side
    # destroy() handle). So the official artifact measures the PLAN:
    # isolated queries run their reps in a fresh subprocess JVM (own
    # warmup, same run_once forcing recipe) and merge back into the
    # headline. On a real cluster every job gets fresh executor heaps
    # — the isolated number is the one that generalizes. Set
    # SPARK_GRAFT_BENCH_ISOLATE="" to time everything in-process.
    isolate = [
        n
        for n in os.environ.get(
            "SPARK_GRAFT_BENCH_ISOLATE", "d04_dedup_minhash_lsh"
        ).split(",")
        if n and n in names and not subset
    ]

    timings: dict[str, float] = {}
    raw: dict[str, list[float]] = {}
    for name in names:
        if name in isolate:
            continue
        runs = []
        for _ in range(reps):
            gc_quiesce()
            elapsed, n = run_once(name)
            runs.append(round(elapsed, 3))
        raw[name] = runs
        timings[name] = stat(runs)
        print(
            f"# {name}: median {timings[name]:.3f}s of {runs} ({n} rows)",
            file=sys.stderr,
        )

    if isolate:
        import subprocess
        import tempfile as _tf

        for name in isolate:
            child_detail = _tf.NamedTemporaryFile(
                prefix=f"bench_isolated_{name}_", suffix=".json", delete=False
            ).name
            env = dict(os.environ)
            env["SPARK_GRAFT_BENCH_ISOLATE"] = ""  # no recursion
            env["SPARK_GRAFT_BENCH_DETAIL_PATH"] = child_detail
            env.setdefault("SPARK_GRAFT_SF_DIR", sf_dir)
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--queries", name],
                capture_output=True,
                text=True,
                env=env,
            )
            sys.stderr.write(proc.stderr)
            if proc.returncode != 0:
                raise RuntimeError(
                    f"isolated bench for {name} failed (rc="
                    f"{proc.returncode}):\n{proc.stderr[-2000:]}"
                )
            child = json.loads(proc.stdout.strip().splitlines()[-1])
            timings[name] = child["queries"][name]
            try:
                with open(child_detail) as fh:
                    child_out = json.load(fh)
                raw[name] = child_out["raw_timings"][name]
                compiles[name] = child_out["codegen_compiles"][name]
            finally:
                os.unlink(child_detail)
            print(
                f"# {name}: median {timings[name]:.3f}s of {raw[name]} "
                f"(fresh-JVM isolated)",
                file=sys.stderr,
            )
        # restore the headline's canonical ordering after the merge
        timings = {n: timings[n] for n in names}
        raw = {n: raw[n] for n in names}

    # The reference's actual job: ingest → normalize → sized write →
    # read-back verify, on the largest fixture table.
    import shutil
    import tempfile

    from omop_dump_to_parquet_spark.plans import dump_table as run_dump
    from omop_dump_to_parquet_spark.sources.parquet import table

    # Each rep is one Spark job (the write) plus a footer-only verify
    # on the driver; gc_quiesce keeps headline-query garbage out of it.
    runs = []
    for _ in range(reps):
        out_dir = tempfile.mkdtemp(prefix="bench_dump_")
        try:
            gc_quiesce()
            t0 = time.perf_counter()
            result = run_dump(
                spark, table(spark, sf_dir, "lineitem"), f"{out_dir}/lineitem"
            )
            runs.append(round(time.perf_counter() - t0, 3))
            if not result.ok:  # not assert: survives python -O
                raise RuntimeError("dump verification failed")
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)
    raw["pipeline_dump_verify"] = runs
    timings["pipeline_dump_verify"] = stat(runs)
    print(
        f"# pipeline_dump_verify: median "
        f"{timings['pipeline_dump_verify']:.3f}s "
        f"of {runs} ({result.rows_written} rows)",
        file=sys.stderr,
    )

    # Secondary (non-headline) measurements: iterative/alternative
    # paths whose cost we track per-round without perturbing the
    # headline total's round-over-round comparability. Same
    # median-of-reps methodology as the headline (single-shot on a
    # shared box is load noise — observed 5.3s vs 13.9s for the same
    # d06 plan), with the raw per-rep lists persisted so the artifact
    # shows the variance.
    secondary: dict[str, float] = {}
    secondary_raw: dict[str, list[float]] = {}
    # a --queries subset run is a targeted check: skip the secondary
    # suite unless explicitly forced (r10 review)
    if (
        os.environ.get("SPARK_GRAFT_BENCH_SECONDARY", "1") != "0"
        and not subset
    ):
        from omop_dump_to_parquet_spark.operators.dedup import (
            MINHASH_THRESHOLD,
            d04_candidate_pairs,
            verify_jaccard_pairs,
        )
        from omop_dump_to_parquet_spark.operators.graph import LAST_CC_STATS
        from omop_dump_to_parquet_spark.sources.parquet import table as _table

        for sec_name in (
            "d06_dedup_clusters",
            "d07_dedup_shingle_jaccard",
            "d10_semdedup",
            "d14_semdedup_kmeans",
            "d11_verbatim_overlap",
            "t14_tfidf_keywords",
            "s08_range_search",
            "s09_ann_pq",
            "q42_rolling_distinct",
            "w17_ewma",
            "m06_contrastive_pairs",
            "d05_dedup_simhash",
            "g01_pagerank",
            "d12_keep_best_quality",
            "q50_exists_notexists_chain",
            "w18_scd2_intervals",
            # r13 additions: the tokenizer learn→apply pair and the
            # chunker — per-round cost visibility for the new ops
            "t21_context_chunking",
            "t22_bpe_merges",
            "t23_bpe_encode",
            # r14 additions: skew-robust mixture draw, benchmark
            # decontamination (batch + streaming certificate)
            "p08_mixture_skew_draw",
            "p09_decontamination",
            "st11_stream_decontamination",
            # r15 additions: production-width sparse decontamination,
            # model-based quality-classifier inference
            "p10_decontamination_sparse",
            "t24_quality_classifier",
            # r15 second leg: fuzzy decontamination (zero-shuffle
            # broadcast-LSH) and DSIR importance scoring
            "d15_fuzzy_decontamination",
            "p11_dsir_importance",
            # r16 additions: exact-substring dedup output, HTML
            # boilerplate extraction
            "d16_exact_substring_rewrite",
            "t25_html_extract",
        ):
            runs = []
            for _ in range(reps):
                gc_quiesce()
                runs.append(run_once(sec_name))
            secondary_raw[sec_name] = [round(t, 3) for t, _ in runs]
            secondary[sec_name] = stat(secondary_raw[sec_name])
            if sec_name == "d06_dedup_clusters":
                secondary["d06_cc_rounds"] = LAST_CC_STATS.get("rounds", -1)
            print(
                f"# secondary {sec_name}: median {secondary[sec_name]:.3f}s "
                f"of {secondary_raw[sec_name]} ({runs[-1][1]} rows)",
                file=sys.stderr,
            )

        # d04 STAGE ATTRIBUTION (r7, verdict ask #2): the headline
        # number is whole-query; when it moves, these name the stage.
        # candidates = signatures + LSH banding + pair emission
        # (everything upstream of verify), timed to a count;
        # verify_broadcast = the exact-Jaccard verify alone over a
        # pre-materialized candidate set (the broadcast path the
        # headline query runs; the no-broadcast twin is below).
        docs_split = _table(spark, sf_dir, "documents")
        runs_c = []
        for _ in range(reps):
            gc_quiesce()
            t0 = time.perf_counter()
            n_cand = d04_candidate_pairs(docs_split).count()
            runs_c.append(round(time.perf_counter() - t0, 3))
        secondary_raw["d04_candidates"] = runs_c
        secondary["d04_candidates"] = stat(runs_c)
        secondary["d04_n_candidates"] = n_cand
        cands_mat = d04_candidate_pairs(docs_split).localCheckpoint(
            eager=True
        )
        runs_v = []
        for _ in range(reps):
            gc_quiesce()
            t0 = time.perf_counter()
            verify_jaccard_pairs(
                docs_split, cands_mat, MINHASH_THRESHOLD, use_broadcast=True
            ).count()
            runs_v.append(round(time.perf_counter() - t0, 3))
        secondary_raw["d04_verify_broadcast"] = runs_v
        secondary["d04_verify_broadcast"] = stat(runs_v)
        print(
            f"# secondary d04 split: candidates "
            f"{secondary['d04_candidates']}s of {runs_c} "
            f"({n_cand} cands), verify_broadcast "
            f"{secondary['d04_verify_broadcast']}s of {runs_v}",
            file=sys.stderr,
        )

        # The beyond-broadcast verify path — what a real 100 TB corpus
        # runs when the token-array table exceeds broadcast limits.
        # Same candidate set d04 verifies (shared helper), MATERIALIZED
        # before the timer so the measurement isolates the verify
        # stage — a lazy candidate plan would re-run signature + LSH
        # inside the timed region and double-count half of d04.
        runs_nb = []
        for _ in range(reps):
            gc_quiesce()
            t0 = time.perf_counter()
            n_pairs = verify_jaccard_pairs(
                docs_split, cands_mat, MINHASH_THRESHOLD, use_broadcast=False
            ).count()
            runs_nb.append(round(time.perf_counter() - t0, 3))
        secondary_raw["d04_verify_no_broadcast"] = runs_nb
        secondary["d04_verify_no_broadcast"] = stat(runs_nb)
        print(
            f"# secondary d04 use_broadcast=False: median "
            f"{secondary['d04_verify_no_broadcast']}s of {runs_nb} "
            f"({n_pairs} pairs)",
            file=sys.stderr,
        )

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf_dir
    # Full detail (raw per-rep lists, secondary paths) goes to a file:
    # the driver captures only a stdout TAIL, and rounds 1-4 proved a
    # single giant line gets truncated mid-JSON ("parsed": null in
    # every BENCH_r*.json). The LAST stdout line is the compact
    # driver-contract summary and nothing else.
    metric = (
        "catalog_headline_total" if not subset else "catalog_subset_total"
    )
    # a subset run must not masquerade as (or clobber) the committed
    # full-run artifact (r10 review)
    detail = {
        "metric": metric,
        "value": total,
        "unit": "sec",
        "queries": timings,
        "raw_timings": raw,
        "isolated": isolate,
        "reps": reps,
        "secondary": secondary,
        "secondary_raw": secondary_raw,
        "codegen_compiles": compiles,
        "sf": sf_val,
    }
    # An isolated child (or any targeted run) can redirect its detail
    # file so a subset run never clobbers the committed full-run
    # artifact's sibling.
    detail_path = os.environ.get("SPARK_GRAFT_BENCH_DETAIL_PATH") or os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "bench_detail.json" if not subset else "bench_detail_subset.json",
    )
    with open(detail_path, "w") as fh:
        json.dump(detail, fh, indent=1)
    print(f"# full detail -> {detail_path}", file=sys.stderr)
    print(
        json.dumps(
            {
                "metric": metric,
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf_val,
            }
        )
    )


if __name__ == "__main__":
    main()

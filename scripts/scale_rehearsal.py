#!/usr/bin/env python
"""Scale rehearsal: measure wall-time-vs-size exponents.

Runs the five ops the 100 TB arguments lean on hardest — d04 (MinHash
LSH near-dedup), d06 (pair→cluster connected components), g01
(PageRank over the similarity graph), d11 (verbatim overlap), t18
(two-pass heavy hitters) — over the ``.scale/x{1,3,10}`` fixtures
(``gen_scale_fixture.py``; dup-rate-realistic, planted pairs scale
linearly) and fits the per-op scaling exponent

    alpha = slope of log(wall time) vs log(rows)

via least squares over the three points. alpha ≈ 1 means the plan's
cost tracks data size (the claim SCALING.md argues analytically);
alpha ≫ 1 flags a hidden quadratic. Emits SCALE_REHEARSAL.json and a
markdown table for SCALING.md.

Methodology matches bench.py (median-of-3 — min-of-reps let one
lucky rep flip an exponent, the exact failure mode that retired it
for the headline bench) on one warm session, ops run
largest-scale-last so JVM warmup cannot flatter the big runs.
"""
from __future__ import annotations

import json
import math
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

REPS = 3
OPS = (
    "d04_dedup_minhash_lsh",
    "d06_dedup_clusters",
    "g01_pagerank",
    "d11_verbatim_overlap",
    "t18_heavy_hitters",
    # embedding family (x1/x3/x10 = 2k/6k/20k vectors)
    "s05_ann_ivf",
    "d10_semdedup",
    "d08_embedding_dedup_clusters",
    # ids without earlier ×10 rows, plus the PassJoin d13 (part
    # fixture: x1/x3/x10 = 20k/60k/200k rows, Heaps-scaled name
    # vocabulary, linear planted twins — gen_scale_fixture.gen_part)
    "d13_edit_distance_linkage",
    "g03_triangle_count",
    "s13_mmr_diversified",
    "t20_zipf_fit",
    "p05_cdc_merge_apply",
    "m09_bmp_decode_resize",
    "m10_wav_decode_features",
    "m11_png_decode_roundtrip",
    # the s04/d08/d10 GEMM kernels (prefilter + exact sequential-fold
    # refine), s05's NULL-cosine ranking, and t13's DECIMAL-mean
    # scoring were rewritten — s04 and t13 get their own rows so
    # every rewritten kernel has post-rewrite evidence (d08/d10/s05
    # are re-measured by the same run).
    "s04_dedup_embedding",
    "t13_unigram_logprob",
    # the s07 update step (posexplode single decimal agg replacing
    # the 64-column wide agg) — standing rule: a plan change gets
    # fresh ×10 rows alongside its driver pin.
    "s07_kmeans_clusters",
    # standing rule: new plan-bearing code gets ×10 rows alongside
    # its driver pin — d14 k-means SemDeDup, p06/p07 mixture
    # sampling/upsampling.
    "d14_semdedup_kmeans",
    "p06_temperature_mixture_sample",
    "p07_mixture_upsample",
    # t21 chunking (map-side, expansion bounded by
    # max_doc_tokens/stride), t22 BPE learning (one corpus scan +
    # Heaps-vocab-sized iterations), t23 BPE encode (t22's learn +
    # one extra map-side encode scan).
    "t21_context_chunking",
    "t22_bpe_merges",
    "t23_bpe_encode",
    # (standing rule) p08 skew-robust threshold draw, p09
    # decontamination: x1/x3/x10 base rows on the standard fixtures.
    "p08_mixture_skew_draw",
    "p09_decontamination",
    # (standing rule) d16 exact-substring dedup output (gram-index
    # keeper agg is the only corpus shuffle), t25 HTML extraction
    # (zero-shuffle Arrow kernel).
    "d16_exact_substring_rewrite",
    "t25_html_extract",
    # plan-changed ids not already above (standing rule) — g02's
    # LPA loop (SHUFFLE_HASH + struct-min argmax) and s09's PQ path
    # (merged collect + checkpointed input). d06/g01/g03/d08/s07/d14/
    # t22/t23 were changed too and already have rows above.
    "g02_label_propagation",
    "s09_ann_pq",
)
SCALES = (1, 3, 10)

# Relational ids touched by the contract fixes (floor-on-both-
# sides q31, coalesced-empty-input q48): their tables (lineitem,
# events) are not in the .scale embedding fixtures, so they are
# measured as an sf0.1 → rel_x10 step pair on the key-shifted
# replication fixture (gen_relational_scale.py — same workload shape,
# 10× rows), the headline-at-10× methodology.
REL_OPS = ("q31_array_map_funcs", "q48_theta_error_bound")
REL_X1 = "/root/testdata/sf0.1"


def _d13_candidate_counts(spark, sf_dir: str) -> dict:
    """Measured PassJoin candidates vs the analytic candidate counts
    of the two fixed-cardinality blocking schemes on the same data —
    the 'sub-quadratic candidate growth' evidence.
    Banded/brand-only counts are computed from per-block populations
    (Σ C(n,2) + Σ n_i·n_{i+1}), not materialized: at x10 the banded
    scheme's ~10⁸ candidates are exactly what d13 no longer builds."""
    import collections

    from pyspark.sql import functions as F

    from omop_dump_to_parquet_spark.operators import dedup as D

    part = spark.read.parquet(os.path.join(sf_dir, "part.parquet"))
    cand_passjoin = D._passjoin_candidates(
        part, "p_partkey", "p_name", "p_brand"
    ).count()
    pops = (
        part.withColumn(
            "_band", F.floor(F.length("p_name") / F.lit(D.D13_LEN_BAND))
        )
        .groupBy("p_brand", "_band")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    by_brand: dict[str, dict[int, int]] = collections.defaultdict(dict)
    for r in pops:
        by_brand[r["p_brand"]][int(r["_band"])] = int(r["n"])
    banded = brand_only = 0
    for bmap in by_brand.values():
        tot = sum(bmap.values())
        brand_only += tot * (tot - 1) // 2
        for b, n in bmap.items():
            banded += n * (n - 1) // 2 + n * bmap.get(b + 1, 0)
    return {
        "cand_passjoin": cand_passjoin,
        "cand_banded_analytic": banded,
        "cand_brand_only_analytic": brand_only,
    }


def _merged_rel_ops(prior_path: str, rel: dict) -> dict:
    """Overlay this run's rel-op rows onto the prior file's block.

    An op-filtered refresh (e.g. ``scale_rehearsal.py q31_...``)
    measures only the listed rel ops; the unlisted ops' step-pair
    rows must survive from the existing SCALE_REHEARSAL.json instead
    of being erased by the rebuilt block."""
    prior_rel: dict[str, dict] = {}
    if os.path.exists(prior_path):
        with open(prior_path) as fh:
            prior_rel = (
                json.load(fh)
                .get("relational_x10_extension", {})
                .get("ops", {})
            )
    return {**prior_rel, **rel}


def main() -> None:
    from omop_dump_to_parquet_spark import load_catalog
    from omop_dump_to_parquet_spark.force import forced_count
    from omop_dump_to_parquet_spark.operators.graph import LAST_CC_STATS
    from omop_dump_to_parquet_spark.session import get_spark

    # optional op filter: `scale_rehearsal.py d10_semdedup s04_...`
    # re-measures just those ops and merges into the existing JSON
    # (rows for unlisted ops are preserved) — the refresh loop after
    # a kernel fix shouldn't cost a full-fleet run.
    global OPS, REL_OPS
    if len(sys.argv) > 1:
        asked = set(sys.argv[1:])
        unknown = asked - set(OPS) - set(REL_OPS)
        if unknown:
            sys.exit(f"unknown ops: {sorted(unknown)}")
        OPS = tuple(op for op in OPS if op in asked)
        REL_OPS = tuple(op for op in REL_OPS if op in asked)

    root = os.path.join(os.path.dirname(__file__), "..", ".scale")
    queries, _ = load_catalog()
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")

    results: dict[str, dict] = {op: {"scales": {}} for op in OPS}
    for scale in SCALES:  # small → large: warmup cannot flatter x10
        sf_dir = os.path.join(root, f"x{scale}")
        for op in OPS:
            runs, rows, extra = [], None, {}
            for _ in range(REPS):
                spark.sparkContext._jvm.System.gc()
                t0 = time.perf_counter()
                rows = forced_count(queries[op](spark, sf_dir))
                runs.append(round(time.perf_counter() - t0, 3))
                if op == "d06_dedup_clusters" and LAST_CC_STATS:
                    extra = dict(LAST_CC_STATS)
            if op == "d13_edit_distance_linkage":
                extra = _d13_candidate_counts(spark, sf_dir)
            extra_key = (
                "candidates"
                if op == "d13_edit_distance_linkage"
                else "cc_stats"
            )
            results[op]["scales"][f"x{scale}"] = {
                "sec": round(statistics.median(runs), 3),
                "raw": runs,
                "rows_out": rows,
                **({extra_key: extra} if extra else {}),
            }
            print(
                f"x{scale} {op}: median {statistics.median(runs):.2f}s "
                f"of {runs}, "
                f"{rows} rows {extra or ''}",
                file=sys.stderr,
            )

    # least-squares slope of log(t) on log(n) over the three scales
    for op in OPS:
        pts = [
            (math.log(s), math.log(results[op]["scales"][f"x{s}"]["sec"]))
            for s in SCALES
        ]
        mx = sum(p[0] for p in pts) / len(pts)
        my = sum(p[1] for p in pts) / len(pts)
        slope = sum((x - mx) * (y - my) for x, y in pts) / sum(
            (x - mx) ** 2 for x, _ in pts
        )
        results[op]["alpha"] = round(slope, 3)
        # output-size exponent: is the WORK growing linearly too?
        r1 = results[op]["scales"]["x1"]["rows_out"]
        r10 = results[op]["scales"]["x10"]["rows_out"]
        results[op]["rows_alpha"] = (
            round(math.log(max(r10, 1) / max(r1, 1)) / math.log(10), 3)
        )

    # d13 candidate-growth exponents: the engine's measured PassJoin
    # candidates vs what the two fixed-cardinality blocking schemes
    # WOULD have generated on identical data (x1 → x10 log-slope;
    # 2.0 = quadratic, 1.0 = linear)
    if "d13_edit_distance_linkage" in results:
        sc = results["d13_edit_distance_linkage"]["scales"]
        alphas = {}
        for k in (
            "cand_passjoin",
            "cand_banded_analytic",
            "cand_brand_only_analytic",
        ):
            c1 = sc["x1"]["candidates"][k]
            c10 = sc["x10"]["candidates"][k]
            # a zero count at x1 (e.g. a twin-free regenerated
            # fixture) must not throw away the whole rehearsal at
            # the very last step — record the slope as undefined
            alphas[k + "_alpha"] = (
                round(math.log(c10 / c1) / math.log(10), 3)
                if c1 > 0 and c10 > 0
                else None
            )
        results["d13_edit_distance_linkage"]["candidate_alphas"] = alphas
        print(f"d13 candidate growth exponents: {alphas}", file=sys.stderr)

    # relational x1→x10 step pair (q31/q48) on the key-shifted fixture.
    # REL_OPS empty (an op-filtered refresh that listed no rel ops) ⇒
    # skip the section entirely: rebuilding the block with empty 'ops'
    # would shadow the prior file's rows and the setdefault merge
    # below could never restore them.
    rel_x10 = os.path.join(
        os.path.dirname(__file__), "..", ".scale", "rel_x10"
    )
    if REL_OPS and os.path.isdir(rel_x10):
        rel: dict[str, dict] = {}
        for sf_label, sf_dir in (("x1", REL_X1), ("x10", rel_x10)):
            for op in REL_OPS:
                runs, rows = [], None
                for _ in range(REPS):
                    spark.sparkContext._jvm.System.gc()
                    t0 = time.perf_counter()
                    rows = forced_count(queries[op](spark, sf_dir))
                    runs.append(round(time.perf_counter() - t0, 3))
                rel.setdefault(op, {})[sf_label] = {
                    "sec": round(statistics.median(runs), 3),
                    "raw": runs,
                    "rows_out": rows,
                }
                print(
                    f"rel {sf_label} {op}: median "
                    f"{statistics.median(runs):.2f}s of {runs}, {rows} rows",
                    file=sys.stderr,
                )
        for op in REL_OPS:
            rel[op]["step_alpha"] = round(
                math.log(rel[op]["x10"]["sec"] / rel[op]["x1"]["sec"])
                / math.log(10),
                3,
            )
        results["relational_x10_extension"] = {
            "note": (
                "q31/q48 post-contract-fix step pair, sf0.1 vs "
                "gen_relational_scale rel_x10 (key-shifted replication, "
                "same workload shape, 10x rows); two-point log-slope"
            ),
            "ops": _merged_rel_ops(
                os.path.join(
                    os.path.dirname(__file__), "..", "SCALE_REHEARSAL.json"
                ),
                rel,
            ),
        }
    elif not REL_OPS:
        pass  # filtered run without rel ops: prior block survives via
        # the setdefault merge below
    else:
        print(
            f"rel_x10 fixture missing at {rel_x10} — skipping the "
            "relational extension (run scripts/gen_relational_scale.py)",
            file=sys.stderr,
        )

    out = os.path.join(os.path.dirname(__file__), "..", "SCALE_REHEARSAL.json")
    # preserve extension blocks merged in by OTHER runs (the x30 pair,
    # heaps-vocab points): a refresh of the x1/x3/x10 core must not
    # silently delete the rest of the evidence file
    if os.path.exists(out):
        with open(out) as fh:
            prior = json.load(fh)
        for k, v in prior.items():
            results.setdefault(k, v)
    with open(out, "w") as fh:
        json.dump(results, fh, indent=2)

    print("\n| op | x1 | x3 | x10 | time exponent α | output exponent |")
    print("|---|---|---|---|---|---|")
    for op in OPS:
        s = results[op]["scales"]
        print(
            f"| {op} | {s['x1']['sec']:.2f}s | {s['x3']['sec']:.2f}s "
            f"| {s['x10']['sec']:.2f}s | {results[op]['alpha']:.2f} "
            f"| {results[op]['rows_alpha']:.2f} |"
        )
    spark.stop()


if __name__ == "__main__":
    main()

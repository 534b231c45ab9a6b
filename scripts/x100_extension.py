#!/usr/bin/env python
"""x10 → x100 step pairs — two full decades of scale evidence (r12).

The `.scale/x100` fixture (500k documents / 200k embeddings / 2M
parts, same fixed-2000-word-vocab statistics as x1..x30) existed but
was never measured. This script extends the rehearsal's ×10 rows by
another decade for the ops whose 100 TB claims are LINEAR-ish and
whose x100 wall is tractable: the dedup/graph workhorses (d06, d11,
g01, g03), the bucketed similarity paths (s05 IVF, d10 SemDeDup at
default knobs), the single-scan text ops (t18, t20), the multimodal
decoders (m09/m10/m11), and the CDC merge (p05).

d04 is deliberately NOT here: on the fixed-vocab fixture its
candidate count is superlinear BY CONSTRUCTION (the adversarial df²
regime — measured through x30 in `x30_extension`, knob escape
documented in SCALING.md); another decade of the adversarial regime
measures the fixture, not the plan. The realistic-vocabulary claim
is covered by the Heaps sweep.

Methodology matches the x30 extension: one warm session, x10 first
(warmup cannot flatter the big runs), median-of-3, step exponent
alpha = log(t_x100 / t_x10) / log(10). Merges an `x100_extension`
block into SCALE_REHEARSAL.json preserving all other blocks.
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
    "t20_zipf_fit",
    "p05_cdc_merge_apply",
    "m09_bmp_decode_resize",
    "t18_heavy_hitters",
    "m10_wav_decode_features",
    "d06_dedup_clusters",
    "g03_triangle_count",
    "s05_ann_ivf",
    "m11_png_decode_roundtrip",
    "d10_semdedup",
    "g01_pagerank",
    "d11_verbatim_overlap",
    # r13 completion: the remaining x10-measured ops without a second
    # decade — s07 exact Lloyd (5 iters × map-assign + k×dim partial
    # agg, linear expectation), s13 MMR (K barrier-separated greedy
    # steps, each one corpus scan), t13 unigram-LM scoring (broadcast
    # vocab, one scan). d14 is deliberately NOT here: its fixed-K=8
    # catalog contract at 200k vectors is the d10-default pop² regime
    # (25k-row buckets → 5 GB score matrices, the measured GC-death
    # shape from x30) — already characterized by d10's default-knob
    # x100 row (α 1.73), while d14's PRODUCTION posture (K∝N 2-level
    # k-means) has its own x100 rows in x100_attribution.
    "s07_kmeans_clusters",
    # r16: second decade for the new ids — d16 exact-substring
    # rewrite (gram keeper agg + sliver joins, linear expectation),
    # t25 HTML extraction (pure map-side Arrow kernel, linear).
    "d16_exact_substring_rewrite",
    "t25_html_extract",
    "s13_mmr_diversified",
    "t13_unigram_logprob",
    # r13 late additions: t21 chunking (map-side explode — output
    # linear, wall should track the scan), t22 BPE learning (one
    # corpus scan + fixed-vocab iterations on this fixture), t23 BPE
    # encode (t22's learn + one map-side encode scan, output linear).
    "t21_context_chunking",
    "t22_bpe_merges",
    "t23_bpe_encode",
)


def main() -> None:
    from omop_dump_to_parquet_spark import load_catalog
    from omop_dump_to_parquet_spark.session import get_spark

    asked = set(sys.argv[1:])
    ops = tuple(o for o in OPS if not asked or o in asked)
    unknown = asked - set(OPS)
    if unknown:
        sys.exit(f"unknown ops: {sorted(unknown)}")

    queries, _ = load_catalog()
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    root = os.path.join(os.path.dirname(__file__), "..", ".scale")

    rows: dict[str, dict] = {}
    for scale in (10, 100):
        sf_dir = os.path.join(root, f"x{scale}")
        for op in ops:
            runs, n = [], None
            for _ in range(REPS):
                spark.sparkContext._jvm.System.gc()
                t0 = time.perf_counter()
                # r16: switched from count() to the shared hash-
                # forcing recipe. count() WAS sufficient for the
                # original list (every plan cardinality-changing at
                # its last stage — r15b audit), but the r16 adds
                # (d16, t25) are cardinality-preserving rewrites
                # whose md5 reconstruction a count() would prune;
                # one recipe everywhere beats a per-id argument.
                from omop_dump_to_parquet_spark.force import forced_count

                n = forced_count(queries[op](spark, sf_dir))
                runs.append(round(time.perf_counter() - t0, 3))
            rows.setdefault(op, {})[f"x{scale}"] = {
                "sec": round(statistics.median(runs), 3),
                "raw": runs,
                "rows_out": n,
            }
            print(
                f"x{scale} {op}: median {statistics.median(runs):.2f}s "
                f"of {runs}, {n} rows",
                file=sys.stderr,
            )
    for op in ops:
        rows[op]["step_alpha"] = round(
            math.log(rows[op]["x100"]["sec"] / rows[op]["x10"]["sec"])
            / math.log(10),
            3,
        )

    out = os.path.join(os.path.dirname(__file__), "..", "SCALE_REHEARSAL.json")
    results = {}
    if os.path.exists(out):
        with open(out) as fh:
            results = json.load(fh)
    prior_ops = results.get("x100_extension", {}).get("ops", {})
    results["x100_extension"] = {
        "note": (
            "r12 warm single-session x10-vs-x100 pairs (500k docs / "
            "200k vectors / 2M parts, fixed-vocab fixture): a second "
            "decade for the linear-claim ops; d04 deliberately "
            "excluded (adversarial df^2 candidate regime is a fixture "
            "property, measured through x30 with the knob escape "
            "documented)"
        ),
        "ops": {**prior_ops, **rows},
    }
    with open(out, "w") as fh:
        json.dump(results, fh, indent=2)

    print("\n| op | x10 | x100 | step α |")
    print("|---|---|---|---|")
    for op in ops:
        print(
            f"| {op} | {rows[op]['x10']['sec']:.2f}s "
            f"| {rows[op]['x100']['sec']:.2f}s "
            f"| {rows[op]['step_alpha']:.2f} |"
        )
    spark.stop()


if __name__ == "__main__":
    main()

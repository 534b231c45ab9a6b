#!/usr/bin/env python
"""Heaps-law candidate-growth sweep.

The x30 rehearsal found exact-Jaccard candidate generation
superlinear on the FIXED-2,000-word-vocabulary fixture and fixed the
worst of it with the PPJoin position filter; SCALING.md then ARGUED
the residual superlinear candidate growth is a fixed-vocab artifact —
under Heaps-law vocabulary growth (V ∝ N^0.5) prefix-token document
frequencies stay bounded, so the df_full × df_prefix join product
should track corpus size. This script MEASURES that claim:

- fixtures: ``gen_scale_fixture.py --heaps`` → ``.scale/heaps/x{N}``,
  identical statistics to the rehearsal fixtures except vocabulary
  = 2000·scale^0.5 (x1: 2000, x10: 6324, x30: 10954);
- per scale, the g01/d06 candidate config (Jaccard ≥ 0.6, blocked on
  (lang, source), word tokens): RAW join emissions
  (``prefix_filter_candidates(distinct=False)`` — the quantity that
  grew 9.05× for 3× data on fixed vocab), distinct candidates, and
  g01 end-to-end wall time;
- emits HEAPS_SWEEP.json + a markdown table; the x10→x30 marginal
  exponents are the number the 100 TB playbook paragraph cites.
"""
from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

REPS = 3  # median-of-3, bench.py's methodology
SCALES = (
    tuple(int(s) for s in sys.argv[1].split(","))
    if len(sys.argv) > 1
    else (1, 10, 30)
)  # argv-selectable so an x100 extension reuses the x1-x30 rows


def main() -> None:
    from fractions import Fraction

    from omop_dump_to_parquet_spark import load_catalog
    from omop_dump_to_parquet_spark.operators.dedup import (
        prefix_filter_candidates,
    )
    from omop_dump_to_parquet_spark.session import get_spark
    from omop_dump_to_parquet_spark.sources.parquet import table

    root = os.path.join(os.path.dirname(__file__), "..", ".scale", "heaps")
    for s in SCALES:
        if not os.path.exists(os.path.join(root, f"x{s}", "documents.parquet")):
            sys.exit(
                f"missing {root}/x{s} — run scripts/gen_scale_fixture.py "
                f"--heaps <root> {','.join(map(str, SCALES))} first"
            )

    queries, _ = load_catalog()
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    ratio = Fraction("0.6")

    results: dict[str, dict] = {}
    for scale in SCALES:  # small → large: warmup cannot flatter x30
        sf_dir = os.path.join(root, f"x{scale}")
        docs = table(spark, sf_dir, "documents")

        def timed(fn):
            import statistics

            runs, out = [], None
            for _ in range(REPS):
                spark.sparkContext._jvm.System.gc()
                t0 = time.perf_counter()
                out = fn()
                runs.append(round(time.perf_counter() - t0, 3))
            return round(statistics.median(runs), 3), runs, out

        raw_sec, raw_runs, raw_n = timed(
            lambda: prefix_filter_candidates(
                docs, ratio.numerator, ratio.denominator, "lang", "source",
                distinct=False,
            ).count()
        )
        dis_sec, dis_runs, dis_n = timed(
            lambda: prefix_filter_candidates(
                docs, ratio.numerator, ratio.denominator, "lang", "source"
            ).count()
        )
        g01_sec, g01_runs, g01_n = timed(
            lambda: queries["g01_pagerank"](spark, sf_dir).count()
        )
        # d04 on the SAME fixture: the other side of the playbook's
        # exact-vs-MinHash crossover, recorded in this artifact
        d04_sec, d04_runs, d04_n = timed(
            lambda: queries["d04_dedup_minhash_lsh"](spark, sf_dir).count()
        )
        results[f"x{scale}"] = {
            "raw_candidates": raw_n,
            "raw_sec": raw_sec,
            "raw_runs": raw_runs,
            "distinct_candidates": dis_n,
            "distinct_sec": dis_sec,
            "distinct_runs": dis_runs,
            "g01_sec": g01_sec,
            "g01_runs": g01_runs,
            "g01_rows": g01_n,
            "d04_sec": d04_sec,
            "d04_runs": d04_runs,
            "d04_pairs": d04_n,
        }
        print(
            f"x{scale}: raw {raw_n:,} ({raw_sec}s), distinct {dis_n:,} "
            f"({dis_sec}s), g01 {g01_sec}s ({g01_n} rows), "
            f"d04 {d04_sec}s ({d04_n} pairs)",
            file=sys.stderr,
        )

    def marginal(a: str, b: str, key: str, lo: int, hi: int) -> float:
        # a zero/negative operand means the measurement itself broke
        # (empty candidate set, clock error) — fail loudly instead of
        # masking it into a plausible-looking exponent
        assert results[a][key] > 0 and results[b][key] > 0, (
            key, results[a][key], results[b][key],
        )
        return round(
            math.log(results[b][key] / results[a][key])
            / math.log(hi / lo),
            2,
        )

    # merge per-scale with the prior file so a partial refresh (e.g.
    # `heaps_sweep.py 10,100`) keeps the unlisted scales' rows instead
    # of erasing them
    out = os.path.join(os.path.dirname(__file__), "..", "HEAPS_SWEEP.json")
    if os.path.exists(out):
        with open(out) as fh:
            prior = json.load(fh)
        for k, v in prior.items():
            if k != "summary":
                results.setdefault(k, v)

    # marginal exponents over every ADJACENT measured pair (same-
    # session pairs where both legs ran this invocation; cross-session
    # pairs are still meaningful for candidate COUNTS, which are
    # data properties, but wall-time pairs should be read per-session)
    have = sorted(
        (int(k[1:]) for k in results if k.startswith("x")),
    )
    summary = {}
    for lo, hi in zip(have, have[1:]):
        a, b = f"x{lo}", f"x{hi}"
        summary[f"raw_cand_exp_{a}_{b}"] = marginal(
            a, b, "raw_candidates", lo, hi
        )
        summary[f"distinct_cand_exp_{a}_{b}"] = marginal(
            a, b, "distinct_candidates", lo, hi
        )
        summary[f"g01_time_exp_{a}_{b}"] = marginal(a, b, "g01_sec", lo, hi)
        if "d04_sec" in results[a] and "d04_sec" in results[b]:
            summary[f"d04_time_exp_{a}_{b}"] = marginal(
                a, b, "d04_sec", lo, hi
            )
            summary[f"d04_pairs_exp_{a}_{b}"] = marginal(
                a, b, "d04_pairs", lo, hi
            )
    results["summary"] = summary
    with open(out, "w") as fh:
        json.dump(results, fh, indent=2)

    print("\n| scale | raw cands | distinct | g01 wall |")
    print("|---|---|---|---|")
    for s in have:
        r = results[f"x{s}"]
        print(
            f"| x{s} | {r['raw_candidates']:,} | "
            f"{r['distinct_candidates']:,} | {r['g01_sec']:.1f}s |"
        )
    print(f"\nsummary: {json.dumps(summary)}")
    spark.stop()


if __name__ == "__main__":
    main()

#!/usr/bin/env python
"""r14 scale evidence (r13 verdict tasks #3 and #4).

Two measurements, each merged as its own block into
SCALE_REHEARSAL.json:

1. ``d14_kmeans_dispersed_x100`` — the d14-certified PRODUCTION
   composition (K∝N two-level k-means bucketing →
   ``semdedup_prune_bucketed``) at the x10→x100 step on the r13
   DISPERSED fixture (isotropic base + 1% planted twins; output
   linear by construction). This is the exact decade where the r12
   rehearsal broke the hyperplane path (α 1.91: a tight cluster
   shares its sign pattern under any hyperplane, so its bucket grows
   with the corpus) — d14's catalog row certified the kernel under
   Voronoi bucket shapes, and the r12 x100 router row (α 0.611)
   measured assignment alone; this block measures the WHOLE certified
   path (route + prune) at both scales, with the max-bucket
   population recorded at each (the r12 failure metric: it must stay
   ~cell-sized, not grow with the corpus). K = n/100 per the paper's
   ~100-vectors-per-cell rule (x10/20k → K=200, x100/200k → K=2000).

2. ``p08_threshold_draw_x100`` — the skew-robust threshold draw
   (p08's certified path) on the .scale documents at x10→x100
   (50k→500k rows) with p08's derived 91%-dominant source.
   Expectation: flat-to-linear like p06/p07 (one histogram shuffle +
   broadcast bound join + a window over ONE 2-hex bucket of the
   dominant source). The boundary-bucket row count is recorded at
   both scales — the sliver must grow like n/256, not like n··window.

3. ``p09_x100`` (added with the p09 id) — decontamination on the
   .scale documents at x10→x100: one gram-index build + broadcast
   eval-gram left join + one groupBy(doc_id). Expectation: ~linear
   (every stage is corpus-proportional; the broadcast side is the
   ~1% derived eval split's distinct grams).
"""
from __future__ import annotations

import json
import math
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from r13_scale_evidence import (  # noqa: E402  (path bootstrap above)
    DISP_SCALES,
    DISP_TAU,
    _gen_dispersed,
)

REPS = 3
CELL_TARGET = 100  # SemDeDup's ~100 vectors per k-means cell


def _median_wall(fn, gc) -> tuple[float, list[float], int]:
    runs, n = [], None
    for _ in range(REPS):
        gc()
        t0 = time.perf_counter()
        n = fn().count()
        runs.append(round(time.perf_counter() - t0, 3))
    return round(statistics.median(runs), 3), runs, n


def _step_alpha(sec10: float, sec100: float) -> float:
    return round(math.log(sec100 / sec10) / math.log(10), 3)


def main() -> None:
    from pyspark.sql import functions as F

    from omop_dump_to_parquet_spark.functions.vectors import to_double_array
    from omop_dump_to_parquet_spark.operators.dedup import (
        semdedup_prune_bucketed,
    )
    from omop_dump_to_parquet_spark.operators.pipeline import (
        P06_SEED,
        mixture_quotas,
        mixture_threshold_draw,
        p08_skewed_docs,
    )
    from omop_dump_to_parquet_spark.operators.similarity import (
        kmeans_bucket_assign_2level,
    )
    from omop_dump_to_parquet_spark.session import get_spark
    from omop_dump_to_parquet_spark.sources.parquet import table

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    gc = spark.sparkContext._jvm.System.gc
    root = os.path.join(os.path.dirname(__file__), "..", ".scale")
    only = set(sys.argv[1:])

    out_path = os.path.join(
        os.path.dirname(__file__), "..", "SCALE_REHEARSAL.json"
    )
    results = {}
    if os.path.exists(out_path):
        with open(out_path) as fh:
            results = json.load(fh)

    def save() -> None:
        with open(out_path, "w") as fh:
            json.dump(results, fh, indent=2)

    # ---- block 1: d14 production composition at the second decade --
    if not only or "d14" in only:
        _gen_dispersed(root)
        block: dict = {
            "note": (
                "r14: the d14-certified path (K∝N 2-level k-means → "
                "semdedup_prune_bucketed) at the decade where "
                "hyperplane bucketing broke (r12 α 1.91). Dispersed "
                f"fixture, tau={DISP_TAU}, K=n/{CELL_TARGET}; "
                "max_bucket must stay ~cell-sized (the r12 failure "
                "metric), and prune pair-work ~linear"
            ),
            "scales": {},
        }
        for scale, (n, _blocks) in sorted(DISP_SCALES.items()):
            sf_dir = os.path.join(root, "disp", f"x{scale}")
            emb = table(spark, sf_dir, "embeddings").select(
                "vec_id", to_double_array("embedding").alias("emb")
            )
            k = n // CELL_TARGET

            def composed():
                bucketed = kmeans_bucket_assign_2level(emb, k)
                return semdedup_prune_bucketed(bucketed, DISP_TAU)

            sec, runs, rows = _median_wall(composed, gc)
            pops = (
                kmeans_bucket_assign_2level(emb, k)
                .groupBy("bucket")
                .agg(F.count(F.lit(1)).alias("n"))
                .agg(
                    F.max("n").alias("mx"),
                    F.count(F.lit(1)).alias("nb"),
                )
                .first()
            )
            block["scales"][f"x{scale}"] = {
                "n_vectors": n,
                "k": k,
                "sec": sec,
                "raw": runs,
                "rows_out": rows,
                "max_bucket": pops["mx"],
                "n_buckets": pops["nb"],
            }
            print(
                f"disp x{scale}: d14 composed (K={k}) median {sec}s of "
                f"{runs}, {rows} pruned, max bucket {pops['mx']} over "
                f"{pops['nb']} buckets",
                file=sys.stderr,
            )
        s = block["scales"]
        block["step_alpha"] = _step_alpha(s["x10"]["sec"], s["x100"]["sec"])
        block["max_bucket_step_alpha"] = _step_alpha(
            max(s["x10"]["max_bucket"], 1), max(s["x100"]["max_bucket"], 1)
        )
        results["d14_kmeans_dispersed_x100"] = block
        save()

    # ---- block 2: p08 threshold draw at the second decade -----------
    if not only or "p08" in only:
        block = {
            "note": (
                "r14: mixture_threshold_draw (p08's certified path) on "
                ".scale documents with the derived 91%-dominant "
                "source; boundary_bucket is the ONLY windowed row set "
                "and must grow like n/256, not like the source"
            ),
            "scales": {},
        }
        for scale in (10, 100):
            sf_dir = os.path.join(root, f"x{scale}")
            docs = p08_skewed_docs(spark, sf_dir)
            counts = {
                r["source"]: r["n"]
                for r in docs.groupBy("source")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            quotas = mixture_quotas(counts)

            sec, runs, rows = _median_wall(
                lambda: mixture_threshold_draw(docs, quotas), gc
            )
            # boundary-bucket size for the dominant source, re-derived
            # exactly as pass 1 derives it
            hist = (
                docs.select(
                    "source",
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col("doc_id").cast("string"),
                                F.lit(f":{P06_SEED}"),
                            )
                        ),
                        1,
                        2,
                    ).alias("pfx"),
                )
                .groupBy("source", "pfx")
                .agg(F.count(F.lit(1)).alias("n"))
                .filter(F.col("source") == "web")
                .collect()
            )
            cum, boundary = 0, 0
            for pfx, cnt in sorted((r["pfx"], r["n"]) for r in hist):
                if cum + cnt >= quotas["web"]:
                    boundary = cnt
                    break
                cum += cnt
            block["scales"][f"x{scale}"] = {
                "n_docs": sum(counts.values()),
                "dominant_rows": counts["web"],
                "quota_web": quotas["web"],
                "boundary_bucket": boundary,
                "sec": sec,
                "raw": runs,
                "rows_out": rows,
            }
            print(
                f"x{scale}: p08 draw median {sec}s of {runs}, {rows} "
                f"kept; web {counts['web']} rows, boundary bucket "
                f"{boundary}",
                file=sys.stderr,
            )
        s = block["scales"]
        block["step_alpha"] = _step_alpha(s["x10"]["sec"], s["x100"]["sec"])
        block["boundary_step_alpha"] = _step_alpha(
            max(s["x10"]["boundary_bucket"], 1),
            max(s["x100"]["boundary_bucket"], 1),
        )
        results["p08_threshold_draw_x100"] = block
        save()

    # ---- block 3: p09 decontamination at the second decade ----------
    if not only or "p09" in only:
        from omop_dump_to_parquet_spark import load_catalog

        queries, _ = load_catalog()
        block = {
            "note": (
                "r14: p09 decontamination on .scale documents — one "
                "gram-index build + broadcast eval-gram left join + "
                "one groupBy(doc_id); expectation ~linear"
            ),
            "scales": {},
        }
        for scale in (10, 100):
            sf_dir = os.path.join(root, f"x{scale}")
            sec, runs, rows = _median_wall(
                lambda: queries["p09_decontamination"](spark, sf_dir), gc
            )
            block["scales"][f"x{scale}"] = {
                "sec": sec,
                "raw": runs,
                "rows_out": rows,
            }
            print(
                f"x{scale}: p09 median {sec}s of {runs}, {rows} "
                "contaminated docs",
                file=sys.stderr,
            )
        s = block["scales"]
        block["step_alpha"] = _step_alpha(s["x10"]["sec"], s["x100"]["sec"])
        block["rows_step_alpha"] = _step_alpha(
            max(s["x10"]["rows_out"], 1), max(s["x100"]["rows_out"], 1)
        )
        results["p09_x100"] = block
        save()

    # ---- block 4: p09 on the HEAPS fixtures (hit-rate attribution) --
    # Going-in hypothesis (REFUTED by the measurement — see the note
    # stored with the block): that the fixed-vocab ~99% hit rate was the
    # df² fixture artifact and would fall under Heaps vocabulary growth.
    # In fact the contaminated fraction ROSE (98.4%→99.8%): the eval
    # split is corpus-proportional and Zipf-frequent 3-grams dominate
    # coverage at any vocabulary size. Width, not vocab, is the lever.
    # The block measures the attribution instead of arguing it.
    if not only or "p09_heaps" in only:
        from omop_dump_to_parquet_spark import load_catalog

        queries, _ = load_catalog()
        block = {
            "note": (
                "r14: p09 on the Heaps-vocabulary fixtures. "
                "MEASURED OUTCOME (which refuted the going-in "
                "prediction): wall ~linear as expected, but the "
                "contaminated fraction ROSE 98.4%→99.8% — the eval "
                "split is corpus-proportional and Zipf-frequent "
                "3-grams dominate coverage at any vocab size, so "
                "near-total contamination at width 3 is a property "
                "of SHORT grams on Zipf text; production realism "
                "comes from the 8-13-gram width, not vocabulary"
            ),
            "scales": {},
        }
        for scale in (10, 100):
            sf_dir = os.path.join(root, "heaps", f"x{scale}")
            n_train = (
                table(spark, sf_dir, "documents")
                .filter(F.col("doc_id") % 97 != 0)
                .count()
            )
            sec, runs, rows = _median_wall(
                lambda: queries["p09_decontamination"](spark, sf_dir), gc
            )
            block["scales"][f"x{scale}"] = {
                "sec": sec,
                "raw": runs,
                "rows_out": rows,
                "n_train": n_train,
                "contaminated_fraction": round(rows / n_train, 4),
            }
            print(
                f"heaps x{scale}: p09 median {sec}s of {runs}; "
                f"{rows}/{n_train} contaminated "
                f"({rows / n_train:.1%})",
                file=sys.stderr,
            )
        s = block["scales"]
        block["step_alpha"] = _step_alpha(s["x10"]["sec"], s["x100"]["sec"])
        results["p09_heaps_extension"] = block
        save()

    print(
        json.dumps(
            {
                k: results[k]
                for k in (
                    "d14_kmeans_dispersed_x100",
                    "p08_threshold_draw_x100",
                    "p09_x100",
                    "p09_heaps_extension",
                )
                if k in results
            },
            indent=2,
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()

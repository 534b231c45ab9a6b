#!/usr/bin/env python
"""r15 scale evidence (r14 verdict tasks #3 and #4).

Two blocks, merged into SCALE_REHEARSAL.json:

1. ``p10_sparse_x100`` — decontamination at PRODUCTION gram width 8
   in the SPARSE regime (p10's certified path: broadcast donor-span
   injection → the width-parameterized ``decontaminate`` kernel) on
   the .scale documents at x10→x100 (50k→500k docs). This is the
   measurement the r14 Heaps block showed was missing: width 3 on
   Zipf text flags ~99.8% of docs (the broadcast-hit path never
   selective), while here output must stay ~5% of train docs and grow
   linearly with the corpus (the planted stripe is 1/19 of docs).
   Expectation: wall ~linear (gram index build dominates; the hit
   side is rare), contaminated_fraction FLAT at ~0.05.

2. ``t24_classifier_x100`` — model-based quality-classifier inference
   (broadcast weight vector, hashed uni+bigram features, map-side
   aggregate) at x10→x100. Expectation: wall ~linear, zero shuffles
   (plan asserted in tests; this block measures the constant).
"""
from __future__ import annotations

import json
import math
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

REPS = int(os.environ.get("SPARK_GRAFT_SCALE_REPS", "3"))


def _median_wall(fn, gc, force: str | None = None) -> tuple[float, list[float], int]:
    """``force``: a column to SUM alongside the row count so Catalyst
    cannot column-prune the computation under measurement. The first
    recorded t24 block used a bare count() — of a pure map-side
    projection, which prunes the ENTIRE classifier and measures the
    scan (the recorded 0.8s/flat-alpha row was vacuous; re-measured
    with force='logit' this session)."""
    from pyspark.sql import functions as F

    runs, n = [], None
    for _ in range(REPS):
        gc()
        t0 = time.perf_counter()
        df = fn()
        if force is None:
            n = df.count()
        else:
            row = df.agg(
                F.count(F.lit(1)).alias("n"), F.sum(force).alias("s")
            ).first()
            n = row["n"]
        runs.append(round(time.perf_counter() - t0, 3))
    return round(statistics.median(runs), 3), runs, n


def _step_alpha(sec10: float, sec100: float) -> float:
    return round(math.log(sec100 / sec10) / math.log(10), 3)


def main() -> None:
    from pyspark.sql import functions as F

    from omop_dump_to_parquet_spark import load_catalog
    from omop_dump_to_parquet_spark.operators.pipeline import P09_EVAL_MOD
    from omop_dump_to_parquet_spark.session import get_spark
    from omop_dump_to_parquet_spark.sources.parquet import table

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    gc = spark.sparkContext._jvm.System.gc
    root = os.path.join(os.path.dirname(__file__), "..", ".scale")
    only = set(sys.argv[1:])
    queries, _ = load_catalog()

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

    # ---- block 1: p10 sparse production-width decontamination -------
    if not only or "p10" in only:
        block: dict = {
            "note": (
                "r15: p10 — the decontaminate kernel at production "
                "width 8 in the SPARSE regime (broadcast donor-span "
                "injection plants collisions in 1/19 of docs; width-8 "
                "grams on Zipf text have ~zero natural collisions). "
                "The r14 Heaps block proved width 3 is degenerate "
                "(99.8% flagged); this certifies the SELECTIVE shape: "
                "contaminated_fraction must stay flat ~5%, wall "
                "~linear"
            ),
            "scales": {},
        }
        for scale in (10, 100):
            sf_dir = os.path.join(root, f"x{scale}")
            n_train = (
                table(spark, sf_dir, "documents")
                .filter(F.col("doc_id") % P09_EVAL_MOD != 0)
                .count()
            )
            sec, runs, rows = _median_wall(
                lambda: queries["p10_decontamination_sparse"](
                    spark, sf_dir
                ),
                gc,
            )
            block["scales"][f"x{scale}"] = {
                "sec": sec,
                "raw": runs,
                "rows_out": rows,
                "n_train": n_train,
                "contaminated_fraction": round(rows / n_train, 4),
            }
            print(
                f"x{scale}: p10 median {sec}s of {runs}; {rows}/{n_train} "
                f"contaminated ({rows / n_train:.2%})",
                file=sys.stderr,
            )
        s = block["scales"]
        block["step_alpha"] = _step_alpha(s["x10"]["sec"], s["x100"]["sec"])
        block["rows_step_alpha"] = _step_alpha(
            max(s["x10"]["rows_out"], 1), max(s["x100"]["rows_out"], 1)
        )
        results["p10_sparse_x100"] = block
        save()

    # ---- block 2: t24 classifier inference ---------------------------
    if not only or "t24" in only:
        block = {
            "note": (
                "r15: t24 — broadcast-weights classifier inference "
                "(hashed uni+bigram features, map-side aggregate, "
                "zero shuffles); expectation ~linear wall, output "
                "rows == docs. RE-MEASURED with forced logit "
                "evaluation — the first recording was a vacuous "
                "column-pruned count() (see _median_wall docstring)"
            ),
            "scales": {},
        }
        for scale in (10, 100):
            sf_dir = os.path.join(root, f"x{scale}")
            sec, runs, rows = _median_wall(
                lambda: queries["t24_quality_classifier"](spark, sf_dir),
                gc,
                force="logit",
            )
            block["scales"][f"x{scale}"] = {
                "sec": sec,
                "raw": runs,
                "rows_out": rows,
            }
            print(
                f"x{scale}: t24 median {sec}s of {runs}, {rows} rows",
                file=sys.stderr,
            )
        s = block["scales"]
        block["step_alpha"] = _step_alpha(s["x10"]["sec"], s["x100"]["sec"])
        results["t24_classifier_x100"] = block
        save()

    print(
        json.dumps(
            {
                k: results[k]
                for k in ("p10_sparse_x100", "t24_classifier_x100")
                if k in results
            },
            indent=2,
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()

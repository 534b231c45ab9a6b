#!/usr/bin/env python
"""r15 second-leg scale evidence: d15 and p11 at x10 → x100.

1. ``d15_fuzzy_x100`` — doc-level fuzzy decontamination (in-row
   MinHash signatures, broadcast eval LSH index, map-side exact
   verify). The plan has zero corpus-side exchanges, so wall should
   track the per-row signature cost ~linearly; the broadcast side
   grows with the eval split (1/97 of docs — on the fixture; in
   production it is a FIXED benchmark suite, so this measurement is
   conservative). Also records the broadcast index row count and the
   output pair count (planted clusters split across the eval/train
   boundary grow linearly by construction).

2. ``p11_dsir_x100`` — DSIR importance scoring (two 256-key
   distribution folds + broadcast weight row + map-side in-row
   scoring). Expectation: wall ~linear, rows_out == train docs.

Methodology matches the x30/x100 extensions: one warm session, x10
first, median-of-3, step exponent alpha = log(t100/t10)/log(10).
Merges blocks into SCALE_REHEARSAL.json preserving all others.
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
    cannot column-prune the computation under measurement — a bare
    count() of a pure-projection plan measures the scan, not the op
    (this is how t24's first x100 row came out vacuously flat)."""
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
    from omop_dump_to_parquet_spark.operators.dedup import D15_EVAL_MOD
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

    if not only or "d15" in only:
        block: dict = {
            "note": (
                "r15: d15 — fuzzy decontamination, zero corpus-side "
                "exchanges (in-row signatures, broadcast eval LSH "
                "index, map-side exact verify). Eval split is 1/97 of "
                "docs on the fixture so the broadcast side grows with "
                "the corpus here — conservative vs production, where "
                "the benchmark suite is FIXED"
            ),
            "scales": {},
        }
        for scale in (10, 100):
            sf_dir = os.path.join(root, f"x{scale}")
            n_eval = (
                table(spark, sf_dir, "documents")
                .filter(F.col("doc_id") % D15_EVAL_MOD == 0)
                .count()
            )
            # d15's count() is NOT prunable: every output row exists
            # only because the join+verify evaluated — no force needed
            sec, runs, rows = _median_wall(
                lambda: queries["d15_fuzzy_decontamination"](spark, sf_dir),
                gc,
            )
            block["scales"][f"x{scale}"] = {
                "sec": sec,
                "raw": runs,
                "rows_out": rows,
                "n_eval": n_eval,
            }
            print(
                f"x{scale}: d15 median {sec}s of {runs}; {rows} pairs, "
                f"{n_eval} eval docs broadcast",
                file=sys.stderr,
            )
        s = block["scales"]
        block["step_alpha"] = _step_alpha(s["x10"]["sec"], s["x100"]["sec"])
        block["rows_step_alpha"] = _step_alpha(
            max(s["x10"]["rows_out"], 1), max(s["x100"]["rows_out"], 1)
        )
        results["d15_fuzzy_x100"] = block
        save()

    if not only or "p11" in only:
        block = {
            "note": (
                "r15: p11 — DSIR importance scoring (two 256-key "
                "distribution folds, broadcast weight row, map-side "
                "in-row scoring); expectation ~linear wall, rows_out "
                "== train docs"
            ),
            "scales": {},
        }
        for scale in (10, 100):
            sf_dir = os.path.join(root, f"x{scale}")
            sec, runs, rows = _median_wall(
                lambda: queries["p11_dsir_importance"](spark, sf_dir),
                gc,
                force="score_nanos",
            )
            block["scales"][f"x{scale}"] = {
                "sec": sec,
                "raw": runs,
                "rows_out": rows,
            }
            print(
                f"x{scale}: p11 median {sec}s of {runs}; {rows} scored",
                file=sys.stderr,
            )
        s = block["scales"]
        block["step_alpha"] = _step_alpha(s["x10"]["sec"], s["x100"]["sec"])
        results["p11_dsir_x100"] = block
        save()

    print(json.dumps({k: results[k] for k in
                      ("d15_fuzzy_x100", "p11_dsir_x100")
                      if k in results}, indent=2))


if __name__ == "__main__":
    main()

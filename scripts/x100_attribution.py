#!/usr/bin/env python
"""Attribute the x100 step exponents (r12 follow-up to
x100_extension.py).

Two questions the raw x10→x100 table can't answer:

1. The graph family's exponents (g01 1.41, g03 1.27, d06 1.04) — is
   the PLAN superlinear, or is the fixed-vocab fixture's similarity
   GRAPH densifying (the known df² candidate artifact, measured
   through x30 and explained by the Heaps sweep)? Answer by counting
   the verified-pair EDGE set each of those ops consumes at both
   scales and computing per-edge wall: if sec/edge is ~flat, the
   plans are linear in |E| and the exponent is input densification.

2. d10's α 1.73 at default knobs (3 planes → 8 buckets → pop²
   growth) is the documented planes-scale-with-corpus rule showing
   up on schedule. Measure the KNOBBED path at both scales —
   planes chosen so bucket population stays ~80-100 (x10/20k: 8
   planes, x100/200k: 11 planes) — to show the escape holds at the
   second decade. (The knobbed output legitimately differs from the
   3-plane catalog contract: bucket borders move. This measures the
   production posture, not the oracle-pinned query.)

Merges an `x100_attribution` block into SCALE_REHEARSAL.json.
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
D10_PLANES = {10: 8, 100: 11}  # ~80-100 vectors per bucket


def _median_wall(fn, gc) -> tuple[float, list[float], int]:
    runs, n = [], None
    for _ in range(REPS):
        gc()
        t0 = time.perf_counter()
        n = fn().count()
        runs.append(round(time.perf_counter() - t0, 3))
    return round(statistics.median(runs), 3), runs, n


def main() -> None:
    from pyspark.sql import functions as F

    from omop_dump_to_parquet_spark import load_catalog
    from omop_dump_to_parquet_spark.operators.dedup import (
        SEMDEDUP_TAU,
        semdedup_prune,
    )
    from omop_dump_to_parquet_spark.operators.graph import _d03_pairs
    from omop_dump_to_parquet_spark.session import get_spark
    from omop_dump_to_parquet_spark.sources.parquet import table
    from omop_dump_to_parquet_spark.functions.vectors import to_double_array

    queries, _ = load_catalog()
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    gc = spark.sparkContext._jvm.System.gc
    root = os.path.join(os.path.dirname(__file__), "..", ".scale")

    block: dict = {"graph_edges": {}, "d10_knobbed": {}}
    for scale in (10, 100):
        sf_dir = os.path.join(root, f"x{scale}")
        n_edges = _d03_pairs(spark, sf_dir).count()
        block["graph_edges"][f"x{scale}"] = n_edges
        print(f"x{scale}: graph input edges = {n_edges}", file=sys.stderr)

        emb = table(spark, sf_dir, "embeddings").select(
            "vec_id", to_double_array("embedding").alias("emb")
        )
        planes = D10_PLANES[scale]
        sec, runs, rows = _median_wall(
            lambda: semdedup_prune(emb, planes, SEMDEDUP_TAU), gc
        )
        block["d10_knobbed"][f"x{scale}"] = {
            "n_planes": planes,
            "sec": sec,
            "raw": runs,
            "rows_out": rows,
        }
        print(
            f"x{scale}: d10 knobbed ({planes} planes) median {sec}s "
            f"of {runs}, {rows} rows",
            file=sys.stderr,
        )

    e10, e100 = block["graph_edges"]["x10"], block["graph_edges"]["x100"]
    block["edges_step_alpha"] = round(math.log(e100 / e10) / math.log(10), 3)
    block["d10_knobbed"]["step_alpha"] = round(
        math.log(
            block["d10_knobbed"]["x100"]["sec"]
            / block["d10_knobbed"]["x10"]["sec"]
        )
        / math.log(10),
        3,
    )

    out = os.path.join(os.path.dirname(__file__), "..", "SCALE_REHEARSAL.json")
    results = {}
    if os.path.exists(out):
        with open(out) as fh:
            results = json.load(fh)
    # per-edge attribution for the graph family, read from the
    # x100_extension rows this block explains
    ext = results.get("x100_extension", {}).get("ops", {})
    per_edge = {}
    for op in ("g01_pagerank", "g03_triangle_count", "d06_dedup_clusters"):
        if op in ext:
            per_edge[op] = {
                "us_per_edge_x10": round(ext[op]["x10"]["sec"] / e10 * 1e6, 2),
                "us_per_edge_x100": round(
                    ext[op]["x100"]["sec"] / e100 * 1e6, 2
                ),
            }
    block["graph_us_per_edge"] = per_edge
    block["note"] = (
        "r12: graph-family x100 exponents attributed to INPUT edge "
        "growth on the fixed-vocab fixture (edges step alpha "
        f"{block['edges_step_alpha']}); d10's production knobbed path "
        "(planes scaled to hold ~100 vectors/bucket) measured at both "
        "scales"
    )
    results["x100_attribution"] = block
    with open(out, "w") as fh:
        json.dump(results, fh, indent=2)
    print(json.dumps(block, indent=2))
    spark.stop()


if __name__ == "__main__":
    main()

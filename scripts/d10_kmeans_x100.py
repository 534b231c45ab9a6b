#!/usr/bin/env python
"""d10's K∝N k-means scale path at x10/x100 (r12).

x100_attribution.py measured that hyperplane bucketing stops
splitting once buckets align with the fixture's tight Gaussian
clusters (max bucket 1,531 → 15,323 for 10× vectors at the
planes-rule counts; knobbed step α 1.91). This script measures the
escape: :func:`kmeans_bucket_assign` (K = N/100, 3 Lloyd GEMM-assign
iterations) + :func:`semdedup_prune_bucketed`, end-to-end, at x10
(20k vectors, K=200) and x100 (200k, K=2000) — the SemDeDup paper's
own clustering design. Records wall, bucket-population stats
(max / Σpop², the quantities that drive pair work), and the step
exponent; merges into
SCALE_REHEARSAL.json's `x100_attribution` block.
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
K_DIVISOR = 100  # K = N / 100 -> ~100 vectors per cell on average


def main() -> None:
    from pyspark.sql import functions as F

    from omop_dump_to_parquet_spark import load_catalog
    from omop_dump_to_parquet_spark.operators.dedup import (
        SEMDEDUP_TAU,
        semdedup_prune_bucketed,
    )
    from omop_dump_to_parquet_spark.operators.similarity import (
        kmeans_bucket_assign,
        kmeans_bucket_assign_2level,
    )
    from omop_dump_to_parquet_spark.session import get_spark
    from omop_dump_to_parquet_spark.sources.parquet import table
    from omop_dump_to_parquet_spark.functions.vectors import to_double_array

    load_catalog()
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    root = os.path.join(os.path.dirname(__file__), "..", ".scale")

    variants = {
        "flat": (kmeans_bucket_assign, "d10_kmeans_bucketed"),
        "2level": (kmeans_bucket_assign_2level, "d10_kmeans_2level"),
    }
    asked = sys.argv[1:] or ["2level"]
    unknown = set(asked) - set(variants)
    if unknown:
        sys.exit(f"unknown variants: {sorted(unknown)} (know: flat, 2level)")

    blocks: dict[str, dict] = {}
    for name in asked:
        bucketer, block_key = variants[name]
        out_rows: dict[str, dict] = {}
        for scale in (10, 100):
            sf_dir = os.path.join(root, f"x{scale}")
            emb = table(spark, sf_dir, "embeddings").select(
                "vec_id", to_double_array("embedding").alias("emb")
            )
            n = emb.count()
            k = max(1, n // K_DIVISOR)
            runs, removed = [], None
            for _ in range(REPS):
                spark.sparkContext._jvm.System.gc()
                t0 = time.perf_counter()
                buckets = bucketer(emb, k, iters=3)
                removed = semdedup_prune_bucketed(
                    buckets, SEMDEDUP_TAU
                ).count()
                runs.append(round(time.perf_counter() - t0, 3))
            pops = (
                bucketer(emb, k, iters=3)
                .groupBy("bucket")
                .count()
                .agg(
                    F.max("count").alias("mx"),
                    F.sum(F.col("count") * F.col("count")).alias("sum_sq"),
                )
                .first()
            )
            out_rows[f"x{scale}"] = {
                "n_vectors": n,
                "k": k,
                "sec": round(statistics.median(runs), 3),
                "raw": runs,
                "removed": removed,
                "max_bucket": int(pops["mx"]),
                "sum_pop_sq": int(pops["sum_sq"]),
            }
            print(f"{name} x{scale}: {out_rows[f'x{scale}']}", file=sys.stderr)
        out_rows["step_alpha"] = round(
            math.log(out_rows["x100"]["sec"] / out_rows["x10"]["sec"])
            / math.log(10),
            3,
        )
        blocks[block_key] = out_rows

    path = os.path.join(os.path.dirname(__file__), "..", "SCALE_REHEARSAL.json")
    results = {}
    if os.path.exists(path):
        with open(path) as fh:
            results = json.load(fh)
    block = results.setdefault("x100_attribution", {})
    block.update(blocks)
    with open(path, "w") as fh:
        json.dump(results, fh, indent=2)
    print(json.dumps(blocks, indent=2))
    spark.stop()


if __name__ == "__main__":
    main()

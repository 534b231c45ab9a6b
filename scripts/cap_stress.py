#!/usr/bin/env python
"""Hot-bucket cap stress: measure MAX_BUCKET's effect in the
boilerplate regime it targets.

Corpus: the x1 realistic fixture (5k docs, planted near-dup clusters;
build it with ``scripts/gen_scale_fixture.py``) plus 5 boilerplate
templates × N_COPIES near-identical copies each (1-token mutation per
copy — the "same TOS page on a million sites" shape). Template
buckets are enormous at every core band; mutated bands are tiny.

Measurements (CAP_STRESS.json + stdout), candidates from
``lsh_candidate_pairs`` over the kernel's band keys
(``minhash_prepared``, checkpointed so only candidate generation is
timed):

1. UNCAPPED wall time + candidate count: the quadratic in-bucket
   blowup the cap exists to stop (C(N,2)·templates pairs).
2. CAPPED wall time + candidate count: bounded work; boilerplate
   pairs survive only via small mutated-band buckets.
3. Realistic-corpus pairs must be IDENTICAL with and without the cap
   (their buckets never cap).
4. Of the capped run's boilerplate pairs, how many have their FIRST
   raw shared band inside a capped bucket: pairs found only because
   any surviving band emits a pair.
"""
from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

N_TEMPLATES = 5
N_COPIES = 1500
CAP = 500  # > any realistic bucket, < the ~1500-member template buckets
REALISTIC_MAX_ID = 1_000_000  # realistic doc ids stay below this


def main() -> None:
    import numpy as np
    from pyspark.sql import functions as F

    from omop_dump_to_parquet_spark.operators import dedup as D
    from omop_dump_to_parquet_spark.session import get_spark

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")

    real = (
        spark.read.parquet(
            os.path.join(
                os.path.dirname(__file__), "..", ".scale", "x1",
                "documents.parquet",
            )
        ).select("doc_id", "text")
    )

    rng = np.random.default_rng(7)
    vocab = [f"w{i:04d}" for i in range(2000)]
    rows = []
    next_id = REALISTIC_MAX_ID
    for t in range(N_TEMPLATES):
        template = [vocab[int(i)] for i in rng.integers(0, 2000, size=50)]
        for _ in range(N_COPIES):
            copy = list(template)
            copy[int(rng.integers(0, 50))] = vocab[int(rng.integers(0, 2000))]
            rows.append((next_id, " ".join(copy)))
            next_id += 1
    boiler = spark.createDataFrame(rows, "doc_id bigint, text string")
    docs = real.unionByName(boiler).localCheckpoint(eager=True)

    prepared = (
        D.minhash_prepared(docs)
        .select("doc_id", "nw", "keys")
        .localCheckpoint(eager=True)  # time candidate gen, not signatures
    )

    def run(cap: int) -> tuple[float, int, int]:
        runs, n, n_real = [], 0, 0
        for _ in range(3):
            t0 = time.perf_counter()
            cands = D.lsh_candidate_pairs(prepared, max_bucket=cap)
            agg = cands.agg(
                F.count(F.lit(1)).alias("n"),
                F.count(
                    F.when(F.col("doc_a") < REALISTIC_MAX_ID, F.lit(1))
                ).alias("n_real"),
            ).collect()[0]
            runs.append(time.perf_counter() - t0)
            n, n_real = int(agg["n"]), int(agg["n_real"])
        return statistics.median(runs), n, n_real

    t_un, n_un, nr_un = run(cap=1 << 40)
    t_cap, n_cap, nr_cap = run(cap=CAP)

    # every pair INVOLVING a realistic doc must be identical with and
    # without the cap (doc ids sort real < boiler, so doc_a < M covers
    # pure-real AND mixed real-boiler pairs — the mixed ones are the
    # likeliest to straddle a capped bucket)
    def real_pairs(cap: int) -> set:
        return {
            (r["doc_a"], r["doc_b"])
            for r in D.lsh_candidate_pairs(prepared, max_bucket=cap)
            .filter(F.col("doc_a") < REALISTIC_MAX_ID)
            .collect()
        }

    same_real = real_pairs(1 << 40) == real_pairs(CAP)

    # Of the capped run's boilerplate pairs: whose first RAW shared
    # band sits in a capped bucket?
    karr = prepared.select("doc_id", "keys")
    banded = karr.select(
        "doc_id", F.posexplode("keys").alias("band", "bkey")
    )
    capped_buckets = (
        banded.groupBy("band", "bkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > CAP)
        .groupBy("band")
        .agg(F.collect_list("bkey").alias("ck"))
        .groupBy()
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("band", "ck"))
            ).alias("cm")
        )
    )
    cands_cap = D.lsh_candidate_pairs(prepared, max_bucket=CAP).filter(
        F.col("doc_a") >= REALISTIC_MAX_ID
    )
    ka = karr.select(
        F.col("doc_id").alias("doc_a"), F.col("keys").alias("keys_a")
    )
    kb = karr.select(
        F.col("doc_id").alias("doc_b"), F.col("keys").alias("keys_b")
    )
    first_raw_band = F.array_position(
        F.zip_with(
            F.col("keys_a"), F.col("keys_b"), lambda x, y: x.eqNullSafe(y)
        ),
        F.lit(True),
    )  # 1-based; 0 if no raw collision (impossible for emitted pairs)
    first_raw_capped = F.coalesce(
        F.array_contains(
            F.try_element_at(F.col("cm"), (first_raw_band - 1).cast("int")),
            F.element_at(F.col("keys_a"), first_raw_band.cast("int")),
        ),
        F.lit(False),
    )
    recovered = (
        cands_cap.join(F.broadcast(ka), "doc_a")
        .join(F.broadcast(kb), "doc_b")
        .crossJoin(F.broadcast(capped_buckets))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(first_raw_capped, F.lit(1))).alias("n_rec"),
        )
        .collect()[0]
    )

    out = {
        "corpus": {
            "realistic_docs": real.count(),
            "boilerplate_docs": N_TEMPLATES * N_COPIES,
            "templates": N_TEMPLATES,
            "cap": CAP,
        },
        "uncapped": {"sec": round(t_un, 2), "pairs": n_un,
                     "realistic_pairs": nr_un},
        "capped": {"sec": round(t_cap, 2), "pairs": n_cap,
                   "realistic_pairs": nr_cap},
        "realistic_sets_identical": same_real,
        "boiler_pairs_under_cap": int(recovered["n"]),
        "boiler_pairs_first_raw_band_capped": int(recovered["n_rec"]),
    }
    path = os.path.join(os.path.dirname(__file__), "..", "CAP_STRESS.json")
    with open(path, "w") as fh:
        json.dump(out, fh, indent=2)
    print(json.dumps(out, indent=2))
    spark.stop()


if __name__ == "__main__":
    main()

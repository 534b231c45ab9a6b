#!/usr/bin/env python
"""Hot-bucket cap stress (r6): measure MAX_BUCKET's effect in the
boilerplate regime it targets, and quantify what the r6 cap-aware
first-band fix recovers.

Corpus: the x1 realistic fixture (5k docs, planted near-dup clusters)
plus 5 boilerplate templates × N_COPIES near-identical copies each
(1-token mutation per copy — the "same TOS page on a million sites"
shape). Template buckets are enormous at every core band; mutated
bands are tiny.

Three measurements (CAP_STRESS.json + stdout table):

1. UNCAPPED wall time + candidate count: the quadratic in-bucket
   blowup the cap exists to stop (C(N,2)·templates pairs).
2. CAPPED wall time + candidate count: bounded work; boilerplate
   pairs survive only via small mutated-band buckets.
3. Cap-aware recovery: of the capped run's boilerplate pairs, how
   many have their FIRST RAW shared band inside a capped bucket —
   exactly the pairs the r5 raw-key earlier-band check suppressed
   (it tested "no earlier band matched" against bands the cap had
   dropped). Expected: ~all of them, i.e. the r5 formulation found
   ~zero boilerplate pairs under cap; realistic-corpus pairs must be
   IDENTICAL with and without the cap (their buckets never cap).
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

    nw_df = docs.select(
        "doc_id",
        F.size(F.array_distinct(F.split(F.col("text"), " "))).alias("nw"),
    )
    sigs = (
        D.minhash_signatures(docs).join(nw_df, "doc_id")
        .localCheckpoint(eager=True)  # time candidate gen, not signatures
    )

    def run(cap: int, dedupe: str = "first_band") -> tuple[float, int, int]:
        # median-of-3, matching the rest of the r7+ measurement stack
        # (min-of-reps let one lucky rep contradict the driver —
        # advisor r7; bench.py / heaps_sweep / scale_rehearsal all
        # moved already)
        runs, n, n_real = [], 0, 0
        for _ in range(3):
            t0 = time.perf_counter()
            cands = D.lsh_candidate_pairs(
                sigs, size_ratio=(9, 10), max_bucket=cap, dedupe=dedupe
            )
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
    # the r7 scale-mode twin (anti-join cap + groupBy dedupe): must
    # find the identical pair set; its timing is the measured cost of
    # trading the carried-array formulation for map-free capping
    t_gb, n_gb, nr_gb = run(cap=CAP, dedupe="group_by")
    # r9 adaptive mode: 5 capped keys/band is far below the measured
    # crossover, so the probe must stay on first_band here and find
    # the identical pair set; its timing includes the probe job,
    # i.e. the real cost of not choosing manually
    t_auto, n_auto, nr_auto = run(cap=CAP, dedupe="auto")

    # every pair INVOLVING a realistic doc must be identical with and
    # without the cap (doc ids sort real < boiler, so doc_a < M covers
    # pure-real AND mixed real-boiler pairs — the mixed ones are the
    # likeliest to straddle a capped bucket; review finding r6)
    def real_pairs(cap: int) -> set:
        return {
            (r["doc_a"], r["doc_b"])
            for r in D.lsh_candidate_pairs(
                sigs, size_ratio=(9, 10), max_bucket=cap
            )
            .filter(F.col("doc_a") < REALISTIC_MAX_ID)
            .collect()
        }

    same_real = real_pairs(1 << 40) == real_pairs(CAP)

    # Of the capped run's boilerplate pairs: whose first RAW shared
    # band sits in a capped bucket? (== the set the r5 raw-key check
    # suppressed). Recompute band keys + capped buckets, then test
    # each emitted pair's earliest raw collision.
    karr = sigs.select("doc_id", D.band_keys().alias("keys"))
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
    cands_cap = D.lsh_candidate_pairs(
        sigs, size_ratio=(9, 10), max_bucket=CAP
    ).filter(F.col("doc_a") >= REALISTIC_MAX_ID)
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

    # r9 crossover sweep: the quantity first_band's per-row map scan
    # is linear in is capped keys per band (= template count here);
    # sweep it with everything else fixed to place dedupe="auto"'s
    # threshold on measurement. Boilerplate-only corpora (40 copies
    # per template, cap 30 → every template caps every core band).
    crossover = {}
    for n_templates in (5, 50, 200, 600):
        xrows, nid = [], 0
        for t in range(n_templates):
            template = [
                vocab[int(i)] for i in rng.integers(0, 2000, size=50)
            ]
            for _ in range(40):
                copy = list(template)
                copy[int(rng.integers(0, 50))] = vocab[
                    int(rng.integers(0, 2000))
                ]
                xrows.append((nid, " ".join(copy)))
                nid += 1
        xdocs = spark.createDataFrame(
            xrows, "doc_id bigint, text string"
        ).localCheckpoint(eager=True)
        xnw = xdocs.select(
            "doc_id",
            F.size(F.array_distinct(F.split("text", " "))).alias("nw"),
        )
        xsigs = (
            D.minhash_signatures(xdocs).join(xnw, "doc_id")
            .localCheckpoint(eager=True)
        )
        entry = {}
        for mode in ("first_band", "group_by"):
            runs = []
            n_pairs = 0
            for _ in range(3):
                t0 = time.perf_counter()
                n_pairs = D.lsh_candidate_pairs(
                    xsigs, size_ratio=(9, 10), max_bucket=30, dedupe=mode
                ).count()
                runs.append(time.perf_counter() - t0)
            entry[mode] = {
                "sec": round(statistics.median(runs), 2), "pairs": n_pairs
            }
        entry["same_pairs"] = (
            entry["first_band"]["pairs"] == entry["group_by"]["pairs"]
        )
        crossover[f"capped_keys_per_band_{n_templates}"] = entry
        print(
            f"crossover {n_templates}: {entry}", file=sys.stderr,
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
        "capped_group_by_mode": {"sec": round(t_gb, 2), "pairs": n_gb,
                                 "realistic_pairs": nr_gb,
                                 "same_pairs_as_first_band":
                                     n_gb == n_cap and nr_gb == nr_cap},
        "capped_auto_mode": {"sec": round(t_auto, 2), "pairs": n_auto,
                             "realistic_pairs": nr_auto,
                             "same_pairs_as_first_band":
                                 n_auto == n_cap and nr_auto == nr_cap},
        "realistic_sets_identical": same_real,
        "boiler_pairs_under_cap": int(recovered["n"]),
        "boiler_pairs_first_raw_band_capped": int(recovered["n_rec"]),
        "crossover": crossover,
    }
    path = os.path.join(os.path.dirname(__file__), "..", "CAP_STRESS.json")
    with open(path, "w") as fh:
        json.dump(out, fh, indent=2)
    print(json.dumps(out, indent=2))
    spark.stop()


if __name__ == "__main__":
    main()

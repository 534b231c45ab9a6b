#!/usr/bin/env python
"""×1/×3/×10 rehearsal for d04's BEYOND-BROADCAST verify path
(r11 verdict task 3).

``verify_jaccard_pairs(use_broadcast=False)`` is the claimed 100 TB
path for the headline heavyweight — at ~10⁶+ docs the per-doc token
table outgrows a broadcast and both verify joins become shuffle joins
on doc id — but its only prior measurement was the sf0.1 bench
secondary. This script gives it the same evidence the broadcast path
has: wall time and candidate counts over the ``.scale/x{1,3,10}``
fixtures (median-of-3, smallest-scale-first so JVM warmup cannot
flatter the big runs), plus an output-identity assertion against the
broadcast path at every scale (the "identical output" claim in the
docstring, re-proven on the rehearsal data rather than only in
tests).

Merges a ``d04_beyond_broadcast_extension`` block into
SCALE_REHEARSAL.json; all other blocks are preserved.
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
SCALES = (1, 3, 10)


def main() -> None:
    from omop_dump_to_parquet_spark import load_catalog
    from omop_dump_to_parquet_spark.operators.dedup import (
        MINHASH_THRESHOLD,
        d04_candidate_pairs,
        verify_jaccard_pairs,
    )
    from omop_dump_to_parquet_spark.session import get_spark
    from omop_dump_to_parquet_spark.sources.parquet import table

    load_catalog()
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    root = os.path.join(os.path.dirname(__file__), "..", ".scale")

    block: dict = {
        "note": (
            "r12: d04 verify_jaccard_pairs(use_broadcast=False) — the "
            "beyond-broadcast (shuffle-join) verify claimed as the "
            "10^6+-doc path; median-of-3 wall over .scale x1/x3/x10, "
            "output asserted identical to the broadcast path per scale"
        ),
        "scales": {},
    }
    for scale in SCALES:
        sf_dir = os.path.join(root, f"x{scale}")
        docs = table(spark, sf_dir, "documents")
        n_cand = d04_candidate_pairs(docs).count()
        runs, rows = [], None
        for _ in range(REPS):
            spark.sparkContext._jvm.System.gc()
            t0 = time.perf_counter()
            rows = verify_jaccard_pairs(
                docs,
                d04_candidate_pairs(docs),
                MINHASH_THRESHOLD,
                use_broadcast=False,
            ).count()
            runs.append(round(time.perf_counter() - t0, 3))
        # identity vs the broadcast path on the SAME data: compare the
        # full verified pair sets SYMMETRICALLY — shuffle-minus-
        # broadcast AND broadcast-minus-shuffle — so pairs either path
        # emits that the other lacks are caught (the r12 advisor found
        # the original one-directional exceptAll could pass silently
        # when the broadcast side emitted extra pairs).
        # persist both sides: each exceptAll evaluates BOTH inputs,
        # so uncached lineages would run each expensive verify
        # pipeline twice (4 executions instead of 2 — r13 review)
        shuf = verify_jaccard_pairs(
            docs,
            d04_candidate_pairs(docs),
            MINHASH_THRESHOLD,
            use_broadcast=False,
        ).select("doc_a", "doc_b").persist()
        bcast = verify_jaccard_pairs(
            docs, d04_candidate_pairs(docs), MINHASH_THRESHOLD
        ).select("doc_a", "doc_b").persist()
        extra_shuf = shuf.exceptAll(bcast).count()
        extra_bcast = bcast.exceptAll(shuf).count()
        shuf.unpersist()
        bcast.unpersist()
        if extra_shuf or extra_bcast:
            sys.exit(
                f"x{scale}: paths DIVERGE (shuffle-only pairs: "
                f"{extra_shuf}, broadcast-only pairs: {extra_bcast})"
            )
        block["scales"][f"x{scale}"] = {
            "sec": round(statistics.median(runs), 3),
            "raw": runs,
            "candidates": n_cand,
            "pairs_out": rows,
            "identical_to_broadcast": True,
        }
        print(
            f"x{scale}: median {statistics.median(runs):.2f}s of {runs}, "
            f"{n_cand} candidates -> {rows} pairs (identical to "
            "broadcast path)",
            file=sys.stderr,
        )

    pts = [
        (math.log(s), math.log(block["scales"][f"x{s}"]["sec"]))
        for s in SCALES
    ]
    mx = sum(p[0] for p in pts) / len(pts)
    my = sum(p[1] for p in pts) / len(pts)
    block["alpha"] = round(
        sum((x - mx) * (y - my) for x, y in pts)
        / sum((x - mx) ** 2 for x, _ in pts),
        3,
    )
    c1 = block["scales"]["x1"]["candidates"]
    c10 = block["scales"]["x10"]["candidates"]
    block["candidates_alpha"] = (
        round(math.log(c10 / c1) / math.log(10), 3)
        if c1 > 0 and c10 > 0
        else None
    )

    out = os.path.join(os.path.dirname(__file__), "..", "SCALE_REHEARSAL.json")
    results = {}
    if os.path.exists(out):
        with open(out) as fh:
            results = json.load(fh)
    results["d04_beyond_broadcast_extension"] = block
    with open(out, "w") as fh:
        json.dump(results, fh, indent=2)
    print(
        f"alpha {block['alpha']} candidates_alpha "
        f"{block['candidates_alpha']} -> merged into SCALE_REHEARSAL.json"
    )
    spark.stop()


if __name__ == "__main__":
    main()

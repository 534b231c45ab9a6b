#!/usr/bin/env python
"""Catalog-wide compile-constant audit.

Times every catalog id at sf0.001 on one warm session. At that size
the DATA cost of every operator is negligible, so the wall time IS
the operator's fixed constant: driver-side plan construction,
Catalyst analysis/optimization, codegen, and job-scheduling floor.
A large constant is invisible in the ×10 rehearsal exponents (it
divides out of the slope — s13's ~15s Catalyst blowup measured
α=0.06) but dominates interactive use, which is why this probe found
the s13 CollapseProject blowup and s07's 64-column decimal agg.

Two timed reps per id AFTER a throwaway warmup rep; the MIN is
reported (we are measuring a constant, not a distribution — any
excess over the true constant is other-tenant noise). Ids above
``FLAG_SEC`` are listed for triage with the expectation that their
constant decomposes into real bounded job counts (documented in
SCALING.md), not plan blowup. Emits CONSTANT_AUDIT.json.

Usage: constant_audit.py [sf_dir]   (default /root/testdata/sf0.001)
"""
from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

FLAG_SEC = 3.0


def main() -> int:
    from omop_dump_to_parquet_spark import load_catalog
    from omop_dump_to_parquet_spark.force import forced_count
    from omop_dump_to_parquet_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    queries, _ = load_catalog()
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")

    walls: dict[str, dict] = {}
    t_start = time.time()
    for qid, fn in queries.items():
        runs = []
        for rep in range(3):
            t0 = time.perf_counter()
            forced_count(fn(spark, sf_dir))
            dt = round(time.perf_counter() - t0, 3)
            if rep > 0:  # rep 0 is session/scan warmup, discarded
                runs.append(dt)
        walls[qid] = {"sec": min(runs), "raw": runs}
        print(f"{qid}: {min(runs):.2f}s of {runs}", file=sys.stderr)

    flagged = sorted(
        (q for q, v in walls.items() if v["sec"] > FLAG_SEC),
        key=lambda q: -walls[q]["sec"],
    )
    out = {
        "sf_dir": sf_dir,
        "flag_sec": FLAG_SEC,
        "total_wall_s": round(time.time() - t_start, 1),
        "median_constant_s": round(
            statistics.median(v["sec"] for v in walls.values()), 3
        ),
        "flagged": {q: walls[q]["sec"] for q in flagged},
        "walls": walls,
    }
    path = os.path.join(os.path.dirname(__file__), "..", "CONSTANT_AUDIT.json")
    with open(path, "w") as fh:
        json.dump(out, fh, indent=2)
    print(
        f"\n{len(walls)} ids in {out['total_wall_s']}s; median constant "
        f"{out['median_constant_s']}s; {len(flagged)} over {FLAG_SEC}s: "
        f"{ {q: walls[q]['sec'] for q in flagged} }"
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

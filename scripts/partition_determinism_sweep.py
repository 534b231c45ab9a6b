#!/usr/bin/env python
"""Partitioning/AQE-determinism sweep: every catalog query executed
at 32 vs 7 shuffle partitions, then at AQE-on vs AQE-off, results
compared Spark-vs-Spark each time.

Pass = results are independent of partitioning/summation order AND of
adaptive runtime re-planning (coalesced partitions, runtime join-
strategy switches, skew splits) — the properties that make
1000-executor runs reproducible run-to-run (and the same properties
the exact-DECIMAL accumulation + explicit tie-breaks exist to
provide). A float sum routed through a plain double accumulator, or a
window ordered on a non-unique key, shows up here as a mismatch even
when both runs individually look plausible. Results land in
PARTITION_DETERMINISM.json.

Usage:  python scripts/partition_determinism_sweep.py [sf_dir]
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tests"))

WIDE, NARROW = "32", "7"


def main() -> int:
    import pandas as pd

    from test_parity import normalize

    from omop_dump_to_parquet_spark import load_catalog
    from omop_dump_to_parquet_spark.session import (
        apply_runtime_confs,
        get_spark,
    )

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark()  # cores: env SPARK_GRAFT_CPUS or the host
    spark.sparkContext.setLogLevel("ERROR")
    queries, _ = load_catalog()

    def session(
        width: str,
        aqe: str,
        arrow_batch: str | None = None,
        codegen: str | None = None,
        auto_bcast: str | None = None,
        leaf_par: str | None = None,
    ) -> object:
        s = spark.newSession()
        apply_runtime_confs(s)
        s.conf.set("spark.sql.shuffle.partitions", width)
        s.conf.set("spark.sql.adaptive.enabled", aqe)
        if arrow_batch is not None:
            s.conf.set(
                "spark.sql.execution.arrow.maxRecordsPerBatch", arrow_batch
            )
        if codegen is not None:
            s.conf.set("spark.sql.codegen.wholeStage", codegen)
        if auto_bcast is not None:
            s.conf.set("spark.sql.autoBroadcastJoinThreshold", auto_bcast)
            # AQE has its own copy of the threshold for runtime
            # join-strategy flips — set both or the axis only covers
            # the static planner
            s.conf.set(
                "spark.sql.adaptive.autoBroadcastJoinThreshold", auto_bcast
            )
        if leaf_par is not None:
            s.conf.set("spark.sql.leafNodeDefaultParallelism", leaf_par)
        return s

    def sweep(label: str, sess_a, sess_b) -> dict:
        fails: list[str] = []
        t0 = time.time()
        for qid, fn in queries.items():
            try:
                a = normalize(fn(sess_a, sf_dir).toPandas())
                b = normalize(fn(sess_b, sf_dir).toPandas())
                pd.testing.assert_frame_equal(a, b, check_dtype=False)
            except Exception as ex:  # noqa: BLE001 — sweep reports
                fails.append(qid)
                print(f"UNSTABLE [{label}] {qid}: {str(ex)[:200]}",
                      flush=True)
        wall = round(time.time() - t0, 1)
        n = len(queries)
        print(f"[{label}] {n - len(fails)}/{n} stable in {wall}s; "
              f"unstable: {fails}", flush=True)
        return {"stable": n - len(fails), "total": n,
                "unstable": fails, "wall_s": wall}

    results = {
        f"partitions_{WIDE}_vs_{NARROW}": sweep(
            f"{WIDE}-vs-{NARROW} partitions",
            session(WIDE, "true"), session(NARROW, "true"),
        ),
        "aqe_on_vs_off": sweep(
            "AQE on-vs-off",
            session(WIDE, "true"), session(WIDE, "false"),
        ),
        # Arrow batch-boundary independence (third axis): a tiny
        # maxRecordsPerBatch re-slices every mapInArrow kernel's
        # input into many small batches — a kernel that accumulates
        # state ACROSS batch boundaries (or emits batch-relative
        # values) diverges here while passing both other axes.
        # applyInArrow groups are delivered whole regardless, so this
        # axis specifically certifies the map_rows and map_batches
        # kernels (multimodal decoders, text kernels, streaming
        # foreachBatch bodies) as batch-shape-independent.
        "arrow_batch_default_vs_7": sweep(
            "arrow-batch default-vs-7",
            session(WIDE, "true"), session(WIDE, "true", arrow_batch="7"),
        ),
        # Codegen-vs-interpreted (fourth axis): wholeStage=false
        # routes every expression through the interpreted (Volcano)
        # evaluation path instead of generated Java — the two
        # implementations are distinct code, and subtle semantics
        # (null handling, overflow checks, HOF closures, decimal
        # rounding) have historically diverged between them upstream.
        # A catalog stable across this axis doesn't depend on WHICH
        # evaluator Spark picks — relevant at 100 TB because codegen
        # falls back to interpreted per-stage when generated code
        # exceeds JIT/bytecode limits (wide plans do this silently).
        "codegen_on_vs_off": sweep(
            "codegen on-vs-off",
            session(WIDE, "true"),
            session(WIDE, "true", codegen="false"),
        ),
        # Join-strategy independence (fifth axis): threshold -1
        # forces sort-merge/shuffled-hash everywhere the planner (or
        # AQE at runtime) would have AUTO-chosen broadcast; explicit
        # F.broadcast hints survive by design. A catalog stable here
        # doesn't depend on WHICH join strategy runs — the property
        # that matters at 100 TB where a dim table outgrows the
        # threshold between runs and the plan silently flips. Catches
        # order-sensitive consumers downstream of a join (collect_list
        # without sort_array, first() without ordering) that the
        # partition axes can miss when the join keeps sides colocated.
        "broadcast_vs_sortmerge": sweep(
            "auto-broadcast vs forced-SMJ",
            session(WIDE, "true"),
            session(WIDE, "true", auto_bcast="-1"),
        ),
        # Leaf-parallelism independence (sixth axis): driver-built
        # DataFrames (createDataFrame of centroids, quota tables,
        # learned merges, boundary buckets) slice by
        # leafNodeDefaultParallelism, which shuffle.partitions does NOT
        # touch — forcing 1 re-slices every such leaf into a single
        # partition and exposes any kernel that accumulates across (or
        # emits relative to) leaf-slice boundaries.
        "leaf_parallelism_default_vs_1": sweep(
            "leaf-parallelism default-vs-1",
            session(WIDE, "true"),
            session(WIDE, "true", leaf_par="1"),
        ),
    }
    spark.stop()

    out = os.path.join(os.path.dirname(__file__), "..",
                       "PARTITION_DETERMINISM.json")
    with open(out, "w") as fh:
        json.dump({"sf_dir": sf_dir, "sweeps": results}, fh, indent=2)
        fh.write("\n")
    print(f"-> {os.path.abspath(out)}")
    return 1 if any(r["unstable"] for r in results.values()) else 0


if __name__ == "__main__":
    raise SystemExit(main())

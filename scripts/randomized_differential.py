#!/usr/bin/env python
"""Randomized-fixture differential sweep: the full catalog vs
its DuckDB oracles on N freshly-generated random fixture sets
(``gen_random_fixture.py`` — same schemas/domains as the driver
fixture, fresh seeded draws, harsher edge distributions: planted
exact/near dups, orderless customers, NULL event values, a duplicate
embedding).

Pass = oracle agreement is a property of the OPERATORS, not of the
one seed-42 fixture the driver gate and full_differential_sweep run
against. Results land in RANDOMIZED_DIFF.json.

Usage:  python scripts/randomized_differential.py [seed ...]
        (default seeds: 1 2 3)
"""
from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tests"))
sys.path.insert(0, os.path.dirname(__file__))


def main() -> int:
    import duckdb
    import pandas as pd

    from _duck import create_views
    from gen_random_fixture import gen_all
    from test_parity import normalize

    from omop_dump_to_parquet_spark import load_catalog
    from omop_dump_to_parquet_spark.session import get_spark

    seeds = [int(s) for s in sys.argv[1:]] or [1, 2, 3]
    # cores resolve inside get_spark (env SPARK_GRAFT_CPUS or the host) —
    # one default for the whole fleet, not per-script copies
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    queries, oracles = load_catalog()

    report: dict[str, dict] = {}
    rc = 0
    for seed in seeds:
        sf_dir = tempfile.mkdtemp(prefix=f"randfix_s{seed}_")
        try:
            # a generation/view failure on THIS seed must not discard
            # the completed seeds' results: record the
            # error and keep going; the merge below still writes.
            try:
                rows = gen_all(sf_dir, seed)
            except Exception as ex:  # noqa: BLE001 — sweep reports
                report[str(seed)] = {"error": str(ex)[:500]}
                rc |= 1
                print(f"seed {seed}: fixture generation FAILED: "
                      f"{str(ex)[:200]}", flush=True)
                continue
            con = duckdb.connect()
            create_views(con, sf_dir)
            fails: list[str] = []
            t0 = time.time()
            for qid, sql in oracles.items():
                try:
                    a = normalize(queries[qid](spark, sf_dir).toPandas())
                    b = normalize(con.sql(sql).df())
                    pd.testing.assert_frame_equal(a, b, check_dtype=False)
                except Exception as ex:  # noqa: BLE001 — sweep reports
                    fails.append(qid)
                    print(f"FAIL seed={seed} {qid}: {str(ex)[:200]}",
                          flush=True)
            wall = round(time.time() - t0, 1)
            report[str(seed)] = {
                "pass": len(oracles) - len(fails),
                "total": len(oracles),
                "fails": fails,
                "wall_s": wall,
                "rows": rows,
            }
            print(f"seed {seed}: {len(oracles) - len(fails)}/"
                  f"{len(oracles)} pass in {wall}s", flush=True)
            rc |= 1 if fails else 0
        finally:
            shutil.rmtree(sf_dir, ignore_errors=True)
    spark.stop()

    out = os.path.join(os.path.dirname(__file__), "..",
                       "RANDOMIZED_DIFF.json")
    # merge with prior runs so sweeping one extra seed never discards
    # the committed history of earlier seeds
    merged: dict[str, dict] = {}
    if os.path.exists(out):
        try:
            with open(out) as fh:
                merged = json.load(fh).get("seeds", {})
        except (OSError, ValueError):
            merged = {}
    merged.update(report)
    with open(out, "w") as fh:
        json.dump({"seeds": merged}, fh, indent=2, sort_keys=True)
        fh.write("\n")
    print(f"-> {os.path.abspath(out)}")
    return rc


if __name__ == "__main__":
    raise SystemExit(main())

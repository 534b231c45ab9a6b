#!/usr/bin/env python
"""DuckDB side of the engine-vs-engine headline comparison
(BASELINE.md "Engine-vs-engine at sf0.1").

Runs the ORACLE SQL of every headline catalog query (bench.py's
HEADLINE list — the byte-identical answers the differential gate
pins) on DuckDB with one thread per host CPU (or SPARK_GRAFT_CPUS)
against the same sf0.1 parquet, with
the same median-of-REPS methodology as bench.py, so each
BENCH artifact can be read against a SAME-DAY baseline number
instead of a stale one (host speed drifts: one box ran the identical
Spark plans ~25% slower than another).

Usage: python scripts/duckdb_headline.py  (env: SPARK_GRAFT_SF_DIR,
SPARK_GRAFT_BENCH_REPS, SPARK_GRAFT_CPUS)
"""
from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import duckdb  # noqa: E402

from _duck import create_views  # noqa: E402
from bench import HEADLINE  # noqa: E402
from omop_dump_to_parquet_spark import load_catalog  # noqa: E402
from omop_dump_to_parquet_spark.session import host_cores  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    threads = int(os.environ.get("SPARK_GRAFT_CPUS") or host_cores())
    _, oracles = load_catalog()

    con = duckdb.connect()
    con.sql(f"SET threads TO {threads}")
    create_views(con, sf_dir)
    timings: dict[str, float] = {}
    raw: dict[str, list[float]] = {}
    missing = []
    for name in HEADLINE:
        sql = oracles.get(name)
        if sql is None:
            missing.append(name)
            continue
        # SYMMETRIC evaluation contract with bench.py's Spark side
        # (count + sum-of-row-hash reduced ENGINE-side, one row out):
        # a fetchall() here would charge DuckDB ~0.4s of pure Python
        # tuple conversion on d04's 965k rows that Spark never pays,
        # while a bare count(*) would let DuckDB prune unreferenced
        # result columns that Spark's hash(*) forces — hash(t) over
        # the row struct forces every column.
        wrapped = (
            f"SELECT count(*) AS n, sum(hash(t)) AS h FROM ({sql}) t"
        )
        runs = []
        for _ in range(reps):
            t0 = time.perf_counter()
            n = con.sql(wrapped).fetchone()[0]
            runs.append(round(time.perf_counter() - t0, 3))
        raw[name] = runs
        timings[name] = round(statistics.median(runs), 3)
        print(
            f"# {name}: median {timings[name]:.3f}s of {runs} ({n} rows)",
            file=sys.stderr,
        )
    if missing:
        print(f"# no oracle (skipped): {missing}", file=sys.stderr)
    payload = {
        "metric": "duckdb_headline_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "threads": threads,
        "reps": reps,
        "queries": timings,
        "raw_timings": raw,
        "sf_dir": sf_dir,
        # A partial run (some headline ids lacking oracles)
        # must be self-describing IN the artifact, not only on stderr —
        # otherwise a partial total can silently overwrite a committed
        # full one. Empty list == every headline id was timed.
        "skipped": missing,
    }
    # Persist the artifact alongside bench_detail.json so every pair
    # BASELINE.md quotes has BOTH sides committable at the quoting
    # commit (a script that only PRINTS the JSON lets the repo-root
    # file silently go stale).
    out = os.path.join(
        os.path.dirname(__file__), "..", "DUCKDB_HEADLINE.json"
    )
    with open(out, "w") as fh:
        json.dump(payload, fh, indent=2)
        fh.write("\n")
    print(json.dumps(payload))


if __name__ == "__main__":
    main()

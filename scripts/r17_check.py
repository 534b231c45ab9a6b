#!/usr/bin/env python
"""Targeted differential check: run the named catalog ids against
their DuckDB oracles at one or more SF dirs (default all three test
SFs). The per-change correctness gate of the r17 optimization round —
the full sweep stays the round-close certificate.

    python scripts/r17_check.py id1,id2[,...] [sf_dir ...]
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tests"))


def main() -> int:
    import duckdb
    import pandas as pd

    from omop_dump_to_parquet_spark import load_catalog
    from omop_dump_to_parquet_spark.session import get_spark
    from test_parity import normalize

    ids = sys.argv[1].split(",")
    sf_dirs = sys.argv[2:] or [
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    ]
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    from _duck import create_views

    queries, oracles = load_catalog()
    fails = []
    for sf_dir in sf_dirs:
        con = duckdb.connect()
        create_views(con, sf_dir)
        for qid in ids:
            t0 = time.time()
            try:
                a = normalize(queries[qid](spark, sf_dir).toPandas())
                b = normalize(con.sql(oracles[qid]).df())
                pd.testing.assert_frame_equal(a, b, check_dtype=False)
                print(
                    f"OK   {qid} @ {sf_dir} ({len(a)} rows, "
                    f"{time.time() - t0:.1f}s)",
                    flush=True,
                )
            except Exception as ex:  # noqa: BLE001
                fails.append(f"{qid}@{sf_dir}")
                print(f"FAIL {qid} @ {sf_dir}: {str(ex)[:300]}", flush=True)
        con.close()
    print(f"failures: {fails}")
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())

#!/usr/bin/env python
"""Full-catalog differential sweep (every oracle-backed query vs its
DuckDB oracle at sf0.01) — the driver's correctness gate run over the
ENTIRE catalog instead of its 50-query rotation window. Run before
shipping a change to preempt red rows:

    python scripts/full_differential_sweep.py [sf_dir]
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

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    from _duck import create_views

    con = duckdb.connect()
    create_views(con, sf_dir)
    queries, oracles = load_catalog()
    # iterate ORACLES (not queries∩oracles) so a stale oracle whose
    # query was renamed fails loudly instead of being skipped-as-green
    fails, passed = [], 0
    t_start = time.time()
    for qid, sql in oracles.items():
        try:
            fn = queries[qid]  # KeyError ⇒ registry drift ⇒ FAIL
            a = normalize(fn(spark, sf_dir).toPandas())
            b = normalize(con.sql(sql).df())
            pd.testing.assert_frame_equal(a, b, check_dtype=False)
            passed += 1
            print(f"OK   {qid} ({len(a)} rows)", flush=True)
        except Exception as ex:  # noqa: BLE001 — report-and-continue sweep
            fails.append(qid)
            print(f"FAIL {qid}: {str(ex)[:200]}", flush=True)
    print(f"\n{passed}/{len(oracles)} pass "
          f"in {time.time() - t_start:.0f}s; failures: {fails}")
    spark.stop()
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())

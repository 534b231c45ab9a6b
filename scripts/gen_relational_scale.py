#!/usr/bin/env python
"""10× relational fixture for the headline-bench scale run, so the
relational headline queries are timed above sf0.1 too.

The driver ships nothing above sf0.1, so scale is manufactured by
KEY-SHIFTED REPLICATION: each of FACTOR copies of the sf0.1 fact/dim
tables gets every surrogate key offset by copy_index × (max_key + 1),
so per-copy join relationships (customer↔orders↔lineitem,
part/supplier↔lineitem) are preserved exactly, join fan-outs and
date-filter selectivities match sf0.1, and group-by keys
(returnflag, nation, priority…) keep their cardinality — the measured
quantity is the ENGINE's scaling on 10× rows, not a new workload.
nation/region stay fixed (fixed-cardinality dims at any SF, same as
TPC-H). events replicates with shifted event_id/user_id (10× users).
documents/embeddings come from the `.scale/x10` rehearsal fixture
(realistic dup rate) so the full headline list runs from one dir.

Deterministic (pure SQL over the shipped fixture). Rerun:
    python scripts/gen_relational_scale.py [factor] [out_dir]
"""
from __future__ import annotations

import os
import shutil
import sys

import duckdb

SRC = "/root/testdata/sf0.1"


def main(factor: int, out: str) -> None:
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.sql(f"CREATE VIEW r AS SELECT * FROM range({factor}) t(i)")

    def src(t: str) -> str:
        return f"read_parquet('{SRC}/{t}.parquet')"

    def offset(t: str, key: str) -> int:
        return (
            con.sql(f"SELECT max({key}) + 1 FROM {src(t)}").fetchone()[0]
        )

    ck = offset("customer", "c_custkey")
    ok = offset("orders", "o_orderkey")
    pk = offset("part", "p_partkey")
    sk = offset("supplier", "s_suppkey")
    ek = offset("events", "event_id")
    uk = offset("events", "user_id")

    jobs = {
        "region": f"SELECT * FROM {src('region')}",
        "nation": f"SELECT * FROM {src('nation')}",
        "customer": f"""SELECT c_custkey + i*{ck} AS c_custkey,
            c_name, c_nationkey, c_acctbal, c_mktsegment
            FROM {src('customer')} CROSS JOIN r""",
        "supplier": f"""SELECT s_suppkey + i*{sk} AS s_suppkey,
            s_name, s_nationkey, s_acctbal
            FROM {src('supplier')} CROSS JOIN r""",
        "part": f"""SELECT p_partkey + i*{pk} AS p_partkey,
            p_name, p_brand, p_type, p_size, p_retailprice
            FROM {src('part')} CROSS JOIN r""",
        "orders": f"""SELECT o_orderkey + i*{ok} AS o_orderkey,
            o_custkey + i*{ck} AS o_custkey, o_orderstatus,
            o_totalprice, o_orderdate, o_orderpriority
            FROM {src('orders')} CROSS JOIN r""",
        "lineitem": f"""SELECT l_orderkey + i*{ok} AS l_orderkey,
            l_partkey + i*{pk} AS l_partkey,
            l_suppkey + i*{sk} AS l_suppkey,
            l_linenumber, l_quantity, l_extendedprice, l_discount,
            l_tax, l_returnflag, l_linestatus, l_shipdate
            FROM {src('lineitem')} CROSS JOIN r""",
        "events": f"""SELECT event_id + i*{ek} AS event_id, ts,
            user_id + i*{uk} AS user_id, event_type, value, props
            FROM {src('events')} CROSS JOIN r""",
    }
    for t, q in jobs.items():
        con.sql(f"COPY ({q}) TO '{out}/{t}.parquet' (FORMAT PARQUET)")
        n = con.sql(f"SELECT count(*) FROM '{out}/{t}.parquet'").fetchone()[0]
        print(f"{t}: {n:,} rows")

    scale_x10 = os.path.join(os.path.dirname(__file__), "..", ".scale", "x10")
    for t in ("documents", "embeddings"):
        p = os.path.join(scale_x10, f"{t}.parquet")
        if not os.path.exists(p):
            sys.exit(f"missing {p} — run scripts/gen_scale_fixture.py first")
        shutil.copy(p, os.path.join(out, f"{t}.parquet"))
        print(f"{t}: copied from .scale/x10")


if __name__ == "__main__":
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    out = (
        sys.argv[2]
        if len(sys.argv) > 2
        else os.path.join(
            os.path.dirname(__file__), "..", ".scale", f"rel_x{factor}"
        )
    )
    main(factor, out)

#!/usr/bin/env python
"""Seeded RANDOM variant of the full 10-table driver fixture.

Why: the driver's correctness gate and the full differential sweep
both run against the one deterministic seed-42 fixture set. A catalog
that merely memorized that fixture's accidents (its row counts, its
tie patterns, its duplicate density) would still sweep green. This
generator re-materializes ALL TEN tables with the SAME schemas and
the SAME semantic domains — categorical values, vocabulary, key
referential integrity, date ranges are read from the real sf0.001
fixture footers/rows at generation time, never hardcoded — but fresh
seeded draws for every cardinality, value, and text, plus deliberately
HARSHER distributions than the driver fixture ships:

- planted exact-duplicate documents (the driver fixture has zero at
  sf0.001 — dedup keep-first/keep-best paths get real groups here);
- planted 1-2-token near-dup edits (MinHash/Jaccard families);
- customers with no orders and parts/suppliers never referenced
  (outer/anti-join null paths);
- a duplicated embedding vector pair (near-dup-at-1.0 path);
- NULL event values (NaN-vs-NULL aggregate handling).

``scripts/randomized_differential.py`` sweeps the whole catalog
against N of these fixtures — pass = the oracle agreement is a
property of the OPERATORS, not of one lucky fixture.

Usage:  python scripts/gen_random_fixture.py OUT_DIR SEED
"""
from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DONOR_SF = "/root/testdata/sf0.001"  # domain donor (read-only)


def _donor(name: str) -> pa.Table:
    return pq.read_table(os.path.join(DONOR_SF, f"{name}.parquet"))


def _distinct_strs(tbl: pa.Table, col: str) -> list[str]:
    return sorted(set(tbl.column(col).to_pylist()))


def gen_all(out_dir: str, seed: int) -> dict[str, int]:
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    counts: dict[str, int] = {}

    def _write(name: str, table: pa.Table) -> None:
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows

    # --- region: fixed TPC-H domain (queries filter on these names) —
    # copied verbatim from the donor, it IS the domain
    region = _donor("region")
    _write("region", region)
    region_keys = region.column("r_regionkey").to_pylist()

    # --- nation: same 25 names, fresh region assignment
    donor_nation = _donor("nation")
    n_names = donor_nation.column("n_name").to_pylist()
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(len(n_names)), pa.int32()),
            "n_name": pa.array(n_names, pa.string()),
            "n_regionkey": pa.array(
                rng.choice(region_keys, size=len(n_names)), pa.int32()
            ),
        }
    )
    _write("nation", nation)
    nation_keys = list(range(len(n_names)))

    # --- customer
    segments = _distinct_strs(_donor("customer"), "c_mktsegment")
    n_cust = int(rng.integers(100, 220))
    customer = pa.table(
        {
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": pa.array(
                [f"Customer#{i:09d}" for i in range(n_cust)], pa.string()
            ),
            "c_nationkey": pa.array(
                rng.choice(nation_keys, size=n_cust), pa.int32()
            ),
            "c_acctbal": pa.array(
                np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
                pa.float64(),
            ),
            "c_mktsegment": pa.array(
                rng.choice(segments, size=n_cust), pa.string()
            ),
        }
    )
    _write("customer", customer)

    # --- supplier
    n_supp = int(rng.integers(8, 16))
    supplier = pa.table(
        {
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": pa.array(
                [f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()
            ),
            "s_nationkey": pa.array(
                rng.choice(nation_keys, size=n_supp), pa.int32()
            ),
            "s_acctbal": pa.array(
                np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
                pa.float64(),
            ),
        }
    )
    _write("supplier", supplier)

    # --- part: names recombined from the donor's adjective/noun pools
    donor_part = _donor("part")
    name_words = sorted(
        {w for n in donor_part.column("p_name").to_pylist() for w in n.split()}
    )
    brands = _distinct_strs(donor_part, "p_brand")
    ptypes = _distinct_strs(donor_part, "p_type")
    n_part = int(rng.integers(150, 260))
    part = pa.table(
        {
            "p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": pa.array(
                [
                    " ".join(rng.choice(name_words, size=2, replace=False))
                    for _ in range(n_part)
                ],
                pa.string(),
            ),
            "p_brand": pa.array(rng.choice(brands, size=n_part), pa.string()),
            "p_type": pa.array(rng.choice(ptypes, size=n_part), pa.string()),
            "p_size": pa.array(
                rng.integers(1, 51, size=n_part), pa.int32()
            ),
            "p_retailprice": pa.array(
                np.round(rng.uniform(900.0, 2000.0, n_part), 2), pa.float64()
            ),
        }
    )
    _write("part", part)

    # --- orders: ~15% of customers get none (anti-join/outer paths)
    donor_orders = _donor("orders")
    statuses = _distinct_strs(donor_orders, "o_orderstatus")
    priorities = _distinct_strs(donor_orders, "o_orderpriority")
    od = donor_orders.column("o_orderdate").to_pylist()
    od_min, od_span_days = min(od), max(1, (max(od) - min(od)).days)
    orderless = set(
        rng.choice(n_cust, size=max(1, n_cust // 7), replace=False).tolist()
    )
    eligible = [c for c in range(n_cust) if c not in orderless]
    n_ord = int(rng.integers(1000, 2100))
    import datetime as dt

    orders = pa.table(
        {
            "o_orderkey": pa.array(range(n_ord), pa.int64()),
            "o_custkey": pa.array(
                rng.choice(eligible, size=n_ord), pa.int64()
            ),
            "o_orderstatus": pa.array(
                rng.choice(statuses, size=n_ord), pa.string()
            ),
            "o_totalprice": pa.array(
                np.round(rng.uniform(1000.0, 400000.0, n_ord), 2),
                pa.float64(),
            ),
            "o_orderdate": pa.array(
                [
                    od_min + dt.timedelta(days=int(d))
                    for d in rng.integers(0, od_span_days + 1, size=n_ord)
                ],
                donor_orders.schema.field("o_orderdate").type,
            ),
            "o_orderpriority": pa.array(
                rng.choice(priorities, size=n_ord), pa.string()
            ),
        }
    )
    _write("orders", orders)

    # --- lineitem: 1-7 lines per order; quantities are integral
    # doubles like TPC-H; some parts/suppliers never referenced
    donor_li = _donor("lineitem")
    sd = donor_li.column("l_shipdate").to_pylist()
    sd_min, sd_span_days = min(sd), max(1, (max(sd) - min(sd)).days)
    rows_per_order = rng.integers(1, 8, size=n_ord)
    n_li = int(rows_per_order.sum())
    li_orderkey = np.repeat(np.arange(n_ord), rows_per_order)
    li_linenumber = np.concatenate(
        [np.arange(1, k + 1) for k in rows_per_order]
    )
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(li_orderkey, pa.int64()),
            "l_partkey": pa.array(
                rng.integers(0, max(1, n_part - 5), size=n_li), pa.int64()
            ),
            "l_suppkey": pa.array(
                rng.integers(0, max(1, n_supp - 1), size=n_li), pa.int64()
            ),
            "l_linenumber": pa.array(li_linenumber, pa.int32()),
            "l_quantity": pa.array(
                rng.integers(1, 51, size=n_li).astype(np.float64),
                pa.float64(),
            ),
            "l_extendedprice": pa.array(
                np.round(rng.uniform(900.0, 100000.0, n_li), 2),
                pa.float64(),
            ),
            "l_discount": pa.array(
                np.round(rng.integers(0, 11, size=n_li) / 100.0, 2),
                pa.float64(),
            ),
            "l_tax": pa.array(
                np.round(rng.integers(0, 9, size=n_li) / 100.0, 2),
                pa.float64(),
            ),
            "l_returnflag": pa.array(
                rng.choice(["R", "A", "N"], size=n_li), pa.string()
            ),
            "l_linestatus": pa.array(
                rng.choice(["O", "F"], size=n_li), pa.string()
            ),
            "l_shipdate": pa.array(
                [
                    sd_min + dt.timedelta(days=int(d))
                    for d in rng.integers(0, sd_span_days + 1, size=n_li)
                ],
                donor_li.schema.field("l_shipdate").type,
            ),
        }
    )
    _write("lineitem", lineitem)

    # --- events: monotonic-ish µs timestamps, same type domain,
    # ~2% NULL values (NaN-vs-NULL aggregate handling)
    donor_events = _donor("events")
    etypes = _distinct_strs(donor_events, "event_type")
    n_ev = int(rng.integers(800, 1600))
    n_users = int(rng.integers(10, 25))
    base_us = int(
        np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    )
    gaps_us = rng.integers(1, 120 * 1_000_000, size=n_ev)
    ts_us = base_us + np.cumsum(gaps_us)
    # The donor's ts physical layout drifts between fixtures (µs
    # timestamp, ns timestamp, int64-nanos — FIXTURES.md). pa.array
    # interprets raw ints in the TARGET type's unit, so convert the
    # µs epoch values to whatever unit the donor ships; writing µs
    # ints into a ns-typed column would silently compress every gap
    # 1000× (and a plain int64 ts means nanos, per the observed
    # driver layout).
    donor_ts_type = donor_events.schema.field("ts").type
    if pa.types.is_timestamp(donor_ts_type):
        _scale = {"s": 1 / 1_000_000, "ms": 1 / 1_000,
                  "us": 1, "ns": 1_000}[donor_ts_type.unit]
    else:  # int64 column ⇒ nanoseconds since epoch
        _scale = 1_000
    ts_vals = (ts_us * _scale).astype(np.int64)
    values = np.round(rng.uniform(0.01, 400.0, n_ev), 2)
    null_mask = rng.random(n_ev) < 0.02
    type_w = rng.dirichlet(np.ones(len(etypes)))
    events = pa.table(
        {
            "event_id": pa.array(range(n_ev), pa.int64()),
            "ts": pa.array(ts_vals, donor_ts_type),
            "user_id": pa.array(
                rng.integers(0, n_users, size=n_ev), pa.int64()
            ),
            "event_type": pa.array(
                rng.choice(etypes, size=n_ev, p=type_w), pa.string()
            ),
            "value": pa.array(
                [None if m else float(v) for m, v in zip(null_mask, values)],
                pa.float64(),
            ),
            "props": pa.array(
                [
                    json.dumps({"k": int(k)}, separators=(", ", ": "))
                    for k in rng.integers(0, 100, size=n_ev)
                ],
                pa.string(),
            ),
        }
    )
    _write("events", events)

    # --- documents: word soup from the DONOR vocabulary (so the
    # text-family token/lang statistics live in the same domain), but
    # with planted exact copies (~6%) and 1-2-token near-dup edits
    # (~6%) the driver fixture lacks at this scale
    donor_docs = _donor("documents")
    vocab = sorted(
        {w for t in donor_docs.column("text").to_pylist() for w in t.split()}
    )
    langs = _distinct_strs(donor_docs, "lang")
    sources = _distinct_strs(donor_docs, "source")
    n_doc = int(rng.integers(400, 750))
    texts: list[str] = []
    for _ in range(n_doc):
        k = int(rng.integers(8, 90))
        texts.append(" ".join(rng.choice(vocab, size=k)))
    # plant exact copies
    for _ in range(max(1, n_doc // 16)):
        i, j = rng.integers(0, n_doc, size=2)
        texts[int(i)] = texts[int(j)]
    # plant near-dup edits (1-2 token substitutions)
    for _ in range(max(1, n_doc // 16)):
        i, j = rng.integers(0, n_doc, size=2)
        words = texts[int(j)].split()
        for _e in range(int(rng.integers(1, 3))):
            words[int(rng.integers(0, len(words)))] = str(
                rng.choice(vocab)
            )
        texts[int(i)] = " ".join(words)
    # t22/t23 domain invariant: '|' is the BPE encode's
    # word-boundary sentinel — the Spark side raise_errors on it while
    # the DuckDB oracle would silently treat it as a word boundary, so
    # the generator must keep both engines in the same domain. The
    # vocabulary is donor-derived, so this only fires if the driver
    # fixture itself ever grows a '|' token.
    assert not any("|" in t for t in texts), (
        "randomized documents fixture contains the '|' BPE sentinel; "
        "t22/t23's Spark/oracle contracts diverge on such input"
    )
    documents = pa.table(
        {
            "doc_id": pa.array(range(n_doc), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(langs, size=n_doc), pa.string()),
            "source": pa.array(
                rng.choice(sources, size=n_doc), pa.string()
            ),
            "n_chars": pa.array(
                [len(t) for t in texts], pa.int64()
            ),
        }
    )
    _write("documents", documents)

    # --- embeddings: Gaussian label clusters + one exact-duplicate
    # vector pair (cosine == 1.0 path)
    donor_emb = _donor("embeddings")
    emb_type = donor_emb.schema.field("embedding").type
    dim = 64
    labels_domain = sorted(set(donor_emb.column("label").to_pylist()))
    n_emb = int(rng.integers(400, 750))
    centers = rng.normal(0.0, 1.0, size=(len(labels_domain), dim))
    lab_idx = rng.integers(0, len(labels_domain), size=n_emb)
    vecs = (
        centers[lab_idx] + rng.normal(0.0, 0.35, size=(n_emb, dim))
    ).astype(np.float32)
    vecs[1] = vecs[0]  # planted exact duplicate
    embeddings = pa.table(
        {
            "vec_id": pa.array(range(n_emb), pa.int64()),
            "embedding": pa.array(
                [v.tolist() for v in vecs], emb_type
            ),
            "label": pa.array(
                [labels_domain[i] for i in lab_idx],
                donor_emb.schema.field("label").type,
            ),
        }
    )
    _write("embeddings", embeddings)
    return counts


def main() -> int:
    out_dir = sys.argv[1]
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 0
    counts = gen_all(out_dir, seed)
    print(json.dumps({"seed": seed, "out": out_dir, "rows": counts}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Seeded inputs for the benchmark's workloads.

Every generator is a pure function of ``(seed, scale)``: the same pair
gives byte-identical raw Parquet files (``write_raw``). Sizes are fixed
per scale rather than drawn from the seed, so run-to-run differences
come from the data's values, not from its volume.

The documents come from ``scripts/gen_scale_fixture.py`` (Zipf
vocabulary, planted near-duplicate clusters), imported as is.
The TPC-H-shaped tables follow ``scripts/gen_random_fixture.py``'s
shapes (orderless customers, 1-7 lines per order, ~2% NULL event
values), but take their categorical domains from the TPC-H
specification below: that script reads them from a fixture directory
outside the repository, which a checkout does not have.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "scripts"))
import gen_scale_fixture  # noqa: E402

# Row counts at scale 1.0.
NOTES_ROWS = 45_000
REL_CUSTOMERS = 2_000
REL_SUPPLIERS = 200
REL_ORDERS = 15_000  # lineitem: 1-7 lines per order, ~4x
REL_EVENTS = 15_000
REL_USERS = 150
REL_DOCS = 1_500

NOTE_VOCAB = 5_000
# OMOP note_type_concept_id values (EHR note, discharge summary, ...).
NOTE_TYPE_CONCEPTS = np.array([44814637, 44814638, 44814639, 44814640, 44814645])

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [  # (name, region key), TPC-H order
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1), ("EGYPT", 4),
    ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3), ("INDIA", 2), ("INDONESIA", 2),
    ("IRAN", 4), ("IRAQ", 4), ("JAPAN", 2), ("JORDAN", 4), ("KENYA", 0),
    ("MOROCCO", 0), ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3),
    ("SAUDI ARABIA", 4), ("VIETNAM", 2), ("RUSSIA", 3), ("UNITED KINGDOM", 3), ("UNITED STATES", 1),
]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
# Order dates span the catalog's filter constants (1997-01-01 to 2001-01-01, 2000-06-01).
ORDER_DATES = (np.datetime64("1995-01-01", "ms"), 7 * 365)


def _rows(n: int, scale: float) -> int:
    return max(1, int(n * scale))


def _zipf_text(rng: np.random.Generator, n_docs: int, vocab_size: int) -> pa.Array:
    """``n_docs`` texts whose word counts are log-normal (heavy tail)
    and whose words are Zipf(1.1) draws from random-letter words, so
    the text compresses like prose rather than like repeated strings.
    The vocabulary is the same for every seed; the texts are not."""
    words_rng = np.random.default_rng(0)
    alphabet = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = [
        "".join(words_rng.choice(alphabet, size=k))
        for k in words_rng.integers(2, 11, size=vocab_size)
    ]
    p = np.arange(1, vocab_size + 1, dtype=np.float64) ** -1.1
    p /= p.sum()
    n_words = np.clip(rng.lognormal(3.7, 0.9, size=n_docs), 1, 2_000).astype(np.int64)
    words = pa.array(vocab).take(pa.array(rng.choice(vocab_size, size=int(n_words.sum()), p=p)))
    offsets = pa.array(np.concatenate([[0], np.cumsum(n_words)]).astype(np.int32))
    return pc.binary_join(pa.ListArray.from_arrays(offsets, words), " ")


def notes_table(seed: int, scale: float = 1.0) -> pa.Table:
    """An OMOP ``NOTE``-shaped source table (upper-case column names,
    as the database reports them)."""
    rng = np.random.default_rng([seed, 1])
    n = _rows(NOTES_ROWS, scale)
    provider = rng.integers(1, 2_000, size=n).astype(np.int32)
    return pa.table(
        {
            "NOTE_ID": pa.array(np.arange(n, dtype=np.int64)),
            "PERSON_ID": pa.array(rng.integers(1, max(2, n // 20), size=n).astype(np.int32)),
            "PROVIDER_ID": pa.array(provider, mask=rng.random(n) < 1 / 7),
            "NOTE_DATE": pa.array(
                (np.datetime64("2010-01-01") + rng.integers(0, 3_650, size=n)).astype("datetime64[D]")
            ),
            "NOTE_TYPE_CONCEPT_ID": pa.array(rng.choice(NOTE_TYPE_CONCEPTS, size=n).astype(np.int32)),
            "NOTE_TEXT": _zipf_text(rng, n, NOTE_VOCAB),
        }
    )


def notes_fingerprint(notes: pa.Table) -> dict[str, int]:
    """The values the landed lake must reproduce (``DumpNotesJdbc.check``)."""
    return {
        "rows": notes.num_rows,
        "null_provider": notes.column("PROVIDER_ID").null_count,
        "sum_note_id": int(pc.sum(notes.column("NOTE_ID")).as_py()),
        "sum_text_len": int(pc.sum(pc.utf8_length(notes.column("NOTE_TEXT"))).as_py()),
    }


def relational_tables(seed: int, scale: float = 1.0) -> dict[str, pa.Table]:
    """The TPC-H-shaped tables, events and documents the
    ``lake-relational`` pass reads (schemas as in FIXTURES.md)."""
    rng = np.random.default_rng([seed, 2])
    n_cust, n_supp = _rows(REL_CUSTOMERS, scale), _rows(REL_SUPPLIERS, scale)
    n_ord, n_ev = _rows(REL_ORDERS, scale), _rows(REL_EVENTS, scale)
    n_nat = len(NATIONS)

    def money(lo, hi, n):
        return pa.array(np.round(rng.uniform(lo, hi, n), 2))

    def pick(values, n, p=None):
        return pa.array(np.array(values)[rng.choice(len(values), size=n, p=p)])

    region = pa.table(
        {"r_regionkey": pa.array(range(len(REGIONS)), pa.int32()), "r_name": pa.array(REGIONS)}
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(n_nat), pa.int32()),
            "n_name": pa.array([n for n, _ in NATIONS]),
            "n_regionkey": pa.array([r for _, r in NATIONS], pa.int32()),
        }
    )
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, n_nat, n_cust).astype(np.int32)),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": pick(SEGMENTS, n_cust),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, n_nat, n_supp).astype(np.int32)),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }
    )
    # About one customer in seven places no orders.
    ordering = np.flatnonzero(rng.random(n_cust) >= 1 / 7)
    start, days = ORDER_DATES
    order_date = start + rng.integers(0, days, n_ord) * np.timedelta64(1, "D")
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.choice(ordering, n_ord).astype(np.int64)),
            "o_orderstatus": pick(["F", "O", "P"], n_ord),
            "o_totalprice": money(1_000.0, 400_000.0, n_ord),
            "o_orderdate": pa.array(order_date),
            "o_orderpriority": pick(PRIORITIES, n_ord),
        }
    )
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(np.repeat(np.arange(n_ord, dtype=np.int64), lines)),
            "l_partkey": pa.array(rng.integers(0, max(1, n_supp * 20), n_li)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
            "l_linenumber": pa.array(np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": money(900.0, 100_000.0, n_li),
            "l_discount": pa.array(np.round(rng.integers(0, 11, n_li) / 100.0, 2)),
            "l_tax": pa.array(np.round(rng.integers(0, 9, n_li) / 100.0, 2)),
            "l_returnflag": pick(["A", "N", "R"], n_li),
            "l_linestatus": pick(["F", "O"], n_li),
            "l_shipdate": pa.array(
                np.repeat(order_date, lines) + rng.integers(1, 122, n_li) * np.timedelta64(1, "D")
            ),
        }
    )
    base_us = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    events = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": pa.array(base_us + np.cumsum(rng.integers(1, 120_000_000, n_ev)), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, _rows(REL_USERS, scale), n_ev)),
            "event_type": pick(EVENT_TYPES, n_ev, p=rng.dirichlet(np.ones(len(EVENT_TYPES)))),
            "value": pa.array(np.round(rng.uniform(0.01, 400.0, n_ev), 2), mask=rng.random(n_ev) < 0.02),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
        "documents": gen_scale_fixture.gen_documents(_rows(REL_DOCS, scale), rng),
    }


def write_raw(tables: dict[str, pa.Table], out_dir: str) -> dict[str, dict[str, int]]:
    """Write each table to ``out_dir/<name>.parquet``; return its row
    count, file size and in-memory (uncompressed Arrow) size."""
    os.makedirs(out_dir, exist_ok=True)
    manifest = {}
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        manifest[name] = {
            "rows": table.num_rows,
            "file_bytes": os.path.getsize(path),
            "arrow_bytes": table.nbytes,
        }
    return manifest

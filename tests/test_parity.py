"""Differential parity: every oracle-bearing catalog query must match
its DuckDB twin exactly (row count, column names, values) — the local
mirror of the driver's CORRECTNESS gate, run at sf0.001 for speed.
"""

from __future__ import annotations

import math

import pandas as pd
import pytest

from omop_dump_to_parquet_spark import load_catalog

QUERIES, ORACLES = load_catalog()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    out = df.copy()
    out = out[sorted(out.columns)]
    for c in out.columns:
        s = out[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            out[c] = s.astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(s):
            out[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s) or s.dtype == object and all(
            isinstance(v, int) for v in s.dropna().head(5)
        ):
            try:
                out[c] = s.astype("float64")  # unify int widths / hugeint
            except (TypeError, ValueError):
                pass
    out = out.sort_values(by=list(out.columns), ignore_index=True)
    return out


def assert_frames_match(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame, name: str):
    a, b = normalize(spark_pdf), normalize(duck_pdf)
    assert list(a.columns) == list(b.columns), (
        f"{name}: columns differ: {list(a.columns)} vs {list(b.columns)}"
    )
    assert len(a) == len(b), f"{name}: row count {len(a)} vs {len(b)}"
    for c in a.columns:
        av, bv = a[c], b[c]
        eq = (av == bv) | (av.isna() & bv.isna())
        if not eq.all():
            i = int((~eq).idxmax())
            diff = ""
            if pd.api.types.is_float_dtype(av):
                diff = f" (abs diff {abs(av.iloc[i] - bv.iloc[i])!r})"
            raise AssertionError(
                f"{name}.{c}: {(~eq).sum()} mismatches; first at row {i}: "
                f"{av.iloc[i]!r} vs {bv.iloc[i]!r}{diff}"
            )


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(name, spark, duck, sf_small):
    spark_pdf = QUERIES[name](spark, sf_small).toPandas()
    duck_pdf = duck.sql(ORACLES[name]).df()
    assert_frames_match(spark_pdf, duck_pdf, name)


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(name, spark, sf_small):
    df = QUERIES[name](spark, sf_small)
    n = df.count()
    assert n >= 0
    assert df.schema.fields  # stable, non-empty schema


# Types DuckDB can produce but Spark cannot: the driver's value hash is
# TYPE-SENSITIVE, so an oracle whose result surface contains any of
# these will hash-mismatch even when every value is identical (the
# exact w13 failure in CORRECTNESS_r04: SUM(BIGINT) → HUGEINT).  The
# determinism contract (registry.py docstring) says to CAST such
# aggregates back to a Spark-expressible type; this test enforces it
# mechanically over the whole catalog by BINDING (not executing) each
# oracle against the fixture views.
_SPARK_INEXPRESSIBLE = {
    "HUGEINT",
    "UHUGEINT",
    "UTINYINT",
    "USMALLINT",
    "UINTEGER",
    "UBIGINT",
}


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_type_surface_spark_expressible(name, duck):
    described = duck.sql(f"DESCRIBE {ORACLES[name]}").fetchall()
    bad = [
        (col, typ)
        for col, typ, *_ in described
        if typ.upper() in _SPARK_INEXPRESSIBLE
    ]
    assert not bad, (
        f"{name}: oracle result columns {bad} have DuckDB-only types; "
        f"CAST them (e.g. CAST(SUM(x) AS BIGINT)) so the driver's "
        f"type-sensitive hash can match Spark's output"
    )


def test_jaccard_verify_no_broadcast_matches_broadcast(spark, sf_small):
    """The beyond-broadcast verify path (shuffle joins on doc id —
    what a 100 TB corpus actually executes when the token-array table
    exceeds broadcast limits) must return the exact pair set and
    jaccard values of the broadcast path."""
    from omop_dump_to_parquet_spark.operators.dedup import (
        MINHASH_THRESHOLD,
        d04_candidate_pairs,
        verify_jaccard_pairs,
    )
    from omop_dump_to_parquet_spark.sources.parquet import table

    docs = table(spark, sf_small, "documents")
    cands = d04_candidate_pairs(docs).localCheckpoint(eager=True)

    def as_set(df):
        return {
            (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
            for r in df.collect()
        }

    bc = as_set(
        verify_jaccard_pairs(docs, cands, MINHASH_THRESHOLD, use_broadcast=True)
    )
    nb = as_set(
        verify_jaccard_pairs(docs, cands, MINHASH_THRESHOLD, use_broadcast=False)
    )
    assert bc, "fixture produced no verified pairs — test would be vacuous"
    assert nb == bc


# Oracle parity on an empty or truncated result would pass vacuously:
# these ids' fixture outputs must keep their size (d16 and t25 emit
# one row per document, p11 one per train document, 500 - 6 eval).
@pytest.mark.parametrize(
    "name, at_least, at_most",
    [
        ("d15_fuzzy_decontamination", 101, None),
        ("d16_exact_substring_rewrite", 500, 500),
        ("p11_dsir_importance", 494, 494),
        ("t25_html_extract", 500, 500),
    ],
)
def test_oracle_output_is_not_degenerate(name, at_least, at_most, duck):
    (n,) = duck.sql(f"SELECT count(*) FROM ({ORACLES[name]})").fetchone()
    assert n >= at_least and (at_most is None or n <= at_most), n


def _mini_sf(tmp_path, tables: dict) -> str:
    """Write {name: DataFrame} as a fixture-shaped sf directory."""
    sf = str(tmp_path / "sf_mini")
    for name, df in tables.items():
        df.coalesce(1).write.mode("overwrite").parquet(f"{sf}/{name}.parquet")
    return sf


def _oracle_on(sf: str, name: str, tables: list[str]) -> pd.DataFrame:
    import duckdb

    con = duckdb.connect()
    try:
        for t in tables:
            con.sql(
                f"CREATE VIEW {t} AS SELECT * "
                f"FROM read_parquet('{sf}/{t}.parquet/*.parquet')"
            )
        return con.sql(ORACLES[name]).df()
    finally:
        con.close()


def test_q31_oracle_floors_fractional_quantities(spark, tmp_path):
    """On FRACTIONAL quantities (where truncate != round: x.5 rounds
    up under DuckDB round-half-away but floors down), every q31
    column — map_total included — must agree between the Spark plan
    and the DuckDB oracle."""
    li = spark.createDataFrame(
        [
            (1, 1.5),  # floor 1, DuckDB CAST-round 2 → the divergence
            (1, 2.5),
            (2, 3.5),
            (2, 1.0),
        ],
        "l_orderkey bigint, l_quantity double",
    )
    sf = _mini_sf(tmp_path, {"lineitem": li})
    spark_rows = {
        r["l_orderkey"]: r.asDict()
        for r in QUERIES["q31_array_map_funcs"](spark, sf).collect()
    }
    duck = _oracle_on(sf, "q31_array_map_funcs", ["lineitem"])
    assert len(duck) == len(spark_rows) == 2
    for _, d in duck.iterrows():
        s = spark_rows[d["l_orderkey"]]
        for col in ("qty_csv", "n_items", "has_single", "qty_total",
                    "first3_csv", "map_total"):
            assert s[col] == d[col], (col, s[col], d[col])
    # and map_total is the FLOORED total (1+2=3 for order 1), not the
    # rounded one (2+3=5) — pins the semantics, not just parity
    assert spark_rows[1]["map_total"] == 3
    assert spark_rows[1]["qty_total"] == 3


def test_q48_empty_events_matches_oracle_zero_true(spark, sf_small, tmp_path):
    """q48 on an EMPTY events table: the oracle emits one (0, TRUE)
    row; the Spark side must too, not NULL/NULL from a global sum."""
    ev = spark.read.parquet(f"{sf_small}/events.parquet").limit(0)
    sf = _mini_sf(tmp_path, {"events": ev})
    rows = QUERIES["q48_theta_error_bound"](spark, sf).collect()
    assert len(rows) == 1
    assert rows[0]["n_overlap_exact"] == 0
    assert rows[0]["within_eps"] is True
    duck = _oracle_on(sf, "q48_theta_error_bound", ["events"])
    assert int(duck["n_overlap_exact"][0]) == 0
    assert bool(duck["within_eps"][0]) is True

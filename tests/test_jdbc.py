"""Real JDBC ingestion against embedded Derby (ships with Spark) —
exercises the reference's actual core: partitioned streamed table scan
(O1), source-side row limit (O2), CLOB→string mapping (O7), nullable-
int normalization (O6), and the full dump pipeline from a JDBC source.
"""

from __future__ import annotations

import pytest

from conftest import SINKS, parquet_encodings

from omop_dump_to_parquet_spark.plans import dump_table
from omop_dump_to_parquet_spark.sources.jdbc import normalize, read_jdbc_table

N_ROWS = 100


@pytest.fixture(scope="module")
def derby_url(spark, tmp_path_factory):
    """Create a Derby DB with an OMOP-NOTE-shaped table."""
    path = tmp_path_factory.mktemp("derby") / "notesdb"
    url = f"jdbc:derby:{path};create=true"
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    st = conn.createStatement()
    st.executeUpdate(
        "CREATE TABLE notes ("
        "note_id INT PRIMARY KEY, provider_id INT, note_text CLOB)"
    )
    ps = conn.prepareStatement("INSERT INTO notes VALUES (?,?,?)")
    for i in range(N_ROWS):
        ps.setInt(1, i)
        if i % 7 == 0:  # the reference's PROVIDER_ID-null hazard
            ps.setNull(2, jvm.java.sql.Types.INTEGER)
        else:
            ps.setInt(2, i * 10)
        # ten templated notes: without the LOB rule, parquet-mr would
        # keep a dictionary for this CLOB column
        ps.setString(3, f"clinical note {i % 10} " + "lorem " * 20)
        ps.addBatch()
    ps.executeBatch()
    conn.commit()
    conn.close()
    return url


def test_partitioned_scan(spark, derby_url):
    df = read_jdbc_table(
        spark,
        derby_url,
        "notes",
        partition_column="NOTE_ID",
        lower_bound=0,
        upper_bound=N_ROWS,
        num_partitions=4,
    )
    assert df.rdd.getNumPartitions() == 4  # the 1-connection ceiling, removed
    assert df.count() == N_ROWS


def test_clob_maps_to_string(spark, derby_url):
    """O7: the reference needs an output-type handler for CLOB
    (dump_table.py:49-53); Spark's JDBC dialect does it natively."""
    df = read_jdbc_table(spark, derby_url, "notes")
    assert dict(df.dtypes)["NOTE_TEXT"] == "string"


def test_row_limit(spark, derby_url):
    """O2: FETCH FIRST N ROWS ONLY semantics (dump_table.py:94)."""
    df = read_jdbc_table(spark, derby_url, "notes", row_limit=37)
    assert df.count() == 37


def test_fetchsize_option(spark, derby_url):
    """P2: bounded-memory streaming ≙ chunk_size (dump_table.py:184)."""
    df = read_jdbc_table(spark, derby_url, "notes", fetch_size=16)
    assert df.count() == N_ROWS


def test_dump_pipeline_from_jdbc(spark, derby_url, tmp_path):
    """The whole reference program: JDBC → normalize → parquet → verify."""
    src = read_jdbc_table(
        spark,
        derby_url,
        "notes",
        partition_column="NOTE_ID",
        lower_bound=0,
        upper_bound=N_ROWS,
        num_partitions=4,
    )
    result = dump_table(
        spark,
        src,
        str(tmp_path / "notes_lake"),
        casts={"PROVIDER_ID": "long"},
        max_records_per_file=40,
    )
    assert result.ok
    assert result.rows_written == N_ROWS
    back = spark.read.parquet(str(tmp_path / "notes_lake"))
    assert dict(back.dtypes)["PROVIDER_ID"] == "bigint"
    # nulls survived the cast (the exact bug the reference fought)
    assert back.filter("PROVIDER_ID IS NULL").count() == len(
        [i for i in range(N_ROWS) if i % 7 == 0]
    )


def test_normalize_noop_and_cast(spark, derby_url):
    df = read_jdbc_table(spark, derby_url, "notes")
    assert normalize(df, {}) is df
    assert dict(normalize(df, {"PROVIDER_ID": "long"}).dtypes)[
        "PROVIDER_ID"
    ] == "bigint"


def test_write_jdbc_roundtrip(spark, derby_url):
    """Lake → DB write-back: aggregate the notes, write to a new table,
    read it back identical."""
    from omop_dump_to_parquet_spark.sources.jdbc import write_jdbc_table

    df = read_jdbc_table(spark, derby_url, "notes")
    agg = df.groupBy("PROVIDER_ID").count()
    write_jdbc_table(
        agg, derby_url, "provider_counts", mode="overwrite", num_partitions=2
    )
    back = read_jdbc_table(spark, derby_url, "provider_counts")
    assert back.count() == agg.count()
    assert back.exceptAll(agg).count() == 0


def test_cli_dump_from_jdbc(spark, derby_url, tmp_path, capsys):
    """The reference's real invocation: CLI against a database, with
    the PROVIDER_ID-style cast and a row limit."""
    from omop_dump_to_parquet_spark.cli import main

    out = str(tmp_path / "cli_jdbc_lake")
    rc = main(
        [
            "--jdbc-url", derby_url,
            "--table", "notes",
            "--partition-column", "NOTE_ID",
            "--lower-bound", "0",
            "--upper-bound", str(N_ROWS),
            "--num-partitions", "4",
            "--row-limit", "50",
            "--cast", "PROVIDER_ID=long",
            "--output-path", out,
        ]
    )
    assert rc == 0
    assert "rows=50" in capsys.readouterr().out
    back = spark.read.parquet(out)
    assert back.count() == 50
    assert dict(back.dtypes)["PROVIDER_ID"] == "bigint"


def test_decimal_custom_schema_pinning(spark, derby_url, tmp_path):
    """The reference's Oracle-NUMBER fight (dump_table.py:144-146)
    generalized: a wide DECIMAL column must reach the lake with a
    PINNED decimal type and exact values — never inferred through
    double (the 21-integer-digit fixture value is not double-
    representable, so exactness here proves the decimal path).
    Derby caps precision at 31; ``customSchema`` pins the Spark-side
    type to decimal(38,10), Oracle NUMBER's usual landing width."""
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(derby_url)
    st = conn.createStatement()
    st.executeUpdate(
        "CREATE TABLE measurements ("
        "m_id INT PRIMARY KEY, amount DECIMAL(31,10))"
    )
    vals = [
        "123456789012345678901.1234567890",  # 21 int digits: > double
        "-0.0000000001",
        "0E-10",
    ]
    ps = conn.prepareStatement("INSERT INTO measurements VALUES (?,?)")
    for i, v in enumerate(vals):
        ps.setInt(1, i)
        ps.setBigDecimal(2, jvm.java.math.BigDecimal(v))
        ps.addBatch()
    ps.executeBatch()
    conn.commit()
    conn.close()

    df = read_jdbc_table(
        spark,
        derby_url,
        "measurements",
        custom_schema="AMOUNT decimal(38,10)",
    )
    assert dict(df.dtypes)["AMOUNT"] == "decimal(38,10)"

    out = str(tmp_path / "measurements_lake")
    result = dump_table(spark, df, out, max_records_per_file=10)
    assert result.ok
    back = spark.read.parquet(out)
    assert dict(back.dtypes)["AMOUNT"] == "decimal(38,10)"
    from decimal import Decimal

    got = {r["M_ID"]: r["AMOUNT"] for r in back.collect()}
    assert got == {i: Decimal(v) for i, v in enumerate(vals)}


@pytest.mark.parametrize("land", list(SINKS.values()), ids=list(SINKS))
def test_lob_columns_land_without_dictionary(spark, derby_url, tmp_path, land):
    """A CLOB column (``jdbcClientType`` metadata, which also survives a
    Parquet round trip) lands with no dictionary page through every
    sink; every other column lands with the encodings the same rows
    get with the metadata stripped."""
    from pyspark.sql import functions as F

    src = normalize(
        read_jdbc_table(spark, derby_url, "notes"), {"PROVIDER_ID": "long"}
    )
    bare = src.select([F.col(c).alias(c, metadata={}) for c in src.columns])
    assert bare.schema["NOTE_TEXT"].metadata == {}
    land(spark, src, str(tmp_path / "lob"), ["NOTE_ID"])
    land(spark, bare, str(tmp_path / "bare"), ["NOTE_ID"])
    lob = parquet_encodings(tmp_path / "lob")
    plain = parquet_encodings(tmp_path / "bare")
    assert not any(has_dict for _, has_dict in lob.pop("NOTE_TEXT"))
    # the fixture's notes repeat, so without the rule they take a
    # dictionary
    assert any(has_dict for _, has_dict in plain.pop("NOTE_TEXT"))
    assert lob == plain and len(lob) == 2


def test_string_without_jdbc_metadata_keeps_its_dictionary(
    spark, sf_small, tmp_path
):
    """A string column read from Parquet carries no ``jdbcClientType``,
    so it still lands dictionary-encoded."""
    from omop_dump_to_parquet_spark.sources.parquet import table

    src = table(spark, sf_small, "lineitem").select("l_orderkey", "l_returnflag")
    assert dump_table(spark, src, str(tmp_path / "lake")).ok
    flags = parquet_encodings(tmp_path / "lake")["l_returnflag"]
    assert flags and all(has_dict for _, has_dict in flags)

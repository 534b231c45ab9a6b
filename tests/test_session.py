"""The session ``get_spark`` builds keeps every generated class a served
workload uses, so replaying the same queries compiles nothing, and it
records no Python call site per Column call."""

from __future__ import annotations

import py4j.clientserver
import pyspark.errors.utils

from omop_dump_to_parquet_spark import load_catalog
from omop_dump_to_parquet_spark.force import forced_count
from omop_dump_to_parquet_spark.session import (
    CODEGEN_CACHE_ENTRIES,
    RUNTIME_CONFS,
    codegen_compilations,
)

# Static keys: Spark refuses them at runtime, so they go on
# ``get_spark``'s builder.
BUILDER_ONLY_CONFS = (
    "spark.sql.codegen.cache.maxEntries",
    "spark.python.sql.dataFrameDebugging.enabled",
)

# The relational and window ids of the benchmark's lake-relational pass.
# With Spark's default of 100 cached classes a second cycle over them
# recompiled ~120 classes.
RELATIONAL_IDS = [
    "q01_pricing_summary",
    "q03_join_inner",
    "q07_star_broadcast",
    "q13_topk",
    "q25_shipping_priority",
    "q30_local_supplier_volume",
    "w02_window_running",
    "w04_sessionization",
    "w05_asof_join",
    "q29_lateral_explode",
]


def test_session_sizes_the_codegen_cache(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )


def test_codegen_compilations_counts_a_new_class(spark):
    before = codegen_compilations(spark)
    spark.range(3).selectExpr("id * 7919 + 104729 AS v").collect()
    assert codegen_compilations(spark) > before


def test_warm_cycle_compiles_no_class(spark, sf_small):
    queries, _ = load_catalog()

    def cycle() -> int:
        before = codegen_compilations(spark)
        for name in RELATIONAL_IDS:
            forced_count(queries[name](spark, sf_small))
        return codegen_compilations(spark) - before

    cycle()
    assert cycle() == 0


def test_corpus_profile_warm_calls_compile_no_class(spark, sf_small):
    """t16 keeps one distinct aggregate: several plan an Expand whose
    group numbering follows fresh expression ids, and warm calls
    recompiled 2–4 classes each."""
    queries, _ = load_catalog()
    t16 = queries["t16_corpus_profile"]
    t16(spark, sf_small).collect()
    before = codegen_compilations(spark)
    for _ in range(3):
        t16(spark, sf_small).collect()
    assert codegen_compilations(spark) == before


def test_runtime_confs_are_modifiable(spark):
    """``apply_runtime_confs`` swallows the error a static key raises, so
    one listed in ``RUNTIME_CONFS`` would silently do nothing."""
    assert all(spark.conf.isModifiable(k) for k in RUNTIME_CONFS)
    assert not any(spark.conf.isModifiable(k) for k in BUILDER_ONLY_CONFS)


def _py4j_commands(call) -> list[str]:
    """The py4j commands the driver sends while ``call()`` runs."""
    conn = py4j.clientserver.ClientServerConnection
    send = conn.send_command
    commands = []

    def counting(self, command, *args, **kwargs):
        commands.append(command)
        return send(self, command, *args, **kwargs)

    conn.send_command = counting
    try:
        call()
    finally:
        conn.send_command = send
    return commands


def test_session_skips_call_site_capture(spark, sf_small):
    """With DataFrame debugging on, every Column call looks up
    ``PySparkCurrentOrigin`` over py4j to record its Python call site."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not pyspark.errors.utils.is_debugging_enabled()

    q01 = load_catalog()[0]["q01_pricing_summary"]
    commands = _py4j_commands(lambda: q01(spark, sf_small))
    assert commands
    assert not [c for c in commands if "PySparkCurrentOrigin" in c]


def test_runtime_confs_apply_once_per_session(spark, sf_small):
    """A repeat entry on a session the runtime confs were applied to
    sets no conf: each apply cost a get and a set per key. (The Parquet
    source still reads the confs its schema memo depends on.)"""
    q01 = load_catalog()[0]["q01_pricing_summary"]
    q01(spark, sf_small)
    conf_set = f"c\n{spark.conf._jconf._target_id}\nset\n"
    commands = _py4j_commands(lambda: q01(spark, sf_small))
    assert commands
    assert not [c for c in commands if c.startswith(conf_set)]

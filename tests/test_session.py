"""The session ``get_spark`` builds keeps every generated class a served
workload uses: replaying the same queries compiles nothing."""

from __future__ import annotations

from omop_dump_to_parquet_spark import load_catalog
from omop_dump_to_parquet_spark.force import forced_count
from omop_dump_to_parquet_spark.session import (
    CODEGEN_CACHE_ENTRIES,
    codegen_compilations,
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

"""Focused tests for the r17 OPTIMIZATION-round changes — every one
pins an internals change whose OUTPUT must be identical to the
pre-r17 form (the round's contract: plans and job counts may change,
results may not).
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from omop_dump_to_parquet_spark.operators import dedup as D
from omop_dump_to_parquet_spark.operators import graph as G
from omop_dump_to_parquet_spark.sources.parquet import table


def test_cc_lazy_default_matches_eager_checkpoint(spark, sf_small):
    """The r17 default (lazy localCheckpoint materialized by the
    convergence fingerprint) must produce the identical component
    assignment as the r16 eager default, on the real d03 pair graph."""
    pairs = G._d03_pairs(spark, sf_small).select(
        "doc_a", "doc_b"
    ).localCheckpoint(eager=True)
    lazy = sorted(
        map(tuple, G.connected_components(pairs, "doc_a", "doc_b").collect())
    )
    eager = sorted(
        map(
            tuple,
            G.connected_components(
                pairs,
                "doc_a",
                "doc_b",
                checkpoint_fn=lambda df: df.localCheckpoint(eager=True),
            ).collect(),
        )
    )
    assert lazy == eager and len(lazy) > 0


def test_g02_struct_min_argmax_matches_window_argmax(spark):
    """The r17 LPA argmax (min of the (-cnt, community) struct) must
    pick the identical (cnt DESC, community ASC) winner as the former
    row_number window — including on ties, which this synthetic vote
    table plants deliberately (equal counts → smallest community)."""
    votes = spark.createDataFrame(
        [
            (1, 10, 3),
            (1, 11, 3),  # tie on cnt → community 10 must win
            (1, 12, 1),
            (2, 5, 7),
            (2, 4, 2),
            (3, 9, 4),
        ],
        "n2 long, community long, cnt long",
    )
    wv = W.partitionBy("n2").orderBy(F.col("cnt").desc(), F.col("community"))
    via_window = {
        (r["node"], r["community"])
        for r in votes.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select(F.col("n2").alias("node"), "community")
        .collect()
    }
    best = F.min(
        F.struct((-F.col("cnt")).alias("neg"), F.col("community"))
    ).alias("b")
    via_agg = {
        (r["node"], r["community"])
        for r in votes.groupBy(F.col("n2").alias("node"))
        .agg(best)
        .select("node", F.col("b.community").alias("community"))
        .collect()
    }
    assert via_window == via_agg == {(1, 10), (2, 5), (3, 9)}


def test_ranked_tokens_window_nw_matches_sizes_join(spark, sf_small):
    """_ranked_tokens' r17 window-computed ``nw`` must equal the r16
    separate-aggregate-plus-join form on every (doc, token) row."""
    docs = table(spark, sf_small, "documents")
    tok = D._distinct_tokens(docs, "lang", "source")
    sizes = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nw"))
    new = {
        (r["doc_id"], r["w"], r["df"], r["rn"], r["nw"])
        for r in D._ranked_tokens(docs, "lang", "source", tok=tok).collect()
    }
    old = {
        (r["doc_id"], r["w"], r["df"], r["rn"], r["nw"])
        for r in D._ranked_tokens(
            docs, "lang", "source", tok=tok, sizes=sizes
        ).collect()
    }
    assert new == old and len(new) > 0


def test_minhash_and_simhash_kernels_drop_null_text(spark):
    """NULL-text rows must drop exactly like the former Catalyst
    explode forms (advisor r16), and the all-NULL batch must not
    crash the reduceat/np.split paths."""
    docs = spark.createDataFrame(
        [(1, "x y z"), (2, None), (3, None)], "doc_id long, text string"
    )
    mh = {r["doc_id"] for r in D.minhash_prepared(docs).collect()}
    sh = {r["doc_id"] for r in D.simhash_chunks(docs).collect()}
    assert mh == sh == {1}
    all_null = spark.createDataFrame(
        [(2, None)], "doc_id long, text string"
    )
    assert D.minhash_prepared(all_null).count() == 0
    assert D.simhash_chunks(all_null).count() == 0


def test_st11_eval_cap_fails_loud(spark, sf_small, monkeypatch):
    """st11's bounded driver collect must raise (naming the batch
    fallback) when the eval split exceeds the cap, instead of
    silently building a corpus-sized driver set."""
    from omop_dump_to_parquet_spark.streaming import stream_queries as SQ

    monkeypatch.setattr(SQ, "ST11_MAX_EVAL_DOCS", 1)
    with pytest.raises(ValueError, match="ST11_MAX_EVAL_DOCS"):
        SQ.st11_stream_decontamination(spark, sf_small)


def test_s09_merged_collect_rows_match_filtered_collects(spark, sf_small):
    """The single bounded head collect must recover exactly the two
    row sets the r16 form collected with separate filters."""
    from omop_dump_to_parquet_spark.functions.vectors import to_double_array
    from omop_dump_to_parquet_spark.operators import similarity as S

    emb = table(spark, sf_small, "embeddings").select(
        "vec_id", to_double_array("embedding").alias("emb")
    )
    head = emb.filter(
        F.col("vec_id") < S.N_QUERIES + S.PQ_TRAIN_N
    ).collect()
    seed_new = sorted(
        (r["vec_id"] for r in head if r["vec_id"] >= S.N_QUERIES)
    )
    probe_new = sorted(
        (r["vec_id"] for r in head if r["vec_id"] < S.N_QUERIES)
    )
    seed_old = sorted(
        r["vec_id"]
        for r in emb.filter(
            (F.col("vec_id") >= S.N_QUERIES)
            & (F.col("vec_id") < S.N_QUERIES + S.PQ_TRAIN_N)
        ).collect()
    )
    probe_old = sorted(
        r["vec_id"]
        for r in emb.filter(F.col("vec_id") < S.N_QUERIES).collect()
    )
    assert seed_new == seed_old and probe_new == probe_old

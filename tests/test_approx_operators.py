"""Unit tests for the approximate (rows-only-checked) operators —
the properties the DuckDB differential gate can't see.
"""

from __future__ import annotations

import pytest
from pyspark.errors import PythonException
from pyspark.sql import functions as F

from omop_dump_to_parquet_spark import load_catalog
from omop_dump_to_parquet_spark.operators import dedup as D
from omop_dump_to_parquet_spark.operators import similarity as S
from omop_dump_to_parquet_spark.sources.parquet import table

QUERIES, _ = load_catalog()


def test_lsh_candidates_superset_of_high_jaccard_pairs(spark, sf_small):
    """Recall property: every pair above the operating threshold must
    appear in the candidate set (this is what makes the verified
    output exact)."""
    docs = table(spark, sf_small, "documents")
    cands = {
        (r["doc_a"], r["doc_b"])
        for r in D.lsh_candidate_pairs(D.minhash_prepared(docs)).collect()
    }
    toks = {
        r["doc_id"]: set(r["text"].split(" "))
        for r in docs.select("doc_id", "text").collect()
    }
    ids = sorted(toks)
    missed = []
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            jac = len(toks[a] & toks[b]) / len(toks[a] | toks[b])
            if jac >= D.MINHASH_THRESHOLD and (a, b) not in cands:
                missed.append((a, b, jac))
    assert not missed, f"LSH missed {len(missed)} true pairs: {missed[:5]}"


def test_lsh_cap_aware_first_band_emission(spark):
    """A pair whose FIRST shared band falls in a capped (dropped)
    bucket but that shares a later, uncapped band must still be
    emitted, exactly once — the cap must cost recall only for pairs
    whose every shared bucket is capped."""
    # 3 hand-built band keys per doc. Docs 0..9 share band 0's key
    # (bucket of 10, capped at 5); docs 0 and 1 also share band 1's
    # key (bucket of 2, survives). No band-2 collisions; equal nw so
    # the size prune passes every pair.
    rows = [
        (i, 6, [777, 1000 if i < 2 else 1000 + i + 50, 2000 + i])
        for i in range(10)
    ]
    reps = spark.createDataFrame(
        rows, "doc_id bigint, nw int, keys array<bigint>"
    )
    out = [
        (r["doc_a"], r["doc_b"])
        for r in D.lsh_candidate_pairs(reps, max_bucket=5).collect()
    ]
    assert out == [(0, 1)], out  # emitted via band 1, exactly once


def test_lsh_capped_set_matches_surviving_band_model(spark, sf_small):
    """Differential check of the cap-aware plan against a brute-force
    surviving-band model at an aggressive cap on real fixture
    signatures (caps actually fire, unlike MAX_BUCKET at sf0.001)."""
    from collections import Counter

    docs = table(spark, sf_small, "documents")
    prepared = D.minhash_prepared(docs).select("doc_id", "nw", "keys")
    cap = 8
    got = {
        (r["doc_a"], r["doc_b"])
        for r in D.lsh_candidate_pairs(prepared, max_bucket=cap).collect()
    }
    rows = prepared.collect()
    kmap = {r["doc_id"]: list(r["keys"]) for r in rows}
    nw = {r["doc_id"]: r["nw"] for r in rows}
    bucket = Counter(
        (b, k) for ks in kmap.values() for b, k in enumerate(ks)
    )
    surv = {
        d: [k if bucket[(b, k)] <= cap else None for b, k in enumerate(ks)]
        for d, ks in kmap.items()
    }
    ids = sorted(kmap)
    want = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if _size_ok(nw[a], nw[b])
        and any(
            x is not None and x == y for x, y in zip(surv[a], surv[b])
        )
    }
    assert any(v > cap for v in bucket.values()), "cap never fired"
    assert got == want, (len(got), len(want))


def _size_ok(nw_a, nw_b):
    """lsh_candidate_pairs' set-size prune for MINHASH_THRESHOLD."""
    from fractions import Fraction

    r = Fraction(str(D.MINHASH_THRESHOLD))
    return min(nw_a, nw_b) * r.denominator >= max(nw_a, nw_b) * r.numerator


def test_simhash_identical_docs_collide(spark, sf_small):
    """SimHash fingerprints are a pure function of the token set."""
    docs = table(spark, sf_small, "documents").limit(20)
    doubled = docs.union(docs)  # identical content, same doc_ids
    fp1 = {r["doc_id"]: (r["c0"], r["c1"], r["c2"], r["c3"])
           for r in D.simhash_chunks(docs).collect()}
    fp2 = {r["doc_id"]: (r["c0"], r["c1"], r["c2"], r["c3"])
           for r in D.simhash_chunks(doubled).collect()}
    assert fp1 == fp2
    for chunks in fp1.values():
        assert all(0 <= c < 2**16 for c in chunks)


def test_simhash_pairs_have_low_hamming(spark, sf_small):
    out = QUERIES["d05_dedup_simhash"](spark, sf_small)
    assert out.filter(F.col("hamming") > D.SIMHASH_MAX_HAMMING).count() == 0
    assert out.filter("doc_a >= doc_b").count() == 0


def test_hyperplanes_deterministic():
    assert S._hyperplanes() == S._hyperplanes()
    planes = S._hyperplanes()
    assert len(planes) == S.N_PLANES
    assert len(planes[0]) == S.EMB_DIM


def test_ann_results_subset_of_bruteforce_candidates(spark, sf_small):
    """Every ANN hit must be a real vector with correct (rounded)
    cosine — validated against the brute-force scores."""
    brute = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in (
            S.s01_knn_bruteforce(spark, sf_small)
            .drop("rank")
            .collect()
        )
    }
    ann = QUERIES["s02_ann_lsh"](spark, sf_small).collect()
    assert len(ann) > 0
    # the brute map is exact top-5/query: any ANN hit that coincides
    # with a brute pair must carry the IDENTICAL rounded cosine, and
    # no ANN score may exceed the query's exact best (r10 test
    # review: the map was computed but never consulted)
    best = {}
    for (q, _n), c in brute.items():
        best[q] = max(best.get(q, -2.0), c)
    overlap = 0
    for r in ann:
        assert -1.0 <= r["cos_sim"] <= 1.0
        assert r["query_id"] != r["neighbor_id"]
        key = (r["query_id"], r["neighbor_id"])
        if key in brute:
            overlap += 1
            assert r["cos_sim"] == brute[key], key
        assert r["cos_sim"] <= best[r["query_id"]] + 1e-12
    assert overlap > 0  # the approximation does find real neighbors
    # per-query ranks are 1..k contiguous
    by_q = {}
    for r in ann:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_langid_deterministic_and_total(spark, sf_small):
    a = QUERIES["t04_langid"](spark, sf_small).collect()
    b = QUERIES["t04_langid"](spark, sf_small).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert all(r["predicted_lang"] is not None for r in a)


def test_frame_sample_stride_and_sizes(spark, sf_small):
    from omop_dump_to_parquet_spark.operators import multimodal as M

    payloads = table(spark, sf_small, "documents").select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    )
    rows = M.frame_sample(payloads).collect()
    assert all(r["frame_idx"] % M.FRAME_STRIDE == 0 for r in rows)
    assert all(1 <= r["frame_bytes"] <= M.FRAME_BYTES for r in rows)
    assert all(len(r["frame"]) == r["frame_bytes"] for r in rows)
    # the kernel chunks each payload with _fake_demux; pin its output
    # to the driver-side call
    doc = table(spark, sf_small, "documents").orderBy("doc_id").first()
    expect = M._fake_demux(doc["text"].encode())[:: M.FRAME_STRIDE]
    got = sorted(
        (r["frame_idx"], bytes(r["frame"]))
        for r in rows
        if r["doc_id"] == doc["doc_id"]
    )
    assert [f for _, f in got] == expect
    # the registered query is the lossless hex projection of the same
    hx = QUERIES["m03_frame_sample"](spark, sf_small).collect()
    hmap = {
        (r["doc_id"], r["frame_idx"]): r["frame_hex"] for r in hx
    }
    assert all(
        hmap[(r["doc_id"], r["frame_idx"])] == bytes(r["frame"]).hex().upper()
        for r in rows
    )


def test_size_prefilter_loses_no_recall(spark, sf_small):
    """The set-size necessary condition must drop ONLY pairs that
    cannot reach the threshold: every candidate passes it, and every
    band collision it drops is verifiably below the threshold."""
    docs = table(spark, sf_small, "documents")
    prepared = D.minhash_prepared(docs)
    filtered = {
        (r["doc_a"], r["doc_b"])
        for r in D.lsh_candidate_pairs(prepared).collect()
    }
    keys = {r["doc_id"]: r["keys"] for r in prepared.collect()}
    ids = sorted(keys)
    colliding = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if any(x == y for x, y in zip(keys[a], keys[b]))
    }
    assert filtered < colliding  # the prune fired
    toks = {
        r["doc_id"]: set(r["text"].split(" "))
        for r in docs.select("doc_id", "text").collect()
    }
    for a, b in filtered:
        assert _size_ok(len(toks[a]), len(toks[b])), (a, b)
    for a, b in colliding - filtered:
        jac = len(toks[a] & toks[b]) / len(toks[a] | toks[b])
        assert jac < D.MINHASH_THRESHOLD, (a, b, jac)


def test_resize_deterministic_and_sized(spark, sf_small):
    from omop_dump_to_parquet_spark.operators.multimodal import (
        TARGET_H,
        TARGET_W,
        m04_resize,
        resize_frames,
    )

    frames = (
        table(spark, sf_small, "documents")
        .select("doc_id", F.encode(F.col("text"), "utf-8").alias("payload"))
        .withColumn("src_w", F.lit(32))
        .withColumn("src_h", F.floor(F.length("payload") / 32).cast("int"))
        .filter(F.col("src_h") >= 1)
    )
    out = resize_frames(frames).collect()
    assert out, "fixture docs all form at least one 32-byte row"
    for r in out:
        assert (r["out_w"], r["out_h"]) == (TARGET_W, TARGET_H)
        assert len(r["resized"]) == TARGET_W * TARGET_H
    # deterministic across recomputation
    again = resize_frames(frames).collect()
    row = out[0]
    row2 = next(r for r in again if r["doc_id"] == row["doc_id"])
    assert bytes(row["resized"]) == bytes(row2["resized"])
    # the registered query is the lossless hex projection of the same
    hx = {r["doc_id"]: r["resized_hex"] for r in m04_resize(spark, sf_small).collect()}
    assert all(
        hx[r["doc_id"]] == bytes(r["resized"]).hex().upper() for r in out
    )


def test_int8_ann_agrees_with_exact_topk(spark, sf_small):
    """SQ8 quantization must preserve most of the exact top-k: ≥60%
    neighbor overlap per query and rank-1 agreement for a clear
    majority (64-dim synthetic vectors lose ~1/127 per component)."""
    from omop_dump_to_parquet_spark.operators import similarity as S

    exact = S.s01_knn_bruteforce(spark, sf_small).collect()
    quant = S.s06_ann_int8(spark, sf_small).collect()
    by_q_exact, by_q_quant = {}, {}
    for r in exact:
        by_q_exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in quant:
        by_q_quant.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert by_q_exact.keys() == by_q_quant.keys()
    overlaps = [
        len(by_q_exact[q] & by_q_quant[q]) / len(by_q_exact[q])
        for q in by_q_exact
    ]
    assert min(overlaps) >= 0.6, overlaps
    assert sum(overlaps) / len(overlaps) >= 0.8, overlaps


def test_ivf_multiprobe_recall_and_shape(spark, sf_small):
    """IVF with n_probe=2: ranks contiguous per query and ≥70% mean
    recall@k against exact brute force (cell borders cost the rest —
    that's the documented IVF trade)."""
    from omop_dump_to_parquet_spark.operators import similarity as S

    exact, ivf = {}, {}
    for r in S.s01_knn_bruteforce(spark, sf_small).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    rows = S.s05_ann_ivf(spark, sf_small).collect()
    for r in rows:
        ivf.setdefault(r["query_id"], []).append(r["rank"])
    for q, ranks in ivf.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), q
    got = {q: {r["neighbor_id"] for r in rows if r["query_id"] == q} for q in ivf}
    recalls = [len(exact[q] & got.get(q, set())) / len(exact[q]) for q in exact]
    assert sum(recalls) / len(recalls) >= 0.7, recalls


def test_shuffle_verify_matches_broadcast_verify(spark, sf_small):
    """The beyond-broadcast verification path (shuffle joins on doc id)
    must return exactly the broadcast path's pairs, and must actually
    plan without a broadcast of the token table."""
    docs = table(spark, sf_small, "documents")
    cands = D.lsh_candidate_pairs(D.minhash_prepared(docs))

    bc = D.verify_jaccard_pairs(docs, cands, D.MINHASH_THRESHOLD, True)
    sh = D.verify_jaccard_pairs(docs, cands, D.MINHASH_THRESHOLD, False)
    a = {(r["doc_a"], r["doc_b"]) for r in bc.collect()}
    b = {(r["doc_a"], r["doc_b"]) for r in sh.collect()}
    assert a == b and a


def test_kmeans_clusters_total_and_deterministic(spark, sf_small):
    from omop_dump_to_parquet_spark.operators import similarity as S

    # the unrolled oracle hardcodes the dim — guard the assumption
    dim = spark.read.parquet(f"{sf_small}/embeddings.parquet").select(
        F.size("embedding")
    ).distinct().collect()
    assert [r[0] for r in dim] == [S.S07_DIM]

    a = sorted(
        S.s07_kmeans_clusters(spark, sf_small).collect(),
        key=lambda r: r["cluster"],
    )
    n_emb = spark.read.parquet(f"{sf_small}/embeddings.parquet").count()
    assert sum(r["n_vectors"] for r in a) == n_emb  # totality
    assert len(a) <= S.KMEANS_K
    b = sorted(
        S.s07_kmeans_clusters(spark, sf_small).collect(),
        key=lambda r: r["cluster"],
    )
    assert [tuple(r) for r in a] == [tuple(r) for r in b]  # deterministic


def test_stratified_sample_rates_and_determinism(spark, sf_small):
    from omop_dump_to_parquet_spark.operators import text as T
    from pyspark.sql import functions as F

    docs = table(spark, sf_small, "documents")
    totals = {
        r["lang"]: r["n"]
        for r in docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    a = {r["lang"]: r["n_sampled"] for r in T.t06_stratified_sample(spark, sf_small).collect()}
    b = {r["lang"]: r["n_sampled"] for r in T.t06_stratified_sample(spark, sf_small).collect()}
    assert a == b  # seeded determinism
    for lang, n in a.items():
        frac = T.SAMPLE_FRACTIONS.get(lang, 0.1)
        if frac == 1.0:
            assert n == totals[lang]  # keep-all stratum is exact
        else:
            assert 0 <= n <= totals[lang]
            # Bernoulli: within 5 sigma of expectation
            import math
            mu = totals[lang] * frac
            sigma = math.sqrt(totals[lang] * frac * (1 - frac))
            assert abs(n - mu) <= 5 * sigma + 1, (lang, n, mu)


def test_gemm_operators_never_collect_the_corpus(spark, sf_small, monkeypatch):
    """Scale invariant for the kernel family: plan construction must
    not pull the corpus to the driver. S04 collects nothing; S06 may
    only collect the bounded probe set (N_QUERIES rows, same class as
    S05's NLIST centroids), S09 the probes plus its PQ_TRAIN_N
    codebook seeds. The driver-built arrays ride in the kernels'
    closures: no plan build creates a Spark broadcast, whose handle
    would outlive the query."""
    from omop_dump_to_parquet_spark.operators import similarity as S

    # patch the concrete runtime class (Spark 4: classic.dataframe
    # subclasses pyspark.sql.DataFrame and overrides collect)
    df_cls = type(spark.range(1))
    collected: list[int] = []
    orig = df_cls.collect

    def spy(self):
        rows = orig(self)
        collected.append(len(rows))
        return rows

    def no_broadcast(self, value):
        raise AssertionError("plan build created a Spark broadcast")

    monkeypatch.setattr(df_cls, "collect", spy)
    monkeypatch.setattr(type(spark.sparkContext), "broadcast", no_broadcast)
    S.s04_dedup_embedding(spark, sf_small)
    assert collected == [], "s04 plan build must not collect"
    S.s06_ann_int8(spark, sf_small)
    assert collected and all(n <= S.N_QUERIES for n in collected), collected
    collected.clear()
    S.s09_ann_pq(spark, sf_small)
    assert collected and all(
        n <= S.N_QUERIES + S.PQ_TRAIN_N for n in collected
    ), collected


def test_blocked_gemm_matches_oracle_pairs(spark, sf_small, duck):
    """The cogrouped block-pair GEMM must reproduce the exact all-pairs
    answer (every unordered pair in exactly one block pair)."""
    from omop_dump_to_parquet_spark.operators import similarity as S

    rows = S.s04_dedup_embedding(spark, sf_small).collect()
    keys = [(r["vec_a"], r["vec_b"]) for r in rows]
    # exactly once: a block-pair enumeration bug that emits both
    # (i,j) and (j,i) would be collapsed by a dict and pass silently
    # (r10 test review)
    assert len(keys) == len(set(keys)), "duplicate pair rows"
    got = {k: r["cos_sim"] for k, r in zip(keys, rows)}
    want = {
        (a, b): s
        for a, b, s in duck.sql(S.S04_ORACLE).fetchall()
    }
    assert got == want


def test_prefix_filter_excludes_hot_tokens_and_loses_no_recall(
    spark, sf_small, duck
):
    """The d03 hot-token guard: stopword-frequency tokens must not
    enter the inverted index (they sort last in the (df, w) order and
    fall outside every doc's prefix), while the candidate set still
    covers every true >=t pair (prefix-filter lemma)."""
    from fractions import Fraction

    from omop_dump_to_parquet_spark.operators import dedup as D
    from omop_dump_to_parquet_spark.sources.parquet import table

    docs = table(spark, sf_small, "documents")
    ratio = Fraction(str(D.JACCARD_THRESHOLD))
    cand = {
        (r["doc_a"], r["doc_b"])
        for r in D.prefix_filter_candidates(
            docs, ratio.numerator, ratio.denominator, "lang", "source"
        ).collect()
    }
    true_pairs = {
        (a, b) for a, b, _ in duck.sql(D.D03_ORACLE).fetchall()
    }
    assert true_pairs <= cand, "prefix filter lost true pairs"

    # index-size guard: join work is sum(df_full * df_prefix); the
    # naive self-join pays sum(df_full^2). Require a real reduction.
    # The index inspected here is the one d03/d07 build (D._prefix
    # over D._ranked_tokens), not a test-local re-derivation.
    from pyspark.sql import functions as F

    tok = D._distinct_tokens(docs, "lang", "source")
    dfreq = tok.groupBy("lang", "source", "w").agg(
        F.count(F.lit(1)).alias("df")
    )
    prefix = D._prefix(
        D._ranked_tokens(docs, "lang", "source"),
        ratio.numerator,
        ratio.denominator,
    )
    pfreq = prefix.groupBy("lang", "source", "w").agg(
        F.count(F.lit(1)).alias("pdf")
    )
    joined = dfreq.join(pfreq, ["lang", "source", "w"], "left").select(
        "df", F.coalesce(F.col("pdf"), F.lit(0)).alias("pdf")
    )
    work = joined.agg(
        F.sum(F.col("df") * F.col("pdf")).alias("guarded"),
        F.sum(F.col("df") * F.col("df")).alias("naive"),
    ).collect()[0]
    assert work["guarded"] * 2 <= work["naive"], (
        work["guarded"],
        work["naive"],
    )
    # the sharp guard: the hottest (stopword-class) tokens sort last
    # in the (df, w) order and must be absent from the index entirely
    hottest = joined.orderBy(F.col("df").desc()).first()
    assert hottest["pdf"] == 0, hottest


def test_prefix_filter_block_population_guard_fires(spark, sf_small):
    """The r9 bounded-block contract: a block whose population
    exceeds ``max_block_docs`` must raise AT EXECUTION TIME (the
    Heaps-law sweep measured ~N^1.6 candidate growth per block — the
    guard turns the silent super-linear sweep into an error), while
    the same data under a sufficient bound — and under the explicit
    ``None`` opt-out — returns the identical candidate set."""
    import pytest

    from omop_dump_to_parquet_spark.operators import dedup as D
    from omop_dump_to_parquet_spark.sources.parquet import table

    docs = table(spark, sf_small, "documents")
    blocked = D.prefix_filter_candidates(
        docs, 3, 5, "lang", "source", max_block_docs=3
    )
    with pytest.raises(Exception, match="max_block_docs=3"):
        blocked.collect()

    guarded = sorted(
        (r["doc_a"], r["doc_b"])
        for r in D.prefix_filter_candidates(
            docs, 3, 5, "lang", "source", max_block_docs=10**6
        ).collect()
    )
    unguarded = sorted(
        (r["doc_a"], r["doc_b"])
        for r in D.prefix_filter_candidates(
            docs, 3, 5, "lang", "source", max_block_docs=None
        ).collect()
    )
    assert guarded == unguarded and guarded


def test_int8_ann_matches_numpy_reference_exactly(spark, sf_small):
    """The distributed SQ8 kernel (per-batch local top-k + global
    window) must equal a straight single-process NumPy reference of
    the SAME quantization semantics — this pins the rewrite's
    batch-local pruning and tie-breaks, which the overlap-vs-exact
    test above cannot see."""
    import numpy as np

    from omop_dump_to_parquet_spark.operators import similarity as S

    emb = S.embeddings(spark, sf_small).collect()
    ids = np.array([r["vec_id"] for r in emb], dtype=np.int64)
    M = np.array([r["emb"] for r in emb], dtype=np.float64)

    def quantize(X):
        scales = np.abs(X).max(axis=1)
        scales[scales == 0] = 1.0
        Q = np.rint(X / scales[:, None] * 127).astype(np.int8)
        n = np.sqrt((Q.astype(np.float64) ** 2).sum(axis=1))
        n[n == 0] = 1.0
        return Q, n

    pmask = ids < S.N_QUERIES
    Pq, pn = quantize(M[pmask])
    p_ids = ids[pmask]
    Bq, bn = quantize(M)
    Sc = np.round(
        (Pq.astype(np.int32) @ Bq.astype(np.int32).T)
        / np.outer(pn, bn),
        6,
    )
    expect = set()
    for i in range(len(p_ids)):
        keep = ids != p_ids[i]
        cand = np.nonzero(keep)[0]
        order = np.lexsort((ids[cand], -Sc[i][cand]))[: S.TOP_K]
        for rank, j in enumerate(order, start=1):
            expect.add(
                (int(p_ids[i]), int(ids[cand[j]]), float(Sc[i][cand[j]]), rank)
            )

    got = {
        (r["query_id"], r["neighbor_id"], r["cos_sim_q"], r["rank"])
        for r in S.s06_ann_int8(spark, sf_small).collect()
    }
    assert got == expect


def test_word_shingles_edge_cases(spark):
    from pyspark.sql import functions as F

    from omop_dump_to_parquet_spark.operators.dedup import word_shingles

    rows = (
        spark.createDataFrame(
            [("a b c d e",), ("a b",), ("solo",), ("a b c",)], ["text"]
        )
        .select(word_shingles(F.col("text"), 3).alias("sh"))
        .collect()
    )
    assert sorted(rows[0]["sh"]) == ["a b c", "b c d", "c d e"]
    assert rows[1]["sh"] == ["a b"]  # sub-n doc → whole-doc shingle
    assert rows[2]["sh"] == ["solo"]
    assert rows[3]["sh"] == ["a b c"]


def test_shingle_jaccard_order_sensitive(spark):
    """The property d07 adds over d03: word-set Jaccard can't see word
    order, shingle Jaccard can."""
    from pyspark.sql import functions as F

    from omop_dump_to_parquet_spark.operators.dedup import word_shingles

    df = spark.createDataFrame(
        [("x", "the quick brown fox jumps high",),
         ("y", "high jumps fox brown quick the",)],
        ["doc_id", "text"],
    )
    sets = df.select(
        F.array_distinct(F.split("text", " ")).alias("w"),
        word_shingles(F.col("text"), 3).alias("sh"),
    ).collect()
    # identical vocabulary...
    assert sorted(sets[0]["w"]) == sorted(sets[1]["w"])
    # ...but zero shared shingles
    assert not set(sets[0]["sh"]) & set(sets[1]["sh"])


def test_ahash_identical_payloads_collide_and_banding_is_complete(spark):
    """m05's aHash: identical payloads hash identically; a payload
    differing in a few pixels lands within Hamming ≤ 3 and the 4×16
    banding (pigeonhole) MUST surface the pair; an unrelated payload
    must not appear in any pair."""
    from pyspark.sql import functions as F

    from omop_dump_to_parquet_spark.operators.multimodal import ahash_64

    base = bytes(range(256)) * 4          # 1024 bytes → 64 strides of 16
    near = bytearray(base)
    near[0:16] = b"\xff" * 16             # flip one downsampled "pixel"
    other = bytes(reversed(base))
    df = spark.createDataFrame(
        [(1, base), (2, bytes(base)), (3, bytes(near)), (4, other)],
        ["doc_id", "payload"],
    )
    h = {r["doc_id"]: r["phash"] for r in ahash_64(df).collect()}
    assert h[1] == h[2]
    assert bin((h[1] ^ h[3]) & ((1 << 64) - 1)).count("1") <= 3
    # deterministic across recomputation
    h2 = {r["doc_id"]: r["phash"] for r in ahash_64(df).collect()}
    assert h == h2


def test_m05_finds_planted_near_dups(spark, tmp_path):
    """End-to-end: plant exact + near duplicate 'images' in a corpus,
    m05 must report exactly those pairs."""
    from omop_dump_to_parquet_spark.operators.multimodal import (
        m05_image_phash_neardup,
    )

    base = ("x" * 41 + "q" * 23) * 16
    near = "z" * 41 + base[41:]
    rows = [(1, base), (2, base), (3, near)] + [
        (10 + i, f"doc {i} " + "distinct words %d " % i * (20 + i))
        for i in range(10)
    ]
    spark.createDataFrame(rows, ["doc_id", "text"]).withColumn(
        "lang", F.lit("en")
    ).withColumn("source", F.lit("t")).withColumn(
        "n_chars", F.length("text")
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    rows_out = m05_image_phash_neardup(spark, str(tmp_path)).collect()
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in rows_out}
    # recall is the guarantee (pigeonhole banding is complete for
    # Hamming ≤ 3); precision on text-bytes-as-image payloads is NOT —
    # aHash is a 64-bit sketch, and repetitive fillers may collide
    # (real pipelines verify survivors in pixel space)
    assert pairs.get((1, 2)) == 0   # exact dup: Hamming 0
    assert (1, 3) in pairs or (2, 3) in pairs  # planted near-dup found


def test_m05_oracle_recomputes_kernel_phash(spark, sf_small):
    """r6 oracle upgrade: DuckDB must recompute the Arrow kernel's
    64-bit aHash bit-for-bit from the text bytes (the d05 recipe —
    integer threshold, no float mean). Also guards the oracle's
    ord(substr)==byte assumption: the fixture must stay pure ASCII."""
    import duckdb

    from omop_dump_to_parquet_spark.operators.multimodal import ahash_64
    from omop_dump_to_parquet_spark.sources.parquet import table

    docs = table(spark, sf_small, "documents")
    non_ascii = docs.filter(
        F.length(F.encode("text", "utf-8")) != F.length("text")
    ).count()
    assert non_ascii == 0, "oracle assumes ASCII (ord == byte)"

    payload = docs.select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    got = {r["doc_id"]: r["phash"] for r in ahash_64(payload).collect()}

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_small}/documents.parquet')"
    )
    want_rows = con.sql("""
        WITH b AS (
          SELECT doc_id, text, length(text) AS n,
                 CASE WHEN length(text) >= 64 THEN length(text) // 64
                      ELSE 1 END AS stride
          FROM documents
        ), cs AS (
          SELECT doc_id,
                 list_transform(range(0, 64), j ->
                   CASE
                     WHEN n >= 64 THEN
                       list_sum(list_transform(
                         range(j * stride + 1, (j + 1) * stride + 1),
                         i -> ord(substr(text, CAST(i AS INT), 1))))
                     WHEN j < n THEN ord(substr(text, CAST(j + 1 AS INT), 1))
                     ELSE 0
                   END) AS cs
          FROM b
        )
        SELECT doc_id,
               CAST(list_sum(list_transform(range(0, 63), i ->
                      CASE WHEN cs[CAST(i + 1 AS INT)] * 64 > list_sum(cs)
                           THEN (CAST(1 AS BIGINT) << CAST(i AS INT))
                           ELSE 0 END)) AS BIGINT)
               + CASE WHEN cs[64] * 64 > list_sum(cs)
                      THEN CAST(-9223372036854775807 - 1 AS BIGINT)
                      ELSE 0 END AS phash
        FROM cs
    """).fetchall()
    want = {int(d): int(p) for d, p in want_rows}
    assert got == want


def test_sketch_rollup_tracks_exact_distinct(spark, sf_small):
    """q41 (r9 exact+within-ε contract): every registered row's
    `hll_within_eps` gate must be True and `exact_weekly_users` must
    equal an independently computed exact distinct; separately, the
    re-aggregation contract — merging daily sketches ≈ sketching the
    week directly — is checked on raw sketch columns."""
    from pyspark.sql import functions as F

    from omop_dump_to_parquet_spark import load_catalog
    from omop_dump_to_parquet_spark.sources.parquet import table

    queries, _ = load_catalog()
    rows = queries["q41_sketch_rollup_merge"](spark, sf_small).collect()
    assert rows and all(r["hll_within_eps"] for r in rows), rows
    got = {r["week"]: r["exact_weekly_users"] for r in rows}
    exact = {
        r["week"]: r["n"]
        for r in table(spark, sf_small, "events")
        .groupBy(F.date_trunc("week", "ts").alias("week"))
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert got == exact

    # merge-of-parts ~= sketch-of-whole (the re-aggregation contract).
    # Exact equality only holds while sketches stay in sparse/coupon
    # mode; in dense HLL mode a union's estimate can differ in
    # low-order digits, so bound instead of demanding bit-equality.
    ev = table(spark, sf_small, "events")
    week = F.date_trunc("week", "ts").alias("week")
    merged = {
        r["week"]: r["est"]
        for r in ev.groupBy(week, F.date_trunc("day", "ts").alias("day"))
        .agg(F.hll_sketch_agg("user_id").alias("s"))
        .groupBy("week")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("s")).alias("est"))
        .collect()
    }
    direct = {
        r["week"]: r["est"]
        for r in ev.groupBy(week)
        .agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est")
        )
        .collect()
    }
    assert set(merged) == set(direct)
    for wk, est in merged.items():
        assert abs(est - direct[wk]) <= max(1, 0.05 * direct[wk]), (
            wk, est, direct[wk]
        )


def test_pq_adc_beats_chance_and_is_deterministic(spark, sf_small):
    """s09 PQ/ADC: exactly N_QUERIES×TOP_K rows, deterministic across
    runs, and recall vs exact s01 far above chance. (The fixture's
    embeddings are near-random — top-5 cosine ≈ 0.35 vs p99 ≈ 0.29 —
    so absolute recall is inherently modest for 8-byte codes; chance
    recall@5 is 5/|corpus| ≈ 0.01, and the bound asserts ≥ 15×
    that.)"""
    import collections

    from omop_dump_to_parquet_spark import load_catalog
    from omop_dump_to_parquet_spark.operators.similarity import (
        N_QUERIES,
        TOP_K,
    )

    queries, _ = load_catalog()
    a = queries["s09_ann_pq"](spark, sf_small).toPandas()
    b = queries["s09_ann_pq"](spark, sf_small).toPandas()
    assert len(a) == N_QUERIES * TOP_K
    key = ["query_id", "rank"]
    assert (
        a.sort_values(key).reset_index(drop=True)["neighbor_id"].tolist()
        == b.sort_values(key).reset_index(drop=True)["neighbor_id"].tolist()
    )

    s01 = queries["s01_knn_bruteforce"](spark, sf_small).toPandas()
    exact = collections.defaultdict(set)
    approx = collections.defaultdict(set)
    for _, r in s01.iterrows():
        exact[r["query_id"]].add(r["neighbor_id"])
    for _, r in a.iterrows():
        approx[r["query_id"]].add(r["neighbor_id"])
    recalls = [len(exact[q] & approx[q]) / len(exact[q]) for q in exact]
    assert sum(recalls) / len(recalls) >= 0.15, recalls


def test_theta_overlap_tracks_exact_set_algebra(spark, sf_small):
    """q44 (r9 exact+within-ε contract): the registered exact counts
    must equal an independently computed set algebra, and all four
    sketch-vs-exact ε-gates must be True (theta sketches are exact
    below their nominal-entries threshold — fixture cardinalities are
    tens of users)."""
    from pyspark.sql import functions as F

    from omop_dump_to_parquet_spark import load_catalog
    from omop_dump_to_parquet_spark.sources.parquet import table

    queries, _ = load_catalog()
    row = queries["q44_theta_overlap"](spark, sf_small).collect()[0]

    ev = table(spark, sf_small, "events")
    purchasers = {
        r["user_id"]
        for r in ev.filter(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
        .collect()
    }
    erroring = {
        r["user_id"]
        for r in ev.filter(F.col("event_type") == "error")
        .select("user_id")
        .distinct()
        .collect()
    }
    checks = {
        "n_purchasers": len(purchasers),
        "n_erroring": len(erroring),
        "n_overlap": len(purchasers & erroring),
        "n_purchase_only": len(purchasers - erroring),
    }
    for col, exact in checks.items():
        assert row[col] == exact, (col, row[col], exact)
    for gate in (
        "purchasers_within_eps",
        "erroring_within_eps",
        "overlap_within_eps",
        "diff_within_eps",
    ):
        assert row[gate] is True, (gate, row)


def test_m09_real_decode_matches_driver_reference(spark, sf_small):
    """m09 (r9): the registered encode→REAL-decode→resample pipeline
    must equal a driver-side reference built from encode_bmp_frames'
    spec + decode_bmp_gray + the m04 sampling arithmetic, for every
    document with at least one pixel row — and the encoder's
    bottom-up/stride/palette obligations must be live (flip the
    decoder's row order and the pixels land elsewhere; pinned by the
    roundtrip equality here)."""
    from omop_dump_to_parquet_spark import load_catalog
    from omop_dump_to_parquet_spark.operators.multimodal import (
        BMP_W,
        TARGET_H,
        TARGET_W,
        decode_bmp_gray,
    )
    from omop_dump_to_parquet_spark.sources.parquet import table

    queries, _ = load_catalog()
    got = {
        r["doc_id"]: r
        for r in queries["m09_bmp_decode_resize"](spark, sf_small).collect()
    }
    docs = {
        r["doc_id"]: r["text"]
        for r in table(spark, sf_small, "documents")
        .select("doc_id", "text")
        .collect()
    }
    want_ids = {d for d, t in docs.items() if len(t) // BMP_W >= 1}
    assert set(got) == want_ids and want_ids
    import struct

    for doc_id in list(sorted(want_ids))[:25]:  # bounded spot-check
        b = docs[doc_id].encode()
        w, h = BMP_W, len(b) // BMP_W
        # re-encode per encode_bmp_frames' documented spec
        stride = (w + 3) & ~3
        palette = b"".join(bytes((i, i, i, 0)) for i in range(256))
        data_off = 14 + 40 + len(palette)
        px = b"".join(
            b[y * w : (y + 1) * w] + b"\x00" * (stride - w)
            for y in range(h - 1, -1, -1)
        )
        payload = (
            b"BM"
            + struct.pack("<IHHI", data_off + len(px), 0, 0, data_off)
            + struct.pack(
                "<IiiHHIIiiII",
                40, w, h, 1, 8, 0, len(px), 2835, 2835, 256, 0,
            )
            + palette
            + px
        )
        dw, dh, pixels = decode_bmp_gray(payload)
        assert (dw, dh) == (w, h)
        assert pixels == b[: w * h]  # flip + stride strip round-trips
        expect = bytes(
            pixels[(y * dh // TARGET_H) * dw + (x * dw // TARGET_W)]
            for y in range(TARGET_H)
            for x in range(TARGET_W)
        )
        r = got[doc_id]
        assert (r["src_w"], r["src_h"]) == (w, h)
        assert bytes.fromhex(r["resized_hex"]) == expect, doc_id


def test_wav_decode_kernel_matches_reference(spark):
    """m10 (r9): the WAV kernel's output must match decode_wav_pcm16
    on genuine RIFF payloads — including one with an extra odd-sized
    chunk (the pad-rule trap) — and malformed payloads must raise the
    contractual ValueError, in the kernel too."""
    import struct

    import pytest

    from omop_dump_to_parquet_spark.operators.multimodal import (
        WAV_FRAME,
        WAV_HOP,
        decode_wav_pcm16,
        encode_wav_frames,
        wav_frame_features,
    )

    text = bytes((37 * i + 11) % 128 for i in range(150))
    df = spark.createDataFrame([(7, text)], "doc_id long, payload binary")
    payload = bytes(encode_wav_frames(df).collect()[0]["payload"])
    samples = decode_wav_pcm16(payload)
    assert samples == [(b - 96) * 256 for b in text]

    rows = {
        r["frame_idx"]: r
        for r in wav_frame_features(encode_wav_frames(df)).collect()
    }
    n_frames = (len(samples) - WAV_FRAME) // WAV_HOP + 1
    assert set(rows) == set(range(n_frames))
    for i in range(n_frames):
        fr = samples[i * WAV_HOP : i * WAV_HOP + WAV_FRAME]
        r = rows[i]
        assert r["peak_abs"] == max(abs(s) for s in fr)
        assert r["sum_abs"] == sum(abs(s) for s in fr)
        assert r["energy"] == sum(s * s for s in fr)
        assert r["zero_crossings"] == sum(
            1 for a, b in zip(fr, fr[1:]) if a * b < 0
        )

    # the encoder really plants an odd junk chunk (walk exercised)
    assert b"LIST" in payload and payload.index(b"LIST") < payload.index(
        b"data"
    )
    # malformed payloads: contractual ValueError, never struct.error
    with pytest.raises(ValueError):
        decode_wav_pcm16(b"OGG not a wav")
    with pytest.raises(ValueError, match="truncated RIFF chunk"):
        decode_wav_pcm16(payload[:-3])
    stereo = bytearray(payload)
    fmt_off = payload.index(b"fmt ") + 8
    struct.pack_into("<H", stereo, fmt_off + 2, 2)  # channels = 2
    with pytest.raises(ValueError, match="unsupported WAV variant"):
        decode_wav_pcm16(bytes(stereo))
    with pytest.raises(ValueError, match="missing fmt /data chunk"):
        decode_wav_pcm16(payload[:12])
    # the kernel raises the decoder's detailed message, not a shorter one
    bad = spark.createDataFrame(
        [(8, bytes(stereo))], "doc_id long, payload binary"
    )
    with pytest.raises(PythonException, match="ch=2"):
        wav_frame_features(bad).collect()


def test_pq_adc_recall_floor_vs_exact(spark, sf_small):
    """PQ/ADC + exact refine (s09) against exact brute force (s01):
    ranks contiguous per query and a pinned recall@5 floor. ADC-only
    recall on the fixture was ~0.3-0.5 (random near-tied vectors);
    the refine stage re-ranks the shortlist by exact cosine, so
    recall is the shortlist hit rate — measured 0.96 at sf0.001.
    The floor pins both the refine stage's presence and ADC shortlist
    quality (e.g. dropping the unit-normalization that makes
    squared-L2 rank-equivalent to cosine fails loudly)."""
    from omop_dump_to_parquet_spark.operators import similarity as S

    exact = {}
    for r in S.s01_knn_bruteforce(spark, sf_small).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    rows = S.s09_ann_pq(spark, sf_small).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert by_q.keys() == exact.keys()
    for q, rs in by_q.items():
        assert sorted(x["rank"] for x in rs) == list(range(1, len(rs) + 1)), q
    recalls = [
        len(exact[q] & {x["neighbor_id"] for x in by_q[q]}) / len(exact[q])
        for q in exact
    ]
    assert min(recalls) >= 0.6, recalls
    assert sum(recalls) / len(recalls) >= 0.9, recalls


def test_s12_hybrid_fuses_both_modalities(spark, sf_small):
    """RRF sanity: per query, exactly S12_TOP rows; both retrieval
    modalities contribute (some results carry a lexical rank, some a
    vector rank); rrf equals the recomputed 1/(60+r) sum; and a doc
    ranked high by BOTH lists outranks one ranked by a single list at
    similar depth."""
    out = S.s12_rrf_hybrid_search(spark, sf_small).collect()
    by_q: dict = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == set(range(S.N_QUERIES))
    for q, rows in by_q.items():
        assert len(rows) == S.S12_TOP
        assert any(r["lex_rank"] is not None for r in rows)
        assert any(r["vec_rank"] is not None for r in rows)
        for r in rows:
            want = 0.0
            if r["lex_rank"] is not None:
                want += 1.0 / (S.S12_RRF_K + r["lex_rank"])
            if r["vec_rank"] is not None:
                want += 1.0 / (S.S12_RRF_K + r["vec_rank"])
            assert abs(r["rrf"] - want) < 1e-9
        # fused ordering is by rrf desc within the query
        rrfs = [r["rrf"] for r in sorted(rows, key=lambda r: -r["rrf"])]
        assert rrfs == sorted(rrfs, reverse=True)


def test_bmp_decode_kernel_matches_reference(spark):
    """resize_bmp runs a REAL BMP decode (magic, pixel-array offset,
    4-byte row stride, bottom-up vs top-down height sign) inside the
    Arrow kernel. Build genuine BMP payloads — odd width so stride
    padding matters, one bottom-up and one top-down — and pin the
    kernel's output to the driver-side reference decoder + the m04
    nearest-neighbor arithmetic; a malformed payload makes the kernel
    raise decode_bmp_gray's detailed error."""
    import struct

    from omop_dump_to_parquet_spark.operators.multimodal import (
        TARGET_H,
        TARGET_W,
        decode_bmp_gray,
        resize_bmp,
    )

    def encode_bmp_gray(w, h, pixels, top_down=False, clr_used=256):
        stride = (w + 3) & ~3
        # 8bpp BMPs carry a palette of clr_used entries; grayscale identity
        palette = b"".join(
            bytes((i, i, i, 0)) for i in range(clr_used)
        )
        data_off = 14 + 40 + len(palette)
        rows = []
        ys = range(h) if top_down else range(h - 1, -1, -1)
        for y in ys:
            row = bytes(pixels[y * w : (y + 1) * w])
            rows.append(row + b"\x00" * (stride - w))
        px = b"".join(rows)
        header = (
            b"BM"
            + struct.pack("<IHHI", data_off + len(px), 0, 0, data_off)
            + struct.pack(
                "<IiiHHIIiiII",
                40, w, (-h if top_down else h), 1, 8, 0,
                len(px), 2835, 2835, clr_used, 0,
            )
        )
        return header + palette + px

    w, h = 13, 6  # odd width: stride 16 ≠ 13, padding is exercised
    pixels = [(3 * i + 7) % 256 for i in range(w * h)]
    payloads = [
        (0, encode_bmp_gray(w, h, pixels, top_down=False)),
        (1, encode_bmp_gray(w, h, pixels, top_down=True)),
    ]
    # reference: module decoder + the m04 sampling arithmetic
    for _, payload in payloads:
        dw, dh, px = decode_bmp_gray(payload)
        assert (dw, dh) == (w, h)
        assert list(px) == pixels  # stride stripped, rows top-down
    expect = bytes(
        pixels[(y * h // TARGET_H) * w + (x * w // TARGET_W)]
        for y in range(TARGET_H)
        for x in range(TARGET_W)
    )

    df = spark.createDataFrame(payloads, "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in resize_bmp(df).collect()}
    assert set(out) == {0, 1}
    for doc_id, r in out.items():
        assert (r["src_w"], r["src_h"]) == (w, h), doc_id
        assert (r["out_w"], r["out_h"]) == (TARGET_W, TARGET_H)
        assert bytes(r["resized"]) == expect, f"doc {doc_id}"

    # malformed payloads fail loudly, not silently
    import pytest as _pytest

    with _pytest.raises(ValueError):
        decode_bmp_gray(b"PNG not a bmp")
    with _pytest.raises(ValueError):  # zero-width header (review find)
        decode_bmp_gray(encode_bmp_gray(0, 4, []))
    # truncated header: contractual ValueError, never struct.error
    # (advisor note r7 — a 33-byte 'BM' payload used to escape the
    # ValueError contract)
    with _pytest.raises(ValueError, match="truncated BMP header"):
        decode_bmp_gray(b"BM" + b"\x00" * 31)
    # colormapped (non-identity) palette must refuse to decode as
    # grayscale instead of silently emitting palette indices
    colormapped = bytearray(encode_bmp_gray(w, h, pixels))
    colormapped[14 + 40 + 4 * 7] ^= 0xFF  # corrupt entry 7's blue
    with _pytest.raises(ValueError, match="palette"):
        decode_bmp_gray(bytes(colormapped))
    # truncated palette (header claims 256 entries, payload stops
    # mid-palette)
    with _pytest.raises(ValueError, match="palette"):
        decode_bmp_gray(bytes(encode_bmp_gray(w, h, pixels)[: 14 + 40 + 64]))
    # out-of-palette index: the kernel raises the decoder's detailed error
    bad = spark.createDataFrame(
        [(2, encode_bmp_gray(w, h, pixels, clr_used=16))],
        "doc_id long, payload binary",
    )
    with _pytest.raises(PythonException, match="clr_used=16"):
        resize_bmp(bad).collect()


def test_lsh_capped_path_matches_surviving_band_model(spark):
    """Drive lsh_candidate_pairs with a cap that fires (the anti-join
    drops real buckets — at fixture scale MAX_BUCKET never does)
    against a brute-force surviving-band model built from the
    kernel's own band keys: pairs emitted = exactly the pairs sharing
    ≥1 surviving band, each exactly once."""
    import collections
    import itertools

    from omop_dump_to_parquet_spark.operators.dedup import (
        LSH_BANDS,
        lsh_candidate_pairs,
        minhash_prepared,
    )

    rows = [(i, "alpha beta gamma delta epsilon zeta") for i in range(12)]
    rows += [
        (i, f"alpha beta gamma delta epsilon w{i}") for i in range(12, 24)
    ]
    rows += [
        (i, f"u{i} v{i} w{i} x{i} y{i} z{i}") for i in range(24, 40)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # every doc has 6 distinct tokens, so the size prune passes all
    sigs = minhash_prepared(docs).select("doc_id", "nw", "keys")
    keys = {r["doc_id"]: list(r["keys"]) for r in sigs.collect()}
    cap = 8
    bucket = collections.Counter(
        (b, k[b]) for k in keys.values() for b in range(LSH_BANDS)
    )
    assert any(v > cap for v in bucket.values()), "cap never fired"
    surv = {
        d: [
            k[b] if bucket[(b, k[b])] <= cap else None
            for b in range(LSH_BANDS)
        ]
        for d, k in keys.items()
    }
    want = {
        (a, b)
        for a, b in itertools.combinations(sorted(keys), 2)
        if any(
            surv[a][c] is not None and surv[a][c] == surv[b][c]
            for c in range(LSH_BANDS)
        )
    }
    got_rows = lsh_candidate_pairs(sigs, max_bucket=cap).collect()
    got = {(r["doc_a"], r["doc_b"]) for r in got_rows}
    assert got == want
    assert len(got_rows) == len(got), "a pair was emitted more than once"
    # the cap must have actually dropped something vs the uncapped run
    uncapped = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidate_pairs(sigs, max_bucket=10**9).collect()
    }
    assert got < uncapped


def test_png_decode_kernel_matches_reference(spark):
    """m11 (r9): the PNG kernel's output must match decode_png_gray on
    genuine payloads whose bytes carry every decoder obligation — all
    five scanline filters, a split IDAT stream, an ancillary tEXt
    chunk, real CRC-32s — and malformed payloads must raise the
    contractual ValueError, in the kernel too."""
    import zlib

    import pytest

    from omop_dump_to_parquet_spark.operators.multimodal import (
        PNG_W,
        decode_png_gray,
        encode_png_frames,
        png_pixels,
    )

    # ≥5 scanlines so filter types 0..4 are all live in the file
    text = bytes((41 * i + 3) % 251 for i in range(PNG_W * 7 + 5))
    df = spark.createDataFrame([(9, text)], "doc_id long, payload binary")
    payload = bytes(encode_png_frames(df).collect()[0]["payload"])

    w, h, px = decode_png_gray(payload)
    assert (w, h) == (PNG_W, 7)
    assert px == text[: PNG_W * 7]  # identity roundtrip, every byte

    r = png_pixels(encode_png_frames(df)).collect()[0]
    assert (r["src_w"], r["src_h"]) == (PNG_W, 7)
    assert bytes(r["pixels"]) == text[: PNG_W * 7]

    # the encoder really splits IDAT and plants the ancillary chunk
    assert payload.count(b"IDAT") == 2
    assert b"tEXt" in payload and payload.index(b"tEXt") < payload.index(
        b"IDAT"
    )

    # malformed payloads: contractual ValueError, specific causes
    with pytest.raises(ValueError, match="not a PNG"):
        decode_png_gray(b"GIF89a not a png")
    with pytest.raises(ValueError, match="truncated PNG chunk"):
        decode_png_gray(payload[:-3])
    corrupt = bytearray(payload)
    corrupt[payload.index(b"IDAT") + 10] ^= 0xFF  # flip one IDAT byte
    with pytest.raises(ValueError, match="CRC mismatch"):
        decode_png_gray(bytes(corrupt))
    rgb = bytearray(payload)
    rgb[8 + 8 + 9] = 2  # IHDR color type 0 → 2 (truecolor)...
    body = bytes(rgb[16 : 16 + 13])
    rgb[16 + 13 : 16 + 17] = (  # ...with a re-valid CRC so only the
        zlib.crc32(b"IHDR" + body) & 0xFFFFFFFF  # variant check fires
    ).to_bytes(4, "big")
    with pytest.raises(ValueError, match="unsupported PNG variant"):
        decode_png_gray(bytes(rgb))
    bad = spark.createDataFrame(
        [(10, bytes(rgb))], "doc_id long, payload binary"
    )
    with pytest.raises(PythonException, match="color=2"):
        png_pixels(bad).collect()
    # IHDR-first rule: signature followed by a valid non-IHDR chunk
    text_chunk = (
        len(b"k\x00v").to_bytes(4, "big")
        + b"tEXt"
        + b"k\x00v"
        + (zlib.crc32(b"tEXtk\x00v") & 0xFFFFFFFF).to_bytes(4, "big")
    )
    with pytest.raises(ValueError, match="first PNG chunk is not IHDR"):
        decode_png_gray(payload[:8] + text_chunk + payload[8:])


def test_png_roundtrip_property():
    """Property: encode∘decode is the identity on arbitrary byte
    content (NOT just ASCII) for every height 1..12 — heights below 5
    exercise the partial filter cycle, larger ones repeat it. Uses
    the driver-side reference pair directly (no Spark needed)."""
    import random
    import zlib

    from omop_dump_to_parquet_spark.operators.multimodal import (
        PNG_W,
        _PNG_SIG,
        _png_defilter,
        decode_png_gray,
    )

    rng = random.Random(0xC0FFEE)

    def _chunk(ctype, body):
        return (
            len(body).to_bytes(4, "big")
            + ctype
            + body
            + (zlib.crc32(ctype + body) & 0xFFFFFFFF).to_bytes(4, "big")
        )

    for h in range(1, 13):
        px = bytes(rng.randrange(256) for _ in range(PNG_W * h))
        # encode with the same filter schedule as encode_png_frames,
        # via the spec equations inverted against _png_defilter
        prior = bytes(PNG_W)
        raw = bytearray()
        for y in range(h):
            line = px[y * PNG_W : (y + 1) * PNG_W]
            ft = y % 5
            raw.append(ft)
            filt = bytearray(PNG_W)
            for x in range(PNG_W):
                a = line[x - 1] if x else 0
                b_ = prior[x]
                c = prior[x - 1] if x else 0
                if ft == 0:
                    pred = 0
                elif ft == 1:
                    pred = a
                elif ft == 2:
                    pred = b_
                elif ft == 3:
                    pred = (a + b_) >> 1
                else:
                    p = a + b_ - c
                    pa, pb, pc = abs(p - a), abs(p - b_), abs(p - c)
                    pred = (
                        a if (pa <= pb and pa <= pc)
                        else (b_ if pb <= pc else c)
                    )
                filt[x] = (line[x] - pred) & 0xFF
            raw += filt
            prior = line
        assert _png_defilter(bytes(raw), PNG_W, h) == px
        ihdr = (
            PNG_W.to_bytes(4, "big")
            + h.to_bytes(4, "big")
            + bytes([8, 0, 0, 0, 0])
        )
        payload = (
            _PNG_SIG
            + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(bytes(raw)))
            + _chunk(b"IEND", b"")
        )
        assert decode_png_gray(payload) == (PNG_W, h, px)


def test_s13_mmr_matches_python_reference_greedy(spark, sf_small):
    """s13: the unrolled array-expression greedy must equal a plain
    Python reference MMR (same shortlist, same rounding contract),
    and diversity must actually reorder at least one query's picks
    relative to pure relevance (else the id is vacuous)."""
    import math

    from omop_dump_to_parquet_spark import load_catalog
    from omop_dump_to_parquet_spark.operators.similarity import (
        MMR_K,
        MMR_LAMBDA,
        MMR_M,
        N_QUERIES,
    )
    from omop_dump_to_parquet_spark.sources.parquet import table

    def r6(x: float) -> float:
        # SQL round: half away from zero (Python round is banker's)
        return math.copysign(
            math.floor(abs(x) * 1e6 + 0.5) / 1e6, x
        )

    def r7(x: float) -> float:
        return math.copysign(
            math.floor(abs(x) * 1e7 + 0.5) / 1e7, x
        )

    emb = {
        r["vec_id"]: [float(v) for v in r["embedding"]]
        for r in table(spark, sf_small, "embeddings").collect()
    }

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return r6(dot / (na * nb))

    expect = {}
    for q in range(N_QUERIES):
        scored = sorted(
            ((cos(emb[q], v), -i) for i, v in emb.items() if i != q),
            reverse=True,
        )
        shortlist = [(-ni, rel) for rel, ni in scored[:MMR_M]]
        sel: list[tuple[int, float, float]] = []
        rem = dict(shortlist)
        for pos in range(1, MMR_K + 1):
            best = None
            for cid, rel in rem.items():
                red = max(
                    (cos(emb[cid], emb[s]) for s, _, _ in sel),
                    default=0.0,
                )
                mmr = MMR_LAMBDA * rel - round(1 - MMR_LAMBDA, 6) * red
                key = (-mmr, cid)
                if best is None or key < best[0]:
                    best = (key, cid, rel, mmr)
            _, cid, rel, mmr = best
            sel.append((cid, rel, mmr))
            del rem[cid]
            expect[(q, pos)] = (cid, r6(rel), r7(mmr))

    queries, _ = load_catalog()
    got = {
        (r["query_id"], r["position"]): (
            r["neighbor_id"], r["rel"], r["mmr_score"],
        )
        for r in queries["s13_mmr_diversified"](spark, sf_small).collect()
    }
    assert got == expect

    # diversity is live: some query's pick order differs from pure rel
    reordered = any(
        [got[(q, p)][0] for p in range(1, MMR_K + 1)]
        != [
            c for c, _, _ in sorted(
                ((got_c, got[(q, p)][1], p) for p in range(1, MMR_K + 1)
                 for got_c in [got[(q, p)][0]]),
                key=lambda t: (-t[1], t[0]),
            )
        ]
        for q in range(N_QUERIES)
    )
    assert reordered, "MMR never deviated from pure relevance order"


def test_d13_banded_levenshtein_matches_reference_dp(spark):
    """d13 relies on Spark's 3-arg levenshtein(l, r, threshold)
    (banded DP, -1 past the bound). Pin it against a plain-Python
    Wagner-Fischer reference on random string pairs — including pairs
    engineered to straddle the threshold — so an engine-side semantic
    change (e.g. bytes-vs-chars, or an off-by-one in the band) fails
    here, not in a silent recall drop."""
    import random

    from pyspark.sql import functions as F

    from omop_dump_to_parquet_spark.operators.dedup import D13_MAX_EDIT

    from _lev import py_levenshtein as dp

    rng = random.Random(0xD13)
    alphabet = "abcdexyz "
    pairs = []
    for _ in range(60):
        a = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 12)))
        # half the pairs: small random edits of a (straddle the bound)
        if rng.random() < 0.5:
            b = list(a)
            for _e in range(rng.randint(0, 4)):
                op = rng.random()
                pos = rng.randrange(len(b) + 1)
                if op < 0.34 and b:
                    del b[min(pos, len(b) - 1)]
                elif op < 0.67:
                    b.insert(pos, rng.choice(alphabet))
                elif b:
                    b[min(pos, len(b) - 1)] = rng.choice(alphabet)
            b = "".join(b)
        else:
            b = "".join(
                rng.choice(alphabet) for _ in range(rng.randint(0, 12))
            )
        pairs.append((a, b))

    df = spark.createDataFrame(pairs, "a string, b string").select(
        "a", "b",
        F.expr(f"levenshtein(a, b, {D13_MAX_EDIT})").alias("banded"),
        F.expr("levenshtein(a, b)").alias("full"),
    )
    for r in df.collect():
        want = dp(r["a"], r["b"])
        assert r["full"] == want, (r["a"], r["b"])
        assert r["banded"] == (want if want <= D13_MAX_EDIT else -1), (
            r["a"], r["b"],
        )


# ---------------------------------------------------------------------------
# d13 core (r10): length-band blocked bounded-Levenshtein linkage
# ---------------------------------------------------------------------------


from _lev import py_levenshtein as _py_levenshtein  # noqa: E402


def test_edit_distance_pairs_matches_bruteforce(spark):
    """The banding lemma end to end: the (block, length-band) blocked
    join with adjacent-band union must emit EXACTLY the brute-force
    pair set — no pair lost to banding (completeness: lev ≤ k ⇒
    |Δlen| ≤ k < W ⇒ |Δband| ≤ 1) and no pair duplicated by the
    3-way explode (each pair meets only at the probe side's own
    band). Lengths are drawn to straddle band boundaries on purpose."""
    import random

    from omop_dump_to_parquet_spark.operators import dedup as D

    rng = random.Random(42)
    rows = []
    for i in range(150):
        # lengths cluster at band edges (W=4: 3|4, 7|8, 11|12, 15|16)
        n = rng.choice([1, 2, 3, 4, 5, 7, 8, 9, 11, 12, 13, 15, 16, 17])
        rows.append(
            (i, rng.choice(["X", "Y"]),
             "".join(rng.choice("abcd") for _ in range(n)))
        )
    df = spark.createDataFrame(rows, "id long, blk string, name string")
    got = sorted(
        (r["blk"], r["key_a"], r["key_b"], r["edit_dist"])
        for r in D.edit_distance_pairs(
            df, "id", "name", "blk", max_edit=2
        ).collect()
    )
    expect = sorted(
        (ba, ia, ib, _py_levenshtein(na, nb))
        for ia, ba, na in rows
        for ib, bb, nb in rows
        if ia < ib and ba == bb and _py_levenshtein(na, nb) <= 2
    )
    assert got == expect and len(got) > 50


def test_edit_distance_pairs_guard_fires_on_oversized_block(spark):
    """d13 carries the d03 bounded-block contract (the r9 verdict's
    weak-component fix): a (block, band) population above
    ``max_block_docs`` must raise AT EXECUTION TIME instead of
    silently running the quadratic in-block sweep."""
    import pytest

    from omop_dump_to_parquet_spark.operators import dedup as D

    # ten same-length same-block names: one (blk, band) block of 10
    rows = [(i, "X", f"abcde{i % 3}") for i in range(10)]
    df = spark.createDataFrame(rows, "id long, blk string, name string")
    blocked = D.edit_distance_pairs(
        df, "id", "name", "blk", max_block_docs=3
    )
    with pytest.raises(Exception, match="max_block_docs=3"):
        blocked.collect()
    ok = D.edit_distance_pairs(
        df, "id", "name", "blk", max_block_docs=100
    ).collect()
    assert len(ok) > 0


def test_passjoin_pairs_matches_bruteforce(spark):
    """PassJoin end to end: segment-blocked candidates + bounded-DP
    verify, unioned with the banded small-string path, must emit
    EXACTLY the brute-force pair set. Lengths are drawn to cover the
    small path (≤ T=6), the boundary band (7..8, where a small×big
    pair crosses the path split), and the PassJoin path (> 8), over
    a 3-letter alphabet so distance-≤2 pairs are plentiful."""
    import random

    from omop_dump_to_parquet_spark.operators import dedup as D

    rng = random.Random(7)
    rows = []
    for i in range(140):
        n = rng.choice([0, 1, 3, 5, 6, 7, 8, 9, 10, 11, 12, 13, 15, 18])
        rows.append(
            (i, rng.choice(["X", "Y"]),
             "".join(rng.choice("abc") for _ in range(n)))
        )
    df = spark.createDataFrame(rows, "id long, blk string, name string")
    got = sorted(
        (r["blk"], r["key_a"], r["key_b"], r["edit_dist"])
        for r in D.passjoin_pairs(
            df, "id", "name", "blk", max_edit=2
        ).collect()
    )
    expect = sorted(
        (ba, ia, ib, _py_levenshtein(na, nb))
        for ia, ba, na in rows
        for ib, bb, nb in rows
        if ia < ib and ba == bb and _py_levenshtein(na, nb) <= 2
    )
    assert got == expect and len(got) > 50
    # both paths genuinely exercised, including the cross-boundary
    # band: pairs with min-len ≤ 6 (banded path) AND pairs with both
    # lens > 6 (PassJoin path) are present in the expectation
    lens = {i: len(n) for i, _, n in rows}
    assert any(min(lens[a], lens[b]) <= 6 for _, a, b, _ in expect)
    assert any(min(lens[a], lens[b]) > 6 for _, a, b, _ in expect)


def test_passjoin_guard_fires_on_hot_segment(spark):
    """The bounded-block contract carries over to PassJoin: a
    pathological segment group (here: many identical long names, so
    one (len, j, seg) index block holds them all) must raise at
    execution time instead of silently sweeping the quadratic."""
    import pytest

    from omop_dump_to_parquet_spark.operators import dedup as D

    rows = [(i, "X", "abcdefghijklmnop") for i in range(10)]
    df = spark.createDataFrame(rows, "id long, blk string, name string")
    blocked = D.passjoin_pairs(
        df, "id", "name", "blk", max_block_docs=3
    )
    with pytest.raises(Exception, match="max_block_docs=3"):
        blocked.collect()
    ok = D.passjoin_pairs(
        df, "id", "name", "blk", max_block_docs=100
    ).collect()
    assert len(ok) == 45  # all C(10,2) identical-name pairs, dist 0


def test_block_guard_passes_on_runtime_empty_input(spark):
    """Regression (found by the r10 ×10 rehearsal): the guard's
    assert filter references only the broadcast scalar side, so
    Catalyst pushes it below the crossJoin — where it evaluates even
    when the guarded input has zero rows and the scalar max is NULL
    (max over no groups). A runtime-empty subset (here: a filter no
    row satisfies, so the emptiness is invisible at plan time) must
    pass the guard, not raise 'population null exceeds'."""
    from pyspark.sql import functions as F

    from omop_dump_to_parquet_spark.operators import dedup as D

    rows = [(i, "X", "abcdefghijklmnop") for i in range(5)]
    df = spark.createDataFrame(
        rows, "id long, blk string, name string"
    ).filter(F.length("name") > 100)
    out = D._guard_block_population(df, ("blk",), max_block_docs=1)
    assert out.count() == 0
    # and end to end: passjoin on all-long names leaves the banded
    # small-string subset runtime-empty — must not raise either
    full = spark.createDataFrame(rows, "id long, blk string, name string")
    got = D.passjoin_pairs(full, "id", "name", "blk").collect()
    assert len(got) == 10  # C(5,2) identical-name pairs


def test_edit_distance_pairs_rejects_too_narrow_band():
    """len_band ≤ max_edit breaks the adjacent-band completeness
    lemma — must be rejected at plan-build time, not silently lose
    recall."""
    import pytest

    from omop_dump_to_parquet_spark.operators import dedup as D

    with pytest.raises(ValueError, match="len_band"):
        D.edit_distance_pairs(
            None, "id", "name", max_edit=2, len_band=2
        )


def test_decoder_adversarial_inputs_rejected():
    """r10 hardening (verdict task 4): each remaining undefended
    malformed-container path must raise the contractual ValueError —
    m11 interlaced PNG and truncated IDAT stream, m10 non-PCM format
    tag and odd PCM data length, m09 out-of-palette pixel index."""
    import struct
    import zlib

    import pytest

    from omop_dump_to_parquet_spark.operators.multimodal import (
        decode_bmp_gray,
        decode_png_gray,
        decode_wav_pcm16,
    )

    # -- build one valid specimen of each container, no Spark needed --
    def png_gray(pixels: bytes, w: int, h: int) -> bytes:
        def chunk(ctype, body):
            return (
                len(body).to_bytes(4, "big") + ctype + body
                + (zlib.crc32(ctype + body) & 0xFFFFFFFF).to_bytes(4, "big")
            )
        ihdr = (
            w.to_bytes(4, "big") + h.to_bytes(4, "big")
            + bytes([8, 0, 0, 0, 0])
        )
        raw = b"".join(
            b"\x00" + pixels[y * w : (y + 1) * w] for y in range(h)
        )
        z = zlib.compress(raw)
        # split IDAT so chunk-drop surgery below leaves valid CRCs
        return (
            b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", z[: len(z) // 2])
            + chunk(b"IDAT", z[len(z) // 2 :])
            + chunk(b"IEND", b"")
        )

    def wav_pcm16(samples: list[int]) -> bytes:
        data = struct.pack(f"<{len(samples)}h", *samples)
        fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
        body = (
            b"WAVEfmt " + len(fmt).to_bytes(4, "little") + fmt
            + b"data" + len(data).to_bytes(4, "little") + data
        )
        return b"RIFF" + len(body).to_bytes(4, "little") + body

    def bmp8(w: int, h: int, pixels: bytes, clr_used: int = 0) -> bytes:
        n_colors = clr_used or 256
        pal = b"".join(bytes([i, i, i, 0]) for i in range(n_colors))
        stride = (w + 3) & ~3
        px = b"".join(
            pixels[(h - 1 - y) * w : (h - y) * w].ljust(stride, b"\x00")
            for y in range(h)
        )
        data_off = 14 + 40 + len(pal)
        info = struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, 8, 0, len(px),
            2835, 2835, clr_used, 0,
        )
        hdr = b"BM" + struct.pack(
            "<IHHI", data_off + len(px), 0, 0, data_off
        )
        return hdr + info + pal + px

    # specimens decode cleanly before each corruption (test validity)
    px = bytes((41 * i + 3) % 251 for i in range(8 * 4))
    png = png_gray(px, 8, 4)
    assert decode_png_gray(png) == (8, 4, px)
    wav = wav_pcm16([(37 * i + 11) % 128 * 256 - 12800 for i in range(50)])
    assert len(decode_wav_pcm16(wav)) == 50

    # m11: interlace flag set (Adam7), CRC re-validated so ONLY the
    # variant check can fire
    inter = bytearray(png)
    inter[16 + 12] = 1  # IHDR body byte 12 = interlace method
    inter[16 + 13 : 16 + 17] = (
        zlib.crc32(b"IHDR" + bytes(inter[16 : 16 + 13])) & 0xFFFFFFFF
    ).to_bytes(4, "big")
    with pytest.raises(ValueError, match="unsupported PNG variant"):
        decode_png_gray(bytes(inter))

    # m11: truncated IDAT STREAM with intact chunk framing — drop the
    # second IDAT chunk entirely (CRCs all still valid), so only the
    # DEFLATE-completeness check can catch it
    second = png.index(b"IDAT", png.index(b"IDAT") + 4) - 4
    size2 = int.from_bytes(png[second : second + 4], "big")
    cut = png[:second] + png[second + 12 + size2 :]
    with pytest.raises(
        ValueError, match="DEFLATE|decompressed length"
    ):
        decode_png_gray(cut)

    # m10: non-PCM format tag (3 = IEEE float), everything else valid
    nonpcm = bytearray(wav)
    struct.pack_into("<H", nonpcm, wav.index(b"fmt ") + 8, 3)
    with pytest.raises(ValueError, match="unsupported WAV variant"):
        decode_wav_pcm16(bytes(nonpcm))

    # m10: odd data-chunk length (declared size shrunk by one byte)
    odd = bytearray(wav)
    doff = wav.index(b"data") + 4
    struct.pack_into(
        "<I", odd, doff, int.from_bytes(wav[doff : doff + 4], "little") - 1
    )
    with pytest.raises(ValueError, match="odd PCM data length"):
        decode_wav_pcm16(bytes(odd))

    # m09: short palette accepted while every pixel indexes inside it…
    small = bytes(i % 16 for i in range(8 * 4))
    assert decode_bmp_gray(bmp8(8, 4, small, clr_used=16))[2] == small
    # …but an index past clr_used is an out-of-palette reference
    bad = bytes([0, 1, 2, 200] + [0] * 28)
    with pytest.raises(ValueError, match="out-of-palette"):
        decode_bmp_gray(bmp8(8, 4, bad, clr_used=16))


def test_passjoin_pairs_max_edit_4_matches_bruteforce(spark):
    """Regression (r10 review): the small-string path used to call
    edit_distance_pairs with the fixed len_band=4 default, which
    raises for max_edit >= 4 — the generic API advertises max_edit
    as free but only <= 3 worked. Now the band widens with the
    bound; verify end-to-end equality at k=4 with both paths hit
    (small threshold T = 2*(4+1) = 10)."""
    import random

    from omop_dump_to_parquet_spark.operators import dedup as D

    rng = random.Random(13)
    rows = []
    for i in range(80):
        n = rng.choice([2, 5, 8, 10, 11, 12, 14, 16, 20])
        rows.append(
            (i, "X", "".join(rng.choice("ab") for _ in range(n)))
        )
    df = spark.createDataFrame(rows, "id long, blk string, name string")
    got = sorted(
        (r["key_a"], r["key_b"], r["edit_dist"])
        for r in D.passjoin_pairs(
            df, "id", "name", "blk", max_edit=4
        ).collect()
    )
    expect = sorted(
        (ia, ib, _py_levenshtein(na, nb))
        for ia, _, na in rows
        for ib, _, nb in rows
        if ia < ib and _py_levenshtein(na, nb) <= 4
    )
    assert got == expect and len(got) > 100
    lens = {i: len(n) for i, _, n in rows}
    small = D.passjoin_small_len(4)
    assert any(min(lens[a], lens[b]) <= small for a, b, _ in expect)
    assert any(min(lens[a], lens[b]) > small for a, b, _ in expect)


def test_zero_norm_vector_differential_parity(spark, tmp_path):
    """r10 review, adversarial end-to-end: an ALL-ZERO embedding (the
    degenerate input cosine_d defines as NULL) placed where it hurts
    most — inside the s05 seed-centroid range — must leave s05, s13,
    s04 and d10 hash-identical to their DuckDB oracles. Before the
    fixes a NULL centroid cosine grabbed every s05 cell assignment
    (nulls-first struct sort) and a NULL mmr could win s13's argmax."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    import duckdb
    from test_parity import normalize

    from omop_dump_to_parquet_spark import load_catalog

    rng = np.random.default_rng(20260815)
    n, dim = 64, 64
    vecs = rng.normal(0, 1, size=(n, dim)).astype(np.float32)
    vecs[7] = 0.0  # zero vector INSIDE the IVF seed range (< 16)
    tbl = pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(
                [v.tolist() for v in vecs], pa.list_(pa.float32())
            ),
            "label": pa.array([int(i % 3) for i in range(n)], pa.int32()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))

    queries, oracles = load_catalog()
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{tmp_path}/embeddings.parquet')"
    )
    for qid in (
        "s05_ann_ivf",
        "s13_mmr_diversified",
        "s04_dedup_embedding",
        "d10_semdedup",
    ):
        got = normalize(queries[qid](spark, str(tmp_path)).toPandas())
        want = normalize(con.sql(oracles[qid]).df())
        assert got.equals(want), f"{qid} diverged on zero-norm input"


def test_gemm_prefilter_keeps_roundup_window_pairs(spark):
    """r10 adversarial re-review of the GEMM-refine refactor: the keep
    rule is round6(cos) >= threshold, so a pair with exact sequential
    cosine in [thr-5e-7, thr) ROUNDS UP into the kept set — the
    prefilter margin must therefore be wider than the round-6
    half-step, not just wider than ulp drift. Craft such a pair and
    assert the kernel emits it with cos_sim == thr exactly."""
    import numpy as np

    from omop_dump_to_parquet_spark.operators import similarity as S

    thr, dim = 0.5, 64

    def seq_cos(a32, b32):
        a = a32.astype(np.float64)
        b = b32.astype(np.float64)
        acc = na = nb = 0.0
        for k in range(dim):
            acc += a[k] * b[k]
            na += a[k] * a[k]
            nb += b[k] * b[k]
        return acc / (np.sqrt(na) * np.sqrt(nb))

    a32 = np.zeros(dim, dtype=np.float32)
    a32[0] = 1.0
    found = None
    # scan float32-representable angles near acos(thr) for a realized
    # sequential cosine inside the round-up window
    for d in np.linspace(-3e-6, 0.0, 4001):
        t = np.arccos(thr) - d  # d<0 → cos slightly below thr
        b32 = np.zeros(dim, dtype=np.float32)
        b32[0] = np.float32(np.cos(t))
        b32[1] = np.float32(np.sin(t))
        c = seq_cos(a32, b32)
        if thr - 5e-7 + 1e-10 < c < thr - 1e-9:
            assert round(c, 6) == thr  # sanity: it does round up
            found = b32
            break
    assert found is not None, "no window pair representable — widen scan"
    rows = [
        (0, [float(x) for x in a32]),
        (1, [float(x) for x in found]),
        (2, [float(x) for x in -a32]),  # control: far below threshold
    ]
    emb = spark.createDataFrame(rows, "vec_id long, emb array<double>")
    got = {
        (r["vec_a"], r["vec_b"]): r["cos_sim"]
        for r in S.cosine_pair_gemm(emb, thr, blocks=2).collect()
    }
    assert (0, 1) in got, "round-up-window pair dropped by prefilter"
    assert got[(0, 1)] == thr
    assert (0, 2) not in got and (1, 2) not in got


def test_gemm_margin_refine_equals_sequential_brute_force(spark):
    """r11 scale fix of the GEMM kernels (fold only the ±1e-9
    boundary sliver instead of every prefilter survivor): the
    emitted (pair, cos_sim) set must STAY bit-identical to the
    all-pairs sequential-fold reference — the exactness contract the
    r10 rewrite introduced, now re-proven over random clustered
    vectors with plenty of near-threshold phases."""
    import numpy as np

    from omop_dump_to_parquet_spark.operators import similarity as S

    rng = np.random.default_rng(7)
    dim, n, thr = 16, 240, 0.8
    # 6 tight clusters → many pairs straddling the 0.8 neighborhood
    centers = rng.normal(size=(6, dim))
    vecs = (
        centers[rng.integers(0, 6, n)] + rng.normal(scale=0.18, size=(n, dim))
    ).astype(np.float32).astype(np.float64)

    def seq_dot(a, b):
        acc = 0.0
        for k in range(dim):
            acc = acc + a[k] * b[k]
        return acc

    norms = [np.sqrt(seq_dot(v, v)) for v in vecs]
    want = {}
    for i in range(n):
        for j in range(i + 1, n):
            c = round(seq_dot(vecs[i], vecs[j]) / (norms[i] * norms[j]), 6)
            if c >= thr:
                want[(i, j)] = c
    assert len(want) > 500  # the fixture really exercises the kernel

    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, emb array<double>",
    )
    got = {
        (r["vec_a"], r["vec_b"]): r["cos_sim"]
        for r in S.cosine_pair_gemm(emb, thr, blocks=3).collect()
    }
    assert got == want

    # same contract for the semdedup kernel: within every bucket the
    # (keeper, removed, max_cos) rollup must match the reference
    # computed from the same bucket assignment
    from omop_dump_to_parquet_spark.operators import dedup as DD
    from omop_dump_to_parquet_spark.operators.similarity import bucket_id

    tau, planes = 0.8, 2
    bucketed = emb.withColumn("bucket", bucket_id(F.col("emb"), planes))
    assign = {
        r["vec_id"]: r["bucket"] for r in bucketed.select("vec_id", "bucket").collect()
    }
    ref_hits = {}
    for (i, j), c in (
        (p, round(seq_dot(vecs[p[0]], vecs[p[1]]) / (norms[p[0]] * norms[p[1]]), 6))
        for p in [(i, j) for i in range(n) for j in range(i + 1, n)]
    ):
        if assign[i] == assign[j] and c >= tau:
            prev = ref_hits.get(j)
            if prev is None:
                ref_hits[j] = (i, c)
            else:
                ref_hits[j] = (min(prev[0], i), max(prev[1], c))
    got_sd = {
        r["removed_id"]: (r["keeper_id"], r["max_cos_sim"])
        for r in DD.semdedup_prune(emb, n_planes=planes, tau=tau).collect()
    }
    assert got_sd == ref_hits


# ---------------------------------------------------------------------------
# k-means (s07 / d14) and the SemDeDup prune
# ---------------------------------------------------------------------------


def test_seq_dot_bit_identical_to_spark_fold(spark):
    """_seq_dot (the driver-side |c|² precompute) must be the exact
    IEEE left-fold dot_d evaluates — any reassociation (fsum, numpy,
    pairwise) would shift the rounded distance key on boundary values
    and break the oracle lockstep."""
    import struct

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from omop_dump_to_parquet_spark.functions.vectors import dot_d

    finite = st.floats(
        min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
    )

    @given(st.lists(finite, min_size=1, max_size=32))
    @settings(max_examples=20, deadline=None)
    def check(vec):
        df = spark.createDataFrame([(vec,)], "v array<double>")
        got = df.select(dot_d(F.col("v"), F.col("v")).alias("d")).first()["d"]
        assert struct.pack("d", got) == struct.pack("d", S._seq_dot(vec, vec))

    check()


def test_s07_update_step_matches_wide_decimal_agg(spark):
    """The posexplode update step must reproduce a per-dimension
    decimal-avg column per coordinate bit-for-bit (exact DECIMAL sums
    are summation-order independent, so the two shapes are the same
    arithmetic)."""
    import math

    from omop_dump_to_parquet_spark.functions.deterministic import davg

    dim = 5
    rows = [
        (0, [float(i + j) / 7.0 for j in range(dim)]) for i in range(9)
    ] + [(1, [math.sin(i + j) for j in range(dim)]) for i in range(7)]
    df = spark.createDataFrame(rows, "cluster long, emb array<double>")

    wide = df.groupBy("cluster").agg(
        *[
            F.round(davg(F.element_at(F.col("emb"), d + 1), 38, 18), 9).alias(
                f"m{d}"
            )
            for d in range(dim)
        ]
    )
    wide_means = {
        int(r["cluster"]): [float(r[f"m{d}"]) for d in range(dim)]
        for r in wide.collect()
    }

    tall = (
        df.select("cluster", F.posexplode("emb").alias("pos", "x"))
        .groupBy("cluster", "pos")
        .agg(F.round(davg(F.col("x"), 38, 18), 9).alias("m"))
    )
    tall_means: dict[int, list[float]] = {}
    for r in tall.collect():
        tall_means.setdefault(int(r["cluster"]), [0.0] * dim)[
            int(r["pos"])
        ] = float(r["m"])

    assert tall_means == wide_means


def test_kmeans_exact_fails_loud_on_short_embedding(spark):
    """The posexplode means rebuild must raise — not silently leave a
    centroid coordinate at the 0.0 placeholder — when a cluster's
    (cluster, pos) rows don't cover every dimension."""
    # one cluster (k=1) whose only members are 3-element arrays while
    # dim=4: position 3 never appears in the posexplode, so the fill
    # check must trip
    emb = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0]), (1, [2.0, 1.0, 0.5])],
        "vec_id long, emb array<double>",
    )
    with pytest.raises(ValueError, match="mean rows"):
        S.kmeans_exact(emb, k=1, iters=1, dim=4)


def test_kmeans_exact_requires_dense_ids(spark):
    emb = spark.createDataFrame(
        [(3, [1.0, 2.0]), (7, [2.0, 1.0])],
        "vec_id long, emb array<double>",
    )
    with pytest.raises(ValueError, match="dense vec_ids"):
        S.kmeans_exact(emb, k=2, iters=1, dim=2)


def _blob_emb(spark, n_per: int = 20, dim: int = 8):
    """Two well-separated Gaussian-free blobs (deterministic offsets):
    any sane clustering must split them."""
    rows = []
    for i in range(n_per):
        rows.append((i, [1.0 + 0.001 * i] * dim))
        rows.append((100 + i, [-1.0 - 0.001 * i] * dim))
    return spark.createDataFrame(rows, "vec_id long, emb array<double>")


def test_kmeans_bucket_assign_separates_blobs_deterministically(spark):
    emb = _blob_emb(spark)
    a = S.kmeans_bucket_assign(emb, 2, iters=3)
    rows = a.collect()
    assert len(rows) == 40
    by_blob = {}
    for r in rows:
        assert 0 <= r["bucket"] < 2
        by_blob.setdefault(r["vec_id"] >= 100, set()).add(r["bucket"])
    # each blob lands in exactly one bucket, and not the same one
    assert all(len(v) == 1 for v in by_blob.values())
    assert by_blob[False] != by_blob[True]
    # deterministic rerun
    b = S.kmeans_bucket_assign(emb, 2, iters=3)
    assert (
        a.select("vec_id", "bucket")
        .exceptAll(b.select("vec_id", "bucket"))
        .count()
        == 0
    )


def test_kmeans_2level_ids_disjoint_and_deterministic(spark):
    emb = _blob_emb(spark)
    a = S.kmeans_bucket_assign_2level(emb, 4, iters=2)
    rows = a.collect()
    assert len(rows) == 40
    # k_coarse=2, k_fine=2 → bucket ids in [0, 4); the two blobs never
    # share a bucket (they cannot share a coarse cell)
    blob_buckets = {False: set(), True: set()}
    for r in rows:
        assert 0 <= r["bucket"] < 4
        blob_buckets[r["vec_id"] >= 100].add(r["bucket"])
    assert not (blob_buckets[False] & blob_buckets[True])
    b = S.kmeans_bucket_assign_2level(emb, 4, iters=2)
    assert (
        a.select("vec_id", "bucket")
        .exceptAll(b.select("vec_id", "bucket"))
        .count()
        == 0
    )


def test_semdedup_prune_bucketed_single_bucket_is_brute_force(spark):
    """With every vector in ONE bucket, the bucketed prune must equal
    the brute-force all-pairs min-keeper at the same threshold."""
    import itertools
    import math

    vecs = {
        0: [1.0, 0.0, 0.0],
        1: [0.9999, 0.01, 0.0],
        2: [0.0, 1.0, 0.0],
        3: [0.0, 0.9999, 0.01],
        4: [0.577, 0.577, 0.577],
    }
    tau = 0.99
    df = spark.createDataFrame(
        [(i, v, 0) for i, v in vecs.items()],
        "vec_id long, emb array<double>, bucket long",
    )
    got = {
        r["removed_id"]: (r["keeper_id"], r["max_cos_sim"])
        for r in D.semdedup_prune_bucketed(df, tau).collect()
    }

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (
            math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b))
        )

    want: dict[int, tuple[int, float]] = {}
    for i, j in itertools.combinations(sorted(vecs), 2):
        c = round(cos(vecs[i], vecs[j]), 6)
        if c >= tau:
            keep, sim = want.get(j, (j + 1, -2.0))
            want[j] = (min(keep, i), max(sim, c))
    assert got == want


def test_d14_buckets_match_s07_contract_and_prune_is_within_bucket(
    spark, sf_small
):
    """d14's clusters must be exactly the kmeans_exact assignment (the
    oracle derives them independently via unrolled CTEs), and every
    (keeper, removed) pair must be a same-bucket pair with
    keeper < removed — the SemDeDup within-cluster contract."""
    out = QUERIES["d14_semdedup_kmeans"](spark, sf_small).collect()
    assert out, "fixture should produce at least one pruned vector"

    assigned, _ = S.kmeans_exact(
        S.embeddings(spark, sf_small), D.D14_K, D.D14_ITERS
    )
    bucket_of = {
        r["vec_id"]: r["cluster"]
        for r in assigned.select("vec_id", "cluster").collect()
    }
    for r in out:
        assert r["keeper_id"] < r["removed_id"]
        assert bucket_of[r["keeper_id"]] == bucket_of[r["removed_id"]]


# ---------------------------------------------------------------------------
# d04 — MinHash LSH kernel, group collapse and verify
# ---------------------------------------------------------------------------


def test_d04_pipeline_matches_brute_force_jaccard(spark, sf_small):
    """d04's pipeline (map-side NumPy kernel → exact token-set group
    collapse → rep-level LSH + verify → member expansion) must yield
    exactly the brute-force all-pairs word-set Jaccard ≥ threshold
    set on the fixture, jaccard values included."""
    new = {
        (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
        for r in D.d04_dedup_minhash_lsh(spark, sf_small).collect()
    }
    docs = table(spark, sf_small, "documents")
    toks = {
        r["doc_id"]: set(r["text"].split(" "))
        for r in docs.select("doc_id", "text").collect()
    }
    ids = sorted(toks)
    brute = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            nc = len(toks[a] & toks[b])
            jac = nc / (len(toks[a]) + len(toks[b]) - nc)
            if jac >= D.MINHASH_THRESHOLD:
                brute.add((a, b, round(jac, 9)))
    assert new == brute and len(new) > 0


def test_d04_group_collapse_is_exact(spark, sf_small):
    """Two docs share a (nw, g1, g2) group key iff their distinct
    token SETS are identical — the collapse must never merge distinct
    sets (false jaccard-1.0 pairs) nor split identical ones (missed
    within-group pairs)."""
    docs = table(spark, sf_small, "documents")
    rows = D.minhash_prepared(docs).select(
        "doc_id", "nw", "g1", "g2"
    ).collect()
    toks = {
        r["doc_id"]: frozenset(r["text"].split(" "))
        for r in docs.select("doc_id", "text").collect()
    }
    by_key: dict = {}
    for r in rows:
        by_key.setdefault((r["nw"], r["g1"], r["g2"]), []).append(
            r["doc_id"]
        )
    for key, ids in by_key.items():
        sets = {toks[i] for i in ids}
        assert len(sets) == 1, f"group {key} merged distinct sets"
    # identical sets must land in the same group
    by_set: dict = {}
    for i, s in toks.items():
        by_set.setdefault(s, set()).add(i)
    keys_of = {
        r["doc_id"]: (r["nw"], r["g1"], r["g2"]) for r in rows
    }
    for s, ids in by_set.items():
        assert len({keys_of[i] for i in ids}) == 1


def test_minhash_prepared_nw_matches_expression_form(spark, sf_small):
    """The kernel's nw (|distinct tokens|) must equal the Catalyst
    size(array_distinct(split(text))) — it feeds the exact integer
    set-size pruning condition."""
    docs = table(spark, sf_small, "documents")
    got = {
        r["doc_id"]: r["nw"] for r in D.minhash_prepared(docs).collect()
    }
    want = {
        r["doc_id"]: r["nw"]
        for r in docs.select(
            "doc_id",
            F.size(F.array_distinct(F.split(F.col("text"), " "))).alias(
                "nw"
            ),
        ).collect()
    }
    assert got == want


def test_d04_plan_uses_kernel_not_agg_signatures(spark, sf_small):
    """Plan shape: the d04 signature subtree is the Arrow kernel
    (MapInArrow), with no 126-column min-aggregate groupBy — the only
    aggregates belong to the hot-bucket cap machinery (count per
    (band, bkey))."""
    docs = table(spark, sf_small, "documents")
    # the signature subtree itself (pre-checkpoint): kernel, no agg
    sub = D.minhash_prepared(
        docs
    )._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in sub
    assert "HashAggregate" not in sub and "xxhash64" not in sub
    # the full query's plan is checkpoint-truncated (Scan ExistingRDD
    # leaves), so assert the 126-min-agg signature shape is absent
    # from it rather than that the kernel node is visible
    plan = D.d04_dedup_minhash_lsh(
        spark, sf_small
    )._jdf.queryExecution().executedPlan().toString()
    assert "min(xxhash64" not in plan


def test_minhash_and_simhash_kernels_drop_null_text(spark):
    """NULL-text rows must drop (as an explode over split(NULL)
    would), and the all-NULL batch must not crash the reduceat /
    np.split paths."""
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


def test_ranked_tokens_window_nw_matches_sizes_join(spark, sf_small):
    """_ranked_tokens' window-computed ``nw`` must equal the separate
    sizes aggregate + join form on every (doc, token) row."""
    docs = table(spark, sf_small, "documents")
    tok = D._distinct_tokens(docs, "lang", "source")
    sizes = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nw"))
    ranked = D._ranked_tokens(docs, "lang", "source", tok=tok)
    cols = ["doc_id", "w", "df", "rn", "nw"]
    via_window = {tuple(r) for r in ranked.select(cols).collect()}
    via_join = {
        tuple(r)
        for r in ranked.drop("nw").join(sizes, "doc_id").select(cols).collect()
    }
    assert via_window == via_join and len(via_window) > 0


# ---------------------------------------------------------------------------
# d15 — cross-corpus fuzzy decontamination (broadcast LSH)
# ---------------------------------------------------------------------------


def test_d15_kernel_plan_has_no_shuffle(spark, sf_small):
    """The 100 TB claim: the corpus side crosses NO exchange — the
    whole op is scan → project → generate → BroadcastHashJoin →
    filter."""
    docs = table(spark, sf_small, "documents")
    kernel = D.cross_corpus_neardup(
        docs.filter(F.col("doc_id") % D.D15_EVAL_MOD != 0),
        docs.filter(F.col("doc_id") % D.D15_EVAL_MOD == 0),
    )
    plan = kernel._jdf.queryExecution().executedPlan().toString()
    # Executed-plan strings render shuffles as "Exchange
    # hashpartitioning/roundrobinpartitioning/rangepartitioning/
    # SinglePartition", never as the class name "ShuffleExchange".
    # The zero-shuffle certificate: after removing the one allowed
    # exchange kind (BroadcastExchange, the eval index), NO Exchange
    # of any partitioning remains.
    assert "BroadcastExchange" in plan, plan
    assert "Exchange" not in plan.replace("BroadcastExchange", ""), plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_d15_catalog_plan_only_widener_exchange(spark, sf_small):
    """The registered query adds only widen_scan's round-robin
    repartition (single-file fixture parallelism) — still no
    hash-partitioned exchange and no sort-merge join."""
    plan = (
        QUERIES["d15_fuzzy_decontamination"](spark, sf_small)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange hashpartitioning" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_d15_no_duplicate_pairs(spark, sf_small):
    """First-shared-band emission replaces distinct(): a pair
    colliding in several bands must still emit exactly once."""
    df = QUERIES["d15_fuzzy_decontamination"](spark, sf_small)
    n = df.count()
    assert n == df.select("doc_id", "eval_id").distinct().count()


def test_d15_exact_boundary_pair(spark):
    """J exactly at the 0.9 threshold must be kept: |A|=10, |B|=9,
    9 shared tokens → J = 9/10. Also exercises the integer size-ratio
    prune at its boundary (10·9 ≥ 9·10)."""
    shared = [f"w{i}" for i in range(9)]
    train = spark.createDataFrame(
        [(1, " ".join(shared + ["extra"]))], "doc_id long, text string"
    )
    ev = spark.createDataFrame(
        [(0, " ".join(shared))], "doc_id long, text string"
    )
    rows = D.cross_corpus_neardup(train, ev, D.MINHASH_THRESHOLD).collect()
    assert [(r.doc_id, r.eval_id, r.jaccard) for r in rows] == [(1, 0, 0.9)]


def test_d15_below_boundary_dropped(spark):
    """8 shared of |A|=10, |B|=9 → J = 8/11 < 0.9 → no pair (the
    size prune admits it; exact verification rejects it)."""
    shared = [f"w{i}" for i in range(8)]
    train = spark.createDataFrame(
        [(1, " ".join(shared + ["xa", "xb"]))], "doc_id long, text string"
    )
    ev = spark.createDataFrame(
        [(0, " ".join(shared + ["ya"]))], "doc_id long, text string"
    )
    assert D.cross_corpus_neardup(train, ev, D.MINHASH_THRESHOLD).count() == 0


def test_d15_eval_mod_matches_p09():
    """d15 keeps P09's eval-split derivation (numerically local to
    avoid an import cycle) — pin the equality so the two
    decontamination families can never silently diverge on what 'the
    benchmark set' is."""
    from omop_dump_to_parquet_spark.operators.pipeline import P09_EVAL_MOD

    assert D.D15_EVAL_MOD == P09_EVAL_MOD


# ---------------------------------------------------------------------------
# d16 — span-level exact-substring dedup output
# ---------------------------------------------------------------------------


def _md5(s: str) -> str:
    import hashlib

    return hashlib.md5(s.encode()).hexdigest()


def _rewrite_map(spark, docs_rows):
    docs = spark.createDataFrame(docs_rows, "doc_id long, text string")
    return {
        r.doc_id: r
        for r in D.exact_substring_rewrite(docs, w=3).collect()
    }


def test_d16_nondegenerate(spark, sf_small):
    """The fixture actually exercises the operator: >20 docs get spans
    removed, including at least one fully-deduplicated doc (retained
    text == '') — and untouched docs round-trip byte-identical."""
    rows = QUERIES["d16_exact_substring_rewrite"](spark, sf_small).collect()
    rewritten = [r for r in rows if r.n_removed > 0]
    assert len(rewritten) >= 20
    assert any(r.n_removed == r.n_tokens for r in rewritten)
    empty_md5 = _md5("")
    for r in rewritten:
        if r.n_removed == r.n_tokens:
            assert r.retained_md5 == empty_md5
    # untouched docs: md5 equals the original token-joined text
    originals = {
        r.doc_id: r.text
        for r in table(spark, sf_small, "documents").collect()
    }
    untouched = [r for r in rows if r.n_removed == 0]
    assert untouched
    for r in untouched[:50]:
        assert r.retained_md5 == _md5(originals[r.doc_id])


def test_d16_cross_doc_keeper_is_min_doc(spark):
    """A span duplicated across docs survives only in the lexicographic
    -min (doc_id, pos) occurrence."""
    span = "a b c"  # w=3: exactly one window
    out = _rewrite_map(
        spark,
        [(1, f"{span} x y"), (2, f"p q {span}"), (3, f"{span} m n")],
    )
    assert out[1].n_removed == 0
    assert out[1].retained_md5 == _md5("a b c x y")
    assert out[2].n_removed == 3
    assert out[2].retained_md5 == _md5("p q")
    assert out[3].n_removed == 3
    assert out[3].retained_md5 == _md5("m n")


def test_d16_within_doc_repeat_keeps_first(spark):
    out = _rewrite_map(spark, [(7, "a b c z a b c")])
    # second occurrence (pos 5) deleted; tokens 5,6,7 removed
    assert out[7].n_removed == 3
    assert out[7].retained_md5 == _md5("a b c z")


def test_d16_overlapping_marks_union(spark):
    """Two overlapping duplicated windows in the same doc merge via the
    deleted-position set — tokens are not double-counted."""
    out = _rewrite_map(
        spark,
        [(1, "a b c d x"), (2, "y a b c d")],  # windows 'a b c','b c d' both dup
    )
    assert out[1].n_removed == 0
    assert out[2].n_removed == 4  # positions 2..5 union, not 6
    assert out[2].retained_md5 == _md5("y")


def test_d16_short_doc_untouched(spark):
    out = _rewrite_map(spark, [(1, "a b"), (2, "a b")])
    # both docs shorter than w=3: no windows, byte-identical output
    for d in (1, 2):
        assert out[d].n_removed == 0
        assert out[d].retained_md5 == _md5("a b")


def test_d16_plan_single_corpus_hash_exchange(spark, sf_small):
    """The 100 TB claim: the gram index's keeper groupBy is the ONLY
    hash exchange over corpus-token-scale data; the keeper table and
    deleted-set sliver ride broadcasts; no SortMergeJoin at fixture
    scale. (At production the keeper join degrades to SMJ REUSING the
    same gh exchange — same key.)"""
    import re

    plan = (
        QUERIES["d16_exact_substring_rewrite"](spark, sf_small)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortMergeJoin" not in plan, plan
    hash_ex = re.findall(r"Exchange hashpartitioning\(([a-z_]+)#", plan)
    # exactly two hash exchanges: gh (gram index / keeper agg) and
    # doc_id (duplicated-window sliver aggregation)
    assert sorted(hash_ex) == ["doc_id", "gh"], hash_ex
    assert plan.count("BroadcastHashJoin") == 2, plan

"""Semantic unit tests for the text operators (t08-t25) — invariants
the differential oracle can't state (the oracle proves Spark≡DuckDB,
these prove both mean what the docstrings claim) and the plan shapes
the 100 TB arguments rest on.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from omop_dump_to_parquet_spark import load_catalog
from omop_dump_to_parquet_spark.operators import text as T
from omop_dump_to_parquet_spark.sources.parquet import table

QUERIES, _ = load_catalog()


def test_t08_fractions_are_valid_and_short_docs_are_zero(spark, sf_small):
    out = T.t08_repetition_metrics(spark, sf_small)
    bad = out.filter(
        (F.col("dup_trigram_frac") < 0)
        | (F.col("dup_trigram_frac") > 1)
        | (F.col("top_token_frac") <= 0)
        | (F.col("top_token_frac") > 1)
    )
    assert bad.count() == 0
    # a doc with <3 tokens must yield (0 trigrams, 0.0 dup_frac)
    short = out.filter(F.col("n_trigrams") == 0)
    assert short.filter(F.col("dup_trigram_frac") != 0.0).count() == 0


def test_t09_benchmark_docs_never_flagged(spark, sf_small):
    out = T.t09_decontaminate(spark, sf_small)
    assert (
        out.filter(F.col("doc_id") % T.DECON_BENCH_MOD == 0).count() == 0
    )
    # contamination count is bounded by the doc's own distinct grams
    docs = table(spark, sf_small, "documents")
    grams = docs.select(
        "doc_id",
        F.size(
            F.array_distinct(
                F.when(
                    F.size(F.split("text", " ")) >= T.DECON_NGRAM,
                    F.transform(
                        F.sequence(
                            F.lit(1),
                            F.size(F.split("text", " "))
                            - (T.DECON_NGRAM - 1),
                        ),
                        lambda i: F.array_join(
                            F.slice(F.split("text", " "), i, T.DECON_NGRAM),
                            " ",
                        ),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            )
        ).alias("n_grams"),
    )
    joined = out.join(grams, "doc_id")
    assert (
        joined.filter(
            F.col("n_contaminated_grams") > F.col("n_grams")
        ).count()
        == 0
    )


def test_t10_packing_is_contiguous_per_source(spark, sf_small):
    out = T.t10_sequence_packing(spark, sf_small)
    docs = table(spark, sf_small, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tok")
    )
    j = out.join(docs, "doc_id")
    # invariant: offset < budget, pack_id = floor(prev_cum/budget),
    # and within a source the (pack_id, pack_offset) sequence is
    # exactly the running token sum — check via reconstruction.
    assert j.filter(
        (F.col("pack_offset") < 0)
        | (F.col("pack_offset") >= T.PACK_BUDGET)
    ).count() == 0
    recon = j.withColumn(
        "prev_cum",
        F.col("pack_id") * T.PACK_BUDGET + F.col("pack_offset"),
    )
    from pyspark.sql import Window as W

    win = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    expect = recon.withColumn(
        "expect_cum", F.sum("n_tok").over(win) - F.col("n_tok")
    )
    assert expect.filter(F.col("prev_cum") != F.col("expect_cum")).count() == 0
    # pack ids are dense-ish: monotone nondecreasing in doc_id order
    lagged = expect.withColumn(
        "prev_pack",
        F.lag("pack_id").over(W.partitionBy("source").orderBy("doc_id")),
    )
    assert (
        lagged.filter(F.col("prev_pack") > F.col("pack_id")).count() == 0
    )


def test_t11_redaction_removes_blocklist_and_is_idempotent(spark, sf_small):
    docs = table(spark, sf_small, "documents")
    redacted = docs.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.col("text"), T.PII_EMAIL, "<PII>"),
                T.PII_PHONE,
                "<PII>",
            ),
            T.BLOCKLIST,
            "<REDACTED>",
        ).alias("clean"),
    )
    # no blocklisted term survives redaction
    assert (
        redacted.filter(
            F.size(
                F.regexp_extract_all(F.col("clean"), F.lit(T.BLOCKLIST), 0)
            )
            > 0
        ).count()
        == 0
    )
    # the fixture DOES contain blocklisted terms (non-degenerate test)
    out = T.t11_pii_redaction(spark, sf_small)
    assert out.filter(F.col("n_blocklisted") > 0).count() > 0
    # and no email/phone shapes (documented fixture property)
    assert out.filter(F.col("n_pii") > 0).count() == 0


def test_t11_patterns_catch_real_pii_shapes(spark):
    """The fixture contains no PII, so prove the patterns on synthetic
    rows: mixed-case emails and the common phone formats must all be
    caught and fully scrubbed."""
    rows = [
        (1, "contact Alice.Smith@Example.COM for details"),
        (2, "call (555) 123-4567 now"),
        (3, "or 555.123.4567 / 555 123 4567"),
        (4, "clean text with no identifiers"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from omop_dump_to_parquet_spark.operators import text as T2

    scrubbed = df.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(F.col("text"), T2.PII_EMAIL, "<PII>"),
            T2.PII_PHONE,
            "<PII>",
        ).alias("clean"),
        (
            F.size(F.regexp_extract_all(F.col("text"), F.lit(T2.PII_EMAIL), 0))
            + F.size(
                F.regexp_extract_all(F.col("text"), F.lit(T2.PII_PHONE), 0)
            )
        ).alias("n_pii"),
    )
    got = {r["doc_id"]: r for r in scrubbed.collect()}
    assert got[1]["n_pii"] == 1 and "Example.COM" not in got[1]["clean"]
    assert got[2]["n_pii"] == 1 and "4567" not in got[2]["clean"]
    assert got[3]["n_pii"] == 2
    assert got[4]["n_pii"] == 0 and got[4]["clean"] == rows[3][1]


def test_t19_bigram_counts_and_score_shape(spark, sf_small):
    """Every doc with n words yields n-1 bigrams; smoothed NLL is
    strictly positive (P<1 always under add-one); and every per-doc
    score matches an INDEPENDENT pure-Python add-one bigram LM built
    from the same corpus (r10 test review: the docstring used to
    promise a ranking property the body never checked — the
    from-scratch model is the stronger replacement)."""
    import math
    from collections import Counter

    from omop_dump_to_parquet_spark.operators.text import (
        t19_bigram_lm_score,
    )
    from omop_dump_to_parquet_spark.sources.parquet import table

    out = {r["doc_id"]: r for r in t19_bigram_lm_score(spark, sf_small).collect()}
    texts = {
        r["doc_id"]: r["text"].split(" ")
        for r in table(spark, sf_small, "documents").collect()
    }
    words = {d: len(t) for d, t in texts.items()}
    assert set(out) == {d for d, n in words.items() if n >= 2}
    # reference model, from scratch: add-one-smoothed bigram NLLs,
    # mirroring the operator's round-9-then-decimal-mean contract
    bc = Counter(
        (t[i], t[i + 1]) for t in texts.values() for i in range(len(t) - 1)
    )
    lc = Counter()
    for (w1, _w2), c in bc.items():
        lc[w1] += c
    vsize = len({w for t in texts.values() for w in t})
    nll = {
        bg: round(-math.log((c + 1) / (lc[bg[0]] + vsize)), 9)
        for bg, c in bc.items()
    }
    for d, r in out.items():
        assert r["n_bigrams"] == words[d] - 1
        assert r["avg_nll"] > 0
        t = texts[d]
        terms = [nll[(t[i], t[i + 1])] for i in range(len(t) - 1)]
        expect = round(math.fsum(terms) / len(terms), 6)
        assert abs(r["avg_nll"] - expect) < 2e-6, (d, r["avg_nll"], expect)


def test_t21_chunking_invariants(spark, sf_small):
    """Chunk semantics the oracle can't state: full coverage (the
    chunk set spans every token exactly once per its overlap), the
    tail chunk always contributes new tokens (never a pure subset of
    its predecessor), and short docs yield exactly one chunk."""
    out = T.t21_context_chunking(spark, sf_small).cache()
    docs = table(spark, sf_small, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tok")
    )
    j = out.join(docs, "doc_id")
    # every chunk is non-empty and in-bounds
    assert j.filter(
        (F.col("chunk_len") <= 0)
        | (F.col("tok_start") + F.col("chunk_len") > F.col("n_tok"))
    ).count() == 0
    # coverage: last chunk reaches the final token of the doc
    last = j.groupBy("doc_id", "n_tok").agg(
        F.max(F.col("tok_start") + F.col("chunk_len")).alias("covered"),
        F.count(F.lit(1)).alias("n_chunks"),
    )
    assert last.filter(F.col("covered") != F.col("n_tok")).count() == 0
    # short docs (n_tok <= WINDOW): exactly one chunk
    assert last.filter(
        (F.col("n_tok") <= T.CHUNK_WINDOW) & (F.col("n_chunks") != 1)
    ).count() == 0
    # every non-first chunk contributes new tokens: its end must
    # STRICTLY exceed the previous chunk's (clamped) end — equality
    # means a redundant tail chunk fully contained in its
    # predecessor, exactly the fencepost regression this test
    # exists to catch (a `- 1` here once made the filter vacuous:
    # ends are monotone non-decreasing, so `end <= prev_end - 1`
    # could never fire — r13 review)
    prev_end = (F.col("chunk_idx") - 1) * T.CHUNK_STRIDE + T.CHUNK_WINDOW
    assert j.filter(
        (F.col("chunk_idx") > 0)
        & (
            F.col("tok_start") + F.col("chunk_len")
            <= F.least(prev_end, F.col("n_tok"))
        )
    ).count() == 0
    out.unpersist()


def test_t22_matches_pure_python_bpe_reference(spark, sf_small):
    """The differential oracle can't catch a bug in the shared
    double-space replace() trick (both engines would drift together),
    so validate the merge table against a from-scratch pure-Python
    BPE learner (Sennrich semantics: overlap-counted pair frequencies,
    left-to-right non-overlapping merge application)."""
    import collections

    got = [
        (r["iteration"], r["left_sym"], r["right_sym"],
         r["merged_sym"], r["pair_count"])
        for r in T.t22_bpe_merges(spark, sf_small).collect()
    ]
    words = collections.Counter()
    for r in table(spark, sf_small, "documents").select("text").collect():
        words.update(r["text"].split(" "))
    syms = {w: list(w) for w in words}
    want = []
    for it in range(1, T.BPE_ITERS + 1):
        pc = collections.Counter()
        for w, c in words.items():
            s = syms[w]
            for a, b in zip(s, s[1:]):
                pc[(a, b)] += c
        (lft, rgt), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        want.append((it, lft, rgt, lft + rgt, cnt))
        for w, s in syms.items():
            out, k = [], 0
            while k < len(s):
                if k + 1 < len(s) and s[k] == lft and s[k + 1] == rgt:
                    out.append(lft + rgt)
                    k += 2
                else:
                    out.append(s[k])
                    k += 1
            syms[w] = out
    assert sorted(got) == sorted(want)


def test_st10_stream_equals_t21_batch(spark, sf_small):
    """st10 is t21's plan under readStream; assert stream≡batch
    Spark-vs-Spark directly (the DuckDB oracle proves each against
    SQL — this proves them against each other with zero oracle in
    the loop)."""
    from omop_dump_to_parquet_spark.streaming import stream_queries as S

    batch = T.t21_context_chunking(spark, sf_small)
    streamed = S.st10_stream_chunking(spark, sf_small)
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0
    assert streamed.count() == batch.count()


def test_t23_encode_matches_python_bpe_application(spark, sf_small):
    """t23's doc-level '|'-boundary replace encode must equal
    applying the reference BPE merges word-by-word: for every doc,
    n_bpe_symbols == sum of its words' post-merge symbol counts
    (catches any cross-word-boundary merge the '|' sentinel is
    supposed to forbid)."""
    import collections

    rows = table(spark, sf_small, "documents").select(
        "doc_id", "text"
    ).collect()
    words = collections.Counter()
    for r in rows:
        words.update(r["text"].split(" "))
    merges = T.learn_bpe_merges(
        table(spark, sf_small, "documents")
    )
    syms = {w: list(w) for w in words}
    for _, lft, rgt, merged, _cnt in merges:
        for w, s in syms.items():
            out, k = [], 0
            while k < len(s):
                if k + 1 < len(s) and s[k] == lft and s[k + 1] == rgt:
                    out.append(merged)
                    k += 2
                else:
                    out.append(s[k])
                    k += 1
            syms[w] = out
    want = {
        r["doc_id"]: sum(len(syms[w]) for w in r["text"].split(" "))
        for r in rows
    }
    got = {
        r["doc_id"]: r["n_bpe_symbols"]
        for r in T.t23_bpe_encode(spark, sf_small).collect()
    }
    assert got == want


def test_bpe_encode_keeps_input_doc_id_type_and_nulls(spark, sf_small):
    """The encode's doc_id column takes its type from the input (an
    ``int`` key comes back ``int``, not widened to ``long``), NULL text
    yields NULL metrics, and the metrics equal the ``long``-keyed
    encode's."""
    docs = table(spark, sf_small, "documents").select("doc_id", "text")
    merges = T.learn_bpe_merges(docs)
    narrow = docs.select(F.col("doc_id").cast("int").alias("doc_id"), "text").union(
        spark.createDataFrame([(-1, None)], "doc_id int, text string")
    )
    got = T.bpe_encode(narrow, merges)
    assert dict(got.dtypes)["doc_id"] == "int"
    rows = {r["doc_id"]: tuple(r)[1:] for r in got.collect()}
    assert rows.pop(-1) == (None, None, None)
    want = {r["doc_id"]: tuple(r)[1:] for r in T.bpe_encode(docs, merges).collect()}
    assert rows == want and len(rows) > 0


# ---------------------------------------------------------------------------
# t24 — classifier inference plumbing
# ---------------------------------------------------------------------------


def test_t24_plan_has_no_shuffle(spark, sf_small):
    """Inference is scan → broadcast weights → map-side project: no
    Exchange other than the BroadcastExchange of the one-row weight
    vector — the property that makes it free at 100 TB."""
    plan = (
        QUERIES["t24_quality_classifier"](spark, sf_small)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastExchange" in plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan


def test_t24_logit_matches_driver_side_recompute(spark, sf_small):
    """Row-level ground truth: recompute a sample of logits in plain
    Python from the same weight formula and md5 hash; exact match."""
    import hashlib

    got = {
        r["doc_id"]: (r["n_features"], r["logit"], r["label"])
        for r in QUERIES["t24_quality_classifier"](spark, sf_small).collect()
    }
    w = T.t24_weights()
    sample = (
        table(spark, sf_small, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") % 37 == 0)
        .collect()
    )
    assert sample
    for r in sample:
        toks = r["text"].split(" ")
        feats = toks + [
            f"{a} {b}" for a, b in zip(toks, toks[1:])
        ]
        logit = sum(
            w[int(hashlib.md5(f.encode()).hexdigest()[:15], 16) % T.T24_DIM]
            for f in feats
        )
        assert got[r["doc_id"]] == (len(feats), logit, logit > 0), r["doc_id"]


def test_t24_label_split_is_mixed(spark, sf_small):
    """The decision threshold must actually separate the fixture (both
    classes present) — a degenerate all-one-label output would make the
    classifier stage vacuous as a filter."""
    labels = (
        QUERIES["t24_quality_classifier"](spark, sf_small)
        .groupBy("label")
        .count()
        .collect()
    )
    assert len(labels) == 2, labels


# ---------------------------------------------------------------------------
# t25 — HTML extraction: encoder integrity, kernel semantics, plan
# ---------------------------------------------------------------------------


def test_t25_encoder_builds_real_markup(spark, sf_small):
    """The roundtrip is not vacuous: the encoded page really contains
    boilerplate blocks and live entities that the kernel must remove/
    decode to recover the source bytes."""
    docs = table(spark, sf_small, "documents")
    row = T.html_wrap(docs).orderBy("doc_id").first()
    h = row.html
    for frag in (
        "<nav>",
        '<div class="sidebar">',
        "<footer>",
        "<article>",
        "<p>&nbsp;",
        "&#",  # numeric character reference in CONTENT
        "&amp;",  # named entity (footer)
        "<head>",
    ):
        assert frag in h, frag
    orig = docs.orderBy("doc_id").first().text
    assert orig not in h  # entities make content != source bytes


def test_t25_kernel_on_handbuilt_page(spark):
    """Known-answer extraction: link-dense blocks dropped, head
    stripped, tags stripped, entities decoded, whitespace normal."""
    page = (
        "<html><head><title>leak me not</title></head><body>"
        '<nav><a href="/">all links here</a></nav>'
        "<p>keep &#72;ello &amp; <b>world</b></p>"
        '<div><a href="/x">link link link</a> tiny</div>'
        "<footer>mostly <a href='/y'>linked footer text</a></footer>"
        "</body></html>"
    )
    df = spark.createDataFrame([(1, page)], "doc_id long, html string")
    r = T.html_extract(df).collect()[0]
    assert r.n_blocks == 4  # nav, p, div, footer
    assert r.n_dropped == 3  # nav (1.0), div (~0.75), footer (~0.6)
    assert r.extracted == "keep Hello & world"


def test_t25_entity_decode_is_single_pass(spark):
    """HTML semantics: '&#38;amp;' is '&amp;' (the decoder must not
    rescan its own output), and unknown entities pass through."""
    df = spark.createDataFrame(
        [(1, "<p>&#38;amp; stays &unknown; ok</p>")],
        "doc_id long, html string",
    )
    r = T.html_extract(df).collect()[0]
    assert r.extracted == "&amp; stays &unknown; ok"


def test_t25_plan_zero_shuffles(spark, sf_small):
    """Zero shuffles by construction: scan → expressions →
    mapInArrow → project. Only widen_scan's fixture round-robin may
    appear; no hash/range exchange, no join, no aggregate."""
    plan = (
        QUERIES["t25_html_extract"](spark, sf_small)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "Join" not in plan, plan
    assert "Aggregate" not in plan, plan

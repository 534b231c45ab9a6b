"""Text-analysis operators over the ``documents`` corpus (the
structural stand-in for the reference's OMOP ``NOTE_TEXT`` CLOB
column — FIXTURES.md §A): per-document statistics, quality scoring,
tokenization/token counting, language-ID heuristic, and content
fingerprinting.

[EXT] operators per SURVEY.md §2.3 — absent from the reference
(§2.2), mandated by the north-star brief for the LLM-data-pipeline
surface.

Most of these are map-side-only column expressions (no shuffle except
the final optional aggregation), i.e. they scale linearly and stay
inside whole-stage codegen — the correct shape for a 100 TB corpus
profiling pass. No per-row Python UDFs anywhere; three operators run
Python over Arrow batches: t18's ``local_candidates`` (a
``map_batches`` kernel, per-batch heavy-hitter counting), and two row
kernels run by ``functions.kernels.map_rows`` — t23's ``bpe_encode``
(the merge table applied as ``str.replace``) and t25's HTML extraction
(regex-per-document markup removal), the same shape as the m-family
decoders. t22/t23's merge learning runs on the driver over a bounded
vocabulary collect.
"""

from __future__ import annotations

import collections
import hashlib
import re
from collections.abc import Iterable

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.kernels import map_batches, map_rows
from ..registry import query
from ..sources.parquet import table

STOPWORDS = ("a", "the")  # present in the fixture vocabulary


def tokens(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, " ")


# ---------------------------------------------------------------------------
# T01 — per-document token statistics.
# avg_token_len is derived arithmetically from chars/token counts so it
# is a deterministic single IEEE division (no aggregation noise).
# ---------------------------------------------------------------------------

T01_ORACLE = """
SELECT doc_id,
       len(string_split(text, ' ')) AS n_tokens,
       len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
       length(text) AS n_chars,
       (CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
        / len(string_split(text, ' '))) AS avg_token_len
FROM documents
"""


@query("t01_text_stats", oracle=T01_ORACLE)
def t01_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = tokens("text")
    n_tok = F.size(toks)
    return docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.length("text").alias("n_chars"),
        (
            (F.length("text") - (n_tok - F.lit(1))).cast("double") / n_tok
        ).alias("avg_token_len"),
    )


# ---------------------------------------------------------------------------
# T02 — quality scoring: length, lexical diversity, stopword ratio.
# The canonical pre-training corpus filter (cf. C4/Gopher rules):
# score ∈ [0,1], weighted blend of normalized signals. Expression tree
# is identical in both engines → bit-stable doubles.
# ---------------------------------------------------------------------------

#: The quality formula as a DuckDB scalar expression over a `text`
#: column — shared by T02's oracle and p01's oracle (pipeline.py) so
#: the two can never drift.
QUALITY_SQL = """((0.3 * least(1.0, CAST(length(text) AS DOUBLE) / 400.0))
        + (0.4 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                  / len(string_split(text, ' '))))
        + (0.3 * (1.0 - (CAST(len(list_filter(string_split(text, ' '),
                                              w -> w = 'a' OR w = 'the')) AS DOUBLE)
                         / len(string_split(text, ' '))))))"""

T02_ORACLE = f"""
SELECT doc_id,
       {QUALITY_SQL} AS quality
FROM documents
"""


def quality_expr() -> Column:
    """The quality formula as a Spark column expression — the single
    definition t02 and p01 both evaluate (identical tree → bit-stable
    doubles across both call sites and both engines)."""
    toks = tokens("text")
    n_tok = F.size(toks)
    n_stop = F.size(
        F.filter(toks, lambda w: (w == STOPWORDS[0]) | (w == STOPWORDS[1]))
    )
    len_score = F.least(
        F.lit(1.0), F.length("text").cast("double") / F.lit(400.0)
    )
    diversity = F.size(F.array_distinct(toks)).cast("double") / n_tok
    stop_penalty = F.lit(1.0) - (n_stop.cast("double") / n_tok)
    return (
        (F.lit(0.3) * len_score)
        + (F.lit(0.4) * diversity)
        + (F.lit(0.3) * stop_penalty)
    )


@query("t02_quality_score", oracle=T02_ORACLE)
def t02_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return docs.select("doc_id", quality_expr().alias("quality"))


# ---------------------------------------------------------------------------
# T03 — token counting: whitespace tokens + a BPE-ish regex pass
# (alpha runs / digit runs / other-symbol runs), the standard cheap
# proxy for subword token counts in corpus accounting.
# ---------------------------------------------------------------------------

T03_ORACLE = """
SELECT doc_id,
       len(string_split(text, ' ')) AS n_ws_tokens,
       len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS n_bpe_tokens
FROM documents
"""


@query("t03_token_count", oracle=T03_ORACLE)
def t03_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(tokens("text")).alias("n_ws_tokens"),
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit("[a-z]+|[0-9]+"), 0)
        ).alias("n_bpe_tokens"),
    )


# ---------------------------------------------------------------------------
# T04 — language-ID heuristic (char-distribution profile vote).
# A real n-gram profile model needs external tables; this is the
# self-contained deterministic variant: score each candidate language
# by marker-token overlap, argmax with alphabetical tie-break. The
# fixture corpus is synthetic word soup, so predictions are degenerate
# by construction — the operator's *shape* (map-side scoring + argmax)
# is what carries to a real corpus. The marker vote is fully
# deterministic (integer counts, lexicographic tie-break), so it gets
# a differential oracle: unnest the candidate languages, count marker
# hits per (doc, lang), keep the best row per doc.
# ---------------------------------------------------------------------------

LANG_MARKERS = {
    "en": ("the", "a", "fast", "slow"),
    "es": ("data", "valor", "tabla"),
    "de": ("der", "und", "schnell"),
}


def _t04_oracle() -> str:
    cands = ", ".join(
        "('{}', [{}])".format(
            lang, ", ".join(f"'{m}'" for m in markers)
        )
        for lang, markers in sorted(LANG_MARKERS.items())
    )
    return f"""
WITH t AS (
  SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
),
scored AS (
  SELECT t.doc_id, t.lang,
         cand.l AS cand_lang,
         len(list_filter(t.toks, w -> list_contains(cand.m, w))) AS hits
  FROM t, (VALUES {cands}) AS cand(l, m)
)
SELECT doc_id,
       lang AS labeled_lang,
       cand_lang AS predicted_lang,
       hits AS marker_hits
FROM scored
QUALIFY row_number() OVER (PARTITION BY doc_id
                           ORDER BY hits DESC, cand_lang) = 1
"""


@query("t04_langid", oracle=_t04_oracle())
def t04_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = tokens("text")
    scores = F.array(
        *[
            F.struct(
                (-F.size(F.filter(toks, lambda w: w.isin(*markers)))).alias(
                    "neg_score"
                ),
                F.lit(lang).alias("lang"),
            )
            for lang, markers in sorted(LANG_MARKERS.items())
        ]
    )
    # argmax: ascending sort on (-score, lang) → highest score first,
    # alphabetical tie-break — deterministic.
    best = F.sort_array(scores)[0]
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        best["lang"].alias("predicted_lang"),
        (-best["neg_score"]).alias("marker_hits"),
    )


# ---------------------------------------------------------------------------
# T05 — content fingerprinting: md5 of the normalized text, dup-group
# rollup. (Winnowing/rolling-hash fingerprints live in dedup.py where
# they feed candidate generation.)
# ---------------------------------------------------------------------------

T05_ORACLE = """
SELECT md5(lower(text)) AS fingerprint,
       MIN(doc_id) AS first_doc_id,
       COUNT(*) AS n_docs
FROM documents
GROUP BY fingerprint
"""


@query("t05_fingerprint", oracle=T05_ORACLE)
def t05_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5(F.lower(F.col("text"))).alias("fingerprint"))
        .agg(
            F.min("doc_id").alias("first_doc_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


# ---------------------------------------------------------------------------
# T06 — stratified sampling (per-language downsampling): the curation
# step that rebalances a corpus before training. Deterministic
# HASH-BUCKET sampling instead of an RNG: a row survives iff the first
# 3 hex chars of md5(doc_id ':' salt) fall below floor(frac·4096) —
# the same map-side one-pass shape as ``sampleBy``, but reproducible
# across engines, Spark versions, partitionings, AND re-runs (the
# property a training corpus actually needs: re-materializing the
# sample months later must yield the identical row set). Changing the
# salt draws an independent sample. Engine-portable → full
# differential oracle. At 100 TB this is THE way to downsample: no
# count-then-limit (two passes + skew problems), just one hashed scan.
# ---------------------------------------------------------------------------

SAMPLE_FRACTIONS = {"en": 0.5, "de": 1.0, "fr": 0.25}
DEFAULT_FRACTION = 0.1
SAMPLE_SEED = 13


def _sample_threshold(frac: float) -> str:
    """3-hex-char lexicographic threshold for P(substr < thr) ≈ frac.
    'zzz' sorts after every hex string → keep-all for frac >= 1."""
    return "zzz" if frac >= 1.0 else format(int(frac * 4096), "03x")


def sample_bucket_expr(seed: int) -> Column:
    """The ``md5(doc_id ':' seed)`` 3-nibble sampling bucket — ONE
    definition shared by t06 and p01's manifest, so a change to the
    sampling mechanics here cannot silently desynchronize them."""
    return F.substring(
        F.md5(
            F.concat(F.col("doc_id").cast("string"), F.lit(f":{seed}"))
        ),
        1,
        3,
    )


def shard_expr_and_window() -> tuple[Column, "W"]:
    """Deterministic 16-way shard assignment from the first nibble of
    an md5 column named ``h``: returns ``(shard, window)`` — the
    shard id expression and the per-shard position window — shared by
    t12 and p01 (same single-definition rule; the documented
    scale path is k nibbles → 16^k shards, changed HERE or nowhere).
    instr('0123…f', nibble)-1 maps the hex char to 0..15 with the
    same expression text both engines accept."""
    shard = F.expr(
        "cast(instr('0123456789abcdef', substr(h, 1, 1)) - 1 as int)"
    )
    w = W.partitionBy(F.substring("h", 1, 1)).orderBy("h", "doc_id")
    return shard, w


def _t06_oracle() -> str:
    cases = " ".join(
        f"WHEN '{lang}' THEN '{_sample_threshold(fr)}'"
        for lang, fr in sorted(SAMPLE_FRACTIONS.items())
    )
    return f"""
SELECT lang,
       COUNT(*) AS n_sampled,
       MIN(doc_id) AS first_doc
FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':{SAMPLE_SEED}'), 1, 3) <
      CASE lang {cases} ELSE '{_sample_threshold(DEFAULT_FRACTION)}' END
GROUP BY lang
"""


@query("t06_stratified_sample", oracle=_t06_oracle())
def t06_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    bucket = sample_bucket_expr(SAMPLE_SEED)
    thr = F.lit(_sample_threshold(DEFAULT_FRACTION))
    for lang, fr in sorted(SAMPLE_FRACTIONS.items()):
        thr = F.when(
            F.col("lang") == lang, F.lit(_sample_threshold(fr))
        ).otherwise(thr)
    return (
        docs.filter(bucket < thr)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.min("doc_id").alias("first_doc"),
        )
    )


# ---------------------------------------------------------------------------
# T07 — vocabulary extraction: global token frequencies, top-100. The
# corpus pass that feeds tokenizer training (BPE/unigram) and OOV
# analysis. explode → two-level aggregate; the shuffle carries one row
# per distinct token (map-side partial counts), and the top-k is a
# TakeOrdered, never a global sort. Deterministic: count-desc with
# token tie-break.
# ---------------------------------------------------------------------------

VOCAB_TOP_K = 100


T07_ORACLE = f"""
SELECT w AS token, COUNT(*) AS n_occurrences,
       COUNT(DISTINCT doc_id) AS n_docs
FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
GROUP BY w
ORDER BY n_occurrences DESC, token
LIMIT {VOCAB_TOP_K}
"""


@query("t07_vocabulary", oracle=T07_ORACLE)
def t07_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(tokens("text")).alias("token")
    )
    return (
        tok.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.col("n_occurrences").desc(), F.col("token"))
        .limit(VOCAB_TOP_K)
    )


# ---------------------------------------------------------------------------
# T08 — repetition metrics (Gopher-style quality signals): duplicate
# trigram fraction + most-frequent-token dominance, per document. The
# standard "remove boilerplate / degenerate repetition" filter for
# pre-training corpora (cf. Rae et al. 2021 §A1.1). All map-side
# higher-order array expressions — per-row cost is O(tokens·distinct),
# bounded by document length, no shuffle. Divisions are the identical
# expression tree in both engines → bit-stable doubles.
# ---------------------------------------------------------------------------

T08_ORACLE = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
g AS (
  SELECT doc_id, toks,
         CASE WHEN len(toks) >= 3
              THEN list_transform(range(1, len(toks) - 1),
                                  i -> array_to_string(list_slice(toks, i, i + 2), ' '))
              ELSE [] END AS trigrams
  FROM t
)
SELECT doc_id,
       len(trigrams) AS n_trigrams,
       CASE WHEN len(trigrams) > 0
            THEN 1.0 - (CAST(len(list_distinct(trigrams)) AS DOUBLE) / len(trigrams))
            ELSE 0.0 END AS dup_trigram_frac,
       (CAST(list_max(list_transform(list_distinct(toks),
                                     w -> len(list_filter(toks, x -> x = w)))) AS DOUBLE)
        / len(toks)) AS top_token_frac
FROM g
"""


@query("t08_repetition_metrics", oracle=T08_ORACLE)
def t08_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = tokens("text")
    n = F.size(toks)
    trigrams = F.when(
        n >= 3,
        F.transform(
            F.sequence(F.lit(1), n - 2),
            lambda i: F.array_join(F.slice(toks, i, 3), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    n_tri = F.size(trigrams)
    dup_frac = F.when(
        n_tri > 0,
        F.lit(1.0) - (F.size(F.array_distinct(trigrams)).cast("double") / n_tri),
    ).otherwise(F.lit(0.0))
    top_frac = (
        F.array_max(
            F.transform(
                F.array_distinct(toks),
                lambda w: F.size(F.filter(toks, lambda x: x == w)),
            )
        ).cast("double")
        / n
    )
    return docs.select(
        "doc_id",
        n_tri.alias("n_trigrams"),
        dup_frac.alias("dup_trigram_frac"),
        top_frac.alias("top_token_frac"),
    )


# ---------------------------------------------------------------------------
# T09 — benchmark decontamination: flag training documents sharing any
# 8-gram with a held-out benchmark set (here: every 97th doc, the
# deterministic stand-in for an eval suite). THE pre-training hygiene
# pass (cf. GPT-3 §C / PaLM §F): n-gram the benchmark, n-gram the
# corpus, inner-join on the gram. The benchmark side is tiny →
# broadcast; the corpus side explodes to one row per distinct gram
# (linear in corpus tokens) and aggregates back to one row per
# contaminated doc. No quadratic step anywhere.
#
# Width: production decontamination uses 8-13-grams on natural text;
# the synthetic fixture is 40-word-vocabulary salad whose near-dup
# edits break runs ≥5, so 4 is the proportional analog that keeps the
# fixture output non-degenerate (8 contaminated docs at sf0.01 — the
# 0-row result at width 8 was a property of the fixture, not the
# operator).
# ---------------------------------------------------------------------------

DECON_NGRAM = 4
DECON_BENCH_MOD = 97

T09_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
g AS (
  SELECT doc_id,
         unnest(list_distinct(
           CASE WHEN len(toks) >= {DECON_NGRAM}
                THEN list_transform(range(1, len(toks) - {DECON_NGRAM - 2}),
                                    i -> array_to_string(
                                           list_slice(toks, i, i + {DECON_NGRAM - 1}), ' '))
                ELSE [] END)) AS gram
  FROM t
),
bench AS (
  SELECT DISTINCT gram FROM g WHERE doc_id % {DECON_BENCH_MOD} = 0
)
SELECT g.doc_id, COUNT(*) AS n_contaminated_grams
FROM g JOIN bench ON g.gram = bench.gram
WHERE g.doc_id % {DECON_BENCH_MOD} <> 0
GROUP BY g.doc_id
"""


@query("t09_decontaminate", oracle=T09_ORACLE)
def t09_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = tokens("text")
    n = F.size(toks)
    w = DECON_NGRAM
    grams = F.when(
        n >= w,
        F.transform(
            F.sequence(F.lit(1), n - (w - 1)),
            lambda i: F.array_join(F.slice(toks, i, w), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = docs.select(
        "doc_id", F.explode(F.array_distinct(grams)).alias("gram")
    )
    bench = (
        g.filter(F.col("doc_id") % DECON_BENCH_MOD == 0)
        .select("gram")
        .distinct()
    )
    return (
        g.filter(F.col("doc_id") % DECON_BENCH_MOD != 0)
        .join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated_grams"))
    )


# ---------------------------------------------------------------------------
# T10 — sequence packing: assign documents to fixed-token-budget
# training sequences. Contiguous quantized packing: within each
# source (the mixing unit), docs are laid end-to-end in doc_id order
# and a doc belongs to pack floor(preceding_tokens / BUDGET) — the
# deterministic, windowable formulation (a doc may straddle a pack
# boundary; exact first-fit is inherently sequential and buys <1%
# fill at realistic budgets). One ordered window per source ⇒
# parallel across sources; a single global pack stream at 100 TB
# would instead use the two-phase cumsum (per-partition partial sums
# + broadcast prefix offsets) — same arithmetic, no single-partition
# window.
# ---------------------------------------------------------------------------

PACK_BUDGET = 512

T10_ORACLE = f"""
SELECT doc_id, source,
       CAST((cum - n_tok) // {PACK_BUDGET} AS BIGINT) AS pack_id,
       CAST((cum - n_tok) % {PACK_BUDGET} AS BIGINT) AS pack_offset
FROM (
  SELECT doc_id, source,
         len(string_split(text, ' ')) AS n_tok,
         SUM(len(string_split(text, ' ')))
           OVER (PARTITION BY source ORDER BY doc_id
                 ROWS UNBOUNDED PRECEDING) AS cum
  FROM documents
)
"""


@query("t10_sequence_packing", oracle=T10_ORACLE)
def t10_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:

    docs = table(spark, sf_dir, "documents")
    n_tok = F.size(tokens("text"))
    win = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    prev_cum = F.sum(n_tok).over(win) - n_tok
    # `div` is Spark SQL's INTEGRAL division — exact for any budget.
    # (double division + cast truncation only matches the oracle's
    # integer `//` while the budget is a power of two and cumsums stay
    # below 2^53.)
    return docs.select(
        "doc_id",
        "source",
        prev_cum.alias("prev_cum"),
    ).select(
        "doc_id",
        "source",
        F.expr(f"prev_cum div {PACK_BUDGET}").alias("pack_id"),
        (F.col("prev_cum") % PACK_BUDGET).cast("long").alias("pack_offset"),
    )


# ---------------------------------------------------------------------------
# T11 — PII / blocklist redaction: scrub sensitive spans, count what
# was removed. One map-side pass of sequential regexp_replace — the
# standard pre-training scrub (emails, phone numbers, plus an exact
# term blocklist). The fixture vocabulary contains no email/phone
# shapes (those patterns exercise the machinery and hit zero — zero
# is the assertable answer); the blocklist terms DO occur, so the
# output is non-degenerate. The redacted text itself is compared via
# md5, not hauled through the driver.
# ---------------------------------------------------------------------------

# (?i) — emails are case-insensitive; phones cover the common
# separator variants ((555) 123-4567, 555.123.4567, 555 123 4567).
# Both patterns are valid Java regex (Spark) AND RE2 (DuckDB).
PII_EMAIL = "(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
PII_PHONE = "\\(?[0-9]{3}\\)?[-. ][0-9]{3}[-. ][0-9]{4}"
BLOCKLIST = r"\b(customer|vector)\b"


@query(
    "t11_pii_redaction",
    oracle=f"""
SELECT doc_id,
       len(regexp_extract_all(text, '{PII_EMAIL}'))
         + len(regexp_extract_all(text, '{PII_PHONE}')) AS n_pii,
       len(regexp_extract_all(text, '{BLOCKLIST}')) AS n_blocklisted,
       md5(regexp_replace(regexp_replace(regexp_replace(text,
             '{PII_EMAIL}', '<PII>', 'g'),
             '{PII_PHONE}', '<PII>', 'g'),
             '{BLOCKLIST}', '<REDACTED>', 'g')) AS redacted_md5
FROM documents
""",
)
def t11_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    n_pii = F.size(
        F.regexp_extract_all(F.col("text"), F.lit(PII_EMAIL), 0)
    ) + F.size(F.regexp_extract_all(F.col("text"), F.lit(PII_PHONE), 0))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), PII_EMAIL, "<PII>"),
            PII_PHONE,
            "<PII>",
        ),
        BLOCKLIST,
        "<REDACTED>",
    )
    return docs.select(
        "doc_id",
        n_pii.alias("n_pii"),
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(BLOCKLIST), 0)
        ).alias("n_blocklisted"),
        F.md5(redacted).alias("redacted_md5"),
    )


# ---------------------------------------------------------------------------
# T12 — deterministic shard assignment + in-shard ordering ("global
# shuffle" for training export). Training runs need the corpus
# randomized and split into fixed shards REPRODUCIBLY — no RNG, no
# engine-specific sample(): shard = first md5 nibble of the key,
# in-shard position = rank of the full digest. Identical output on any
# engine, any partitioning, any run.
#
# Scale: the digest is map-side; the only shuffle is the row_number
# repartition on shard. 16 shards here (one hex nibble) — at lake
# scale take k nibbles for 16^k shards so each shard fits an output
# file target, then df.write.partitionBy("shard"). The in-shard sort
# is the standard sort-within-partitions export.
# ---------------------------------------------------------------------------

T12_N_SHARDS = 16  # one md5 hex nibble; 16^k via k nibbles at scale


@query(
    "t12_shard_assignment",
    oracle="""
WITH hashed AS (
  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
)
SELECT doc_id,
       CAST(instr('0123456789abcdef', substr(h, 1, 1)) - 1 AS INT) AS shard,
       row_number() OVER (PARTITION BY substr(h, 1, 1) ORDER BY h, doc_id)
         AS pos
FROM hashed
""",
)
def t12_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:

    docs = table(spark, sf_dir, "documents")
    hashed = docs.select(
        "doc_id", F.md5(F.col("doc_id").cast("string")).alias("h")
    )
    shard, w = shard_expr_and_window()
    return hashed.select(
        "doc_id",
        shard.alias("shard"),
        F.row_number().over(w).alias("pos"),
    )


# ---------------------------------------------------------------------------
# T13 — corpus-LM log-likelihood scoring: fit a unigram language model
# on the corpus itself (p(w) = count(w) / total_tokens), then score
# each document by its mean token log-probability. This is the cheap
# stand-in for the perplexity filter every pre-training pipeline runs
# (cf. CCNet's KenLM stage): documents full of corpus-rare tokens
# score low and get culled.
#
# Scale shape: pass 1 builds the vocabulary — explode + groupBy(token)
# with map-side partial counts (uniform keys, no skew); pass 2 joins
# tokens back to the vocab. The vocab is BROADCAST: natural-language
# vocabularies plateau in the low millions of types regardless of
# corpus size (Heaps' law), so the build side stays executor-RAM-sized
# at 100 TB while the fact side never shuffles — the alternative
# (shuffle both on token) would re-exchange the full exploded corpus.
# The final per-doc mean is a groupBy on doc_id with partial aggs.
# Determinism (the t19 pattern): per-term log-probs are rounded at
# 9 dp — quantizing away libm's ~1-ulp ln() drift — and the per-doc
# mean accumulates through exact DECIMAL (davg), so neither engine
# differences nor Spark's partition-merge summation order can move
# the 6-dp result. A plain avg(double) of unrounded logs keeps the
# noise ≤1e-13, but a mean landing within that band of a rounding
# boundary could still flip the hash; this closes the band to zero.
# ---------------------------------------------------------------------------

T13_ORACLE = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w
  FROM documents
), vocab AS (
  SELECT w, count(*) AS cnt FROM tok GROUP BY w
), total AS (
  SELECT sum(cnt) AS n FROM vocab
), ll AS (
  SELECT w, round(ln(CAST(v.cnt AS DOUBLE) / total.n), 9) AS ll
  FROM vocab v, total
)
SELECT t.doc_id,
       round(CAST(SUM(CAST(ll.ll AS DECIMAL(38,18))) AS DOUBLE)
             / COUNT(ll.ll), 6) AS avg_logprob,
       count(*) AS n_tokens
FROM tok t JOIN ll ON t.w = ll.w
GROUP BY t.doc_id
"""


@query("t13_unigram_logprob", oracle=T13_ORACLE)
def t13_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("w"))
    vocab = tok.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    # Fold the scalar total into the SMALL side before broadcasting, so
    # the exploded fact side crosses exactly one BroadcastHashJoin —
    # joining the 1-row total against the fact side instead would add a
    # (cheap but pointless) nested-loop pass over every token.
    total = vocab.agg(F.sum("cnt").alias("n"))
    from ..functions.deterministic import davg

    logprobs = vocab.crossJoin(total).select(
        "w",
        F.round(
            F.log(F.col("cnt").cast("double") / F.col("n")), 9
        ).alias("ll"),
    )
    scored = tok.join(F.broadcast(logprobs), "w").select("doc_id", "ll")
    return scored.groupBy("doc_id").agg(
        F.round(davg(F.col("ll"), 38, 18), 6).alias("avg_logprob"),
        F.count(F.lit(1)).alias("n_tokens"),
    )


# ---------------------------------------------------------------------------
# T14 — TF-IDF keyword extraction: top-3 most characteristic tokens
# per document, score = tf(doc, w) * ln(N_docs / df(w)). The standard
# corpus-relative salience measure (Sparck Jones 1972) used in
# training-data pipelines for topic tagging / domain labeling.
#
# Scale shape: tf is ONE shuffle on near-unique (doc_id, token) keys
# (uniform, skew-free); df is a vocabulary-sized aggregate whose
# result is BROADCAST back to the fact side (Heaps' law keeps
# vocabularies executor-RAM-sized at 100 TB — same argument as T13,
# which shares the broadcast-vocab pattern); the scalar N_docs is
# folded into the broadcast side before the join, so the exploded
# corpus crosses exactly one BroadcastHashJoin and never re-shuffles.
# Final per-doc top-3 is a window on doc_id — the same partitioning
# the tf shuffle already established.
#
# Determinism: ranking orders by ROUND(score, 6) with a token
# tie-break, so both engines pick identical top-k sets (fixture texts
# are word soup with many tied scores — the tie-break carries most of
# the ordering).
# ---------------------------------------------------------------------------

TFIDF_TOP_K = 3

T14_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
), tf AS (
  SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token
), df AS (
  SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY token
), n AS (
  SELECT count(*) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.token,
         round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS score
  FROM tf JOIN df USING (token) CROSS JOIN n
)
SELECT doc_id, token, score, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, token) AS rank
  FROM scored
) WHERE rank <= {TFIDF_TOP_K}
"""


@query("t14_tfidf_keywords", oracle=T14_ORACLE)
def t14_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:

    docs = table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    # Document frequency DERIVED FROM tf — its rows are exactly the
    # distinct (doc, token) pairs, so df(token) is a plain row count
    # per token (vs count_distinct over the raw token stream: no
    # Expand, and the df aggregate reads |tf| rows, not |tokens|).
    # tf still plans twice statically (Catalyst shares no subtrees
    # across consumers); at 100 TB materialize tf explicitly (d11's
    # checkpoint pattern) — measured at bench scale the checkpoint
    # costs more than the duplicate tokenize (1.35s vs 1.02s), so
    # the cutover belongs at the scale where tokenize dominates.
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    # Fold the scalar corpus size into the SMALL (vocabulary) side
    # before broadcasting — the tf side crosses one broadcast join.
    idf = df_.crossJoin(n_docs).select(
        "token",
        F.log(F.col("n_docs").cast("double") / F.col("df")).alias("idf"),
    )
    scored = tf.join(F.broadcast(idf), "token").select(
        "doc_id",
        "token",
        F.round(F.col("tf") * F.col("idf"), 6).alias("score"),
    )
    w = W.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOP_K)
        .select("doc_id", "token", "score", "rank")
    )


# ---------------------------------------------------------------------------
# T15 — domain mixture weights: per-(source, lang) token share of the
# corpus plus the temperature-flattened sampling weight (alpha=0.7)
# every multi-domain pre-training run derives before sampling (the
# mixture-reweighting step in GPT-3/PaLM-style pipelines; cf. the
# alpha-smoothed multinomial in XLM-R, Conneau et al. 2020).
#
# Scale shape: one map-side token count per row (no explode — token
# count is size(split(...)), pure codegen), one small groupBy on
# (source, lang) whose output is domain-cardinality-sized (tens), and
# the normalization constants fold in via a 1-row cross join on the
# already-tiny aggregate. At 100 TB this is a single scan + one
# near-free shuffle of partial sums.
#
# Determinism: weights are ratios of exact integer token counts,
# rounded at 6 dp; pow() on identical doubles is bit-stable across
# libm implementations at this precision.
# ---------------------------------------------------------------------------

MIX_ALPHA = 0.7

T15_ORACLE = f"""
WITH per_domain AS (
  SELECT source, lang,
         count(*) AS n_docs,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source, lang
), tot AS (
  SELECT sum(n_tokens) AS corpus_tokens,
         sum(pow(CAST(n_tokens AS DOUBLE) / (SELECT sum(n_tokens) FROM per_domain),
                 {MIX_ALPHA})) AS z
  FROM per_domain
)
SELECT source, lang, n_docs, n_tokens,
       round(CAST(n_tokens AS DOUBLE) / tot.corpus_tokens, 6) AS token_share,
       round(pow(CAST(n_tokens AS DOUBLE) / tot.corpus_tokens, {MIX_ALPHA}) / tot.z,
             6) AS sample_weight
FROM per_domain CROSS JOIN tot
"""


@query("t15_domain_mixture", oracle=T15_ORACLE)
def t15_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:

    docs = table(spark, sf_dir, "documents")
    per_domain = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens("text"))).alias("n_tokens"),
    )
    # Normalization constants (corpus total, temperature partition
    # function z) as GLOBAL WINDOW sums over the domain-cardinality
    # aggregate — not scalar-aggregate cross joins, which would plan
    # per_domain (and therefore the full corpus scan) once per
    # constant. This way the 100 TB corpus is scanned exactly once;
    # the unpartitioned windows run over a tens-of-rows relation
    # where single-partition execution is free.
    everything = W.partitionBy()
    share = F.col("n_tokens").cast("double") / F.sum("n_tokens").over(everything)
    scored = per_domain.withColumn("token_share_raw", share).withColumn(
        "raw_w", F.pow(F.col("token_share_raw"), F.lit(MIX_ALPHA))
    )
    return scored.select(
        "source",
        "lang",
        "n_docs",
        "n_tokens",
        F.round("token_share_raw", 6).alias("token_share"),
        F.round(F.col("raw_w") / F.sum("raw_w").over(everything), 6).alias(
            "sample_weight"
        ),
    )


# ---------------------------------------------------------------------------
# T16 — one-pass corpus profile (the "dataset card" numbers): corpus
# size, token volume, mean quality, exact-dup rate, language and
# source cardinalities — the summary block every dataset release
# ships, computed as ONE scalar aggregate over ONE scan. The point is
# the shape: profiling a 100 TB corpus must not run one job per
# statistic (the reference-style script-per-metric pattern); Spark
# folds all of these into a single pass with map-side partials, and
# the distinct counts ride the same pass as approx_count_distinct
# twins would at production scale (exact here, at fixture scale, so
# the oracle can match).
#
# Determinism: counts are exact; the quality mean is davg (exact
# DECIMAL sum / count). n_distinct_texts uses the md5 digest — same
# convention as d02/p02. It is the one distinct aggregate: the
# bounded lang and source domains are counted as size(collect_set),
# because several distinct aggregates plan an Expand whose group
# numbering follows fresh expression ids, so warm calls recompiled
# their generated code.
# ---------------------------------------------------------------------------

T16_ORACLE = f"""
SELECT count(*) AS n_docs,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
       round(CAST(SUM(CAST({QUALITY_SQL} AS DECIMAL(18,6))) AS DOUBLE)
             / count(*), 6) AS avg_quality,
       count(DISTINCT md5(text)) AS n_distinct_texts,
       count(DISTINCT lang) AS n_langs,
       count(DISTINCT source) AS n_sources
FROM documents
"""


@query("t16_corpus_profile", oracle=T16_ORACLE)
def t16_corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens("text"))).alias("n_tokens"),
        F.round(
            F.sum(quality_expr().cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_quality"),
        F.count_distinct(F.md5("text")).alias("n_distinct_texts"),
        F.size(F.collect_set("lang")).cast("long").alias("n_langs"),
        F.size(F.collect_set("source")).cast("long").alias("n_sources"),
    )


# ---------------------------------------------------------------------------
# T17 — leakage-safe train/valid/test split assignment: the split is a
# pure function of the DUPLICATE-GROUP key, not the doc id, so every
# variant of a duplicate lands in the same split — assigning by doc id
# leaks near-copies of training documents into eval sets (the standard
# contamination failure; cf. t09's n-gram decontamination, which
# guards against EXTERNAL benchmarks while this guards the corpus's
# own split). Group carrier is d09's canonical-form digest (shared
# canon_key_expr); at 100 TB the identical code runs keyed on d06's
# near-dup component_id — shape unchanged (one map-side digest, no
# shuffle at all: the split is a scalar function of the key).
#
# The 16-way bucket comes from the digest's first hex character —
# pure string comparison, so Spark and DuckDB agree byte-for-byte
# with no cross-engine integer-parsing concerns: 0-c → train (13/16),
# d → valid, e-f → test (2/16). Deterministic forever: re-running on
# a grown corpus never reassigns an existing document.
# ---------------------------------------------------------------------------


def _t17_oracle() -> str:
    from .dedup import CANON_KEY_SQL

    return f"""
WITH keyed AS (
  SELECT doc_id, {CANON_KEY_SQL} AS group_key FROM documents
)
SELECT doc_id, group_key,
       CASE WHEN substr(group_key, 1, 1) <= 'c' THEN 'train'
            WHEN substr(group_key, 1, 1) = 'd' THEN 'valid'
            ELSE 'test' END AS split
FROM keyed
"""


T17_ORACLE = _t17_oracle()


@query("t17_leakage_safe_split", oracle=T17_ORACLE)
def t17_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import canon_key_expr

    docs = table(spark, sf_dir, "documents")
    keyed = docs.select("doc_id", canon_key_expr().alias("group_key"))
    first = F.substring("group_key", 1, 1)
    return keyed.select(
        "doc_id",
        "group_key",
        F.when(first <= "c", F.lit("train"))
        .when(first == "d", F.lit("valid"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


# ---------------------------------------------------------------------------
# T18 — two-pass heavy hitters (frequent tokens above a frequency
# share): candidate generation is PER-BATCH local counting inside
# Arrow batches — zero shuffle — keeping only tokens whose local
# count exceeds n_batch/(K+1). Pigeonhole losslessness: if a token's
# GLOBAL count exceeds n/(K+1) then in at least one batch its local
# count exceeds that batch's share (the batches partition the
# corpus), so the candidate union is a provable superset of every
# true heavy hitter — same argument family as d03's prefix filter.
# Pass two verifies candidates EXACTLY: the token stream is filtered
# by the broadcast candidate set before the only shuffle, so the
# exchange carries O(candidate occurrences), not the whole vocabulary
# — at 100 TB that is the difference between shuffling every token
# occurrence and shuffling only the heads'. Output = exact counts of
# tokens with count·(K+1) > n — deterministic regardless of how the
# candidate stage was partitioned, which is why a full differential
# oracle applies even though candidate generation is partition-
# dependent. Integer threshold arithmetic (count·(K+1) > n), no
# division, so the boundary is exact in both engines.
# ---------------------------------------------------------------------------

HH_K = 200  # heavy hitter = frequency share above 1/(K+1)

T18_ORACLE = f"""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents
)
SELECT w AS token, CAST(COUNT(*) AS BIGINT) AS n_occurrences
FROM tok
GROUP BY w
HAVING COUNT(*) * {HH_K + 1} > (SELECT COUNT(*) FROM tok)
"""


@query("t18_heavy_hitters", oracle=T18_ORACLE)
def t18_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(F.split("text", " ")).alias("w"))
    k = HH_K

    def local_candidates(w):
        import pyarrow as _pa
        import pyarrow.compute as _pc

        counts = _pc.value_counts(_pa.array(w, _pa.string())).flatten()
        heavy = _pc.greater(_pc.multiply(counts[1], k + 1), len(w))
        return (counts[0].filter(heavy),)

    candidates = map_batches(tok, local_candidates, "w string").distinct()
    total = tok.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        tok.join(F.broadcast(candidates), "w", "left_semi")
        .groupBy(F.col("w").alias("token"))
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("n_occurrences") * (k + 1) > F.col("n_total"))
        .select("token", "n_occurrences")
    )


# ---------------------------------------------------------------------------
# T19 — bigram language-model scoring: train an add-one-smoothed
# bigram LM on the corpus itself and score each document by its
# average negative log-likelihood — the classic KenLM-shaped quality
# filter (high avg NLL ⇒ the document's word transitions are unlike
# the corpus ⇒ boilerplate junk, mojibake, or off-domain text gets
# culled before training). Complements t13's unigram logprob with
# actual SEQUENCE structure: word ORDER matters here, so shuffled
# word soup scores worse than fluent text over the same vocabulary.
#
# Model: P(w2|w1) = (c(w1,w2)+1) / (c(w1,·)+V), add-one smoothing
# over the bigram table; score(doc) = avg over its bigrams of
# −ln P. Bigrams come from ORDERED adjacent token pairs (zip_with of
# two array slices — pure codegen, no explode-then-self-join).
#
# Scale shape (the t13/t14 pattern): the bigram-count table is ONE
# uniform-key shuffle; the model (bigram lls) is vocabulary²-bounded
# in principle but Heaps-law-sized in practice and BROADCAST to the
# fact side, the scalar V folded into the small side pre-broadcast
# so the exploded corpus crosses exactly one BroadcastHashJoin;
# per-doc scoring is a groupBy on doc_id. Corpora whose bigram table
# outgrows broadcast switch that one join to shuffle — same plan
# otherwise. Determinism: ln on identical rationals + round-6 avg
# (the t13 precedent, hash-stable across engines).
# ---------------------------------------------------------------------------

T19_ORACLE = """
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), bg AS (
  -- derived bound, not a literal cap (the m10-oracle rule): a doc
  -- longer than any fixed constant must not silently truncate the
  -- oracle's bigram set while Spark computes all of them
  SELECT doc_id, ws[CAST(i - 1 AS INT)] AS w1, ws[CAST(i AS INT)] AS w2
  FROM tok CROSS JOIN (SELECT unnest(range(2, (
    SELECT CAST(coalesce(max(len(ws)), 1) + 1 AS BIGINT) FROM tok))) AS i)
  WHERE i <= len(ws)
), bc AS (
  SELECT w1, w2, count(*) AS cnt FROM bg GROUP BY w1, w2
), lc AS (
  SELECT w1, sum(cnt) AS lcnt FROM bc GROUP BY w1
), v AS (
  SELECT count(DISTINCT w) AS vsize
  FROM (SELECT unnest(ws) AS w FROM tok)
), ll AS (
  SELECT bc.w1, bc.w2,
         round(-ln((CAST(bc.cnt AS DOUBLE) + 1)
                   / (CAST(lc.lcnt AS DOUBLE) + v.vsize)), 9) AS nll
  FROM bc JOIN lc USING (w1) CROSS JOIN v
)
SELECT bg.doc_id,
       round(CAST(SUM(CAST(ll.nll AS DECIMAL(38,18))) AS DOUBLE)
             / COUNT(ll.nll), 6) AS avg_nll,
       count(*) AS n_bigrams
FROM bg JOIN ll ON bg.w1 = ll.w1 AND bg.w2 = ll.w2
GROUP BY bg.doc_id
"""


@query("t19_bigram_lm_score", oracle=T19_ORACLE)
def t19_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    bigrams = F.zip_with(
        F.slice(ws, 1, F.size(ws) - 1),
        F.slice(ws, 2, F.size(ws) - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    bg = docs.select("doc_id", F.explode(bigrams).alias("p")).select(
        "doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    bc = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cnt"))
    lc = bc.groupBy("w1").agg(F.sum("cnt").alias("lcnt"))
    vsize = (
        docs.select(F.explode(ws).alias("w"))
        .agg(F.countDistinct("w").alias("vsize"))
    )
    # scalar V folded into the SMALL (model) side before broadcast —
    # the t13 pattern keeping the fact side to one BroadcastHashJoin.
    # Per-bigram NLL is rounded to 9 and the per-doc mean accumulates
    # through exact DECIMAL (davg) — a plain avg(double) would
    # re-introduce cross-engine summation-order noise at the round-6
    # boundary (deterministic.py's warning).
    from ..functions.deterministic import davg

    model = (
        bc.join(lc, "w1")
        .crossJoin(F.broadcast(vsize))
        .select(
            "w1",
            "w2",
            F.round(
                -F.log(
                    (F.col("cnt").cast("double") + 1)
                    / (F.col("lcnt").cast("double") + F.col("vsize"))
                ),
                9,
            ).alias("nll"),
        )
    )
    return (
        bg.join(F.broadcast(model), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.round(davg(F.col("nll"), 38, 18), 6).alias("avg_nll"),
            F.count(F.lit(1)).alias("n_bigrams"),
        )
    )


# ---------------------------------------------------------------------------
# T20 — Zipf-law fit of the corpus token-frequency distribution via
# the SQL:2023 linear-regression aggregates (regr_slope /
# regr_intercept / regr_r2 — the aggregate-family member q34's
# corr/covar does not cover): slope of ln(freq) on ln(rank), the
# dataset-card statistic that says HOW head-heavy a corpus is (a
# natural-language corpus fits ≈ −1; this fixture's 31-word soup fits
# r² ≈ 0.06 — honestly not Zipfian, the same dup-dense pathology the
# scaling playbook documents). Per-token degenerate-fit traps
# (single-point regressions) don't arise: the fit is ONE global
# regression over the vocabulary.
#
# Scale: the frequency aggregate is map-side-partial over corpus
# tokens; the rank window then sorts |vocabulary| rows — Heaps-
# sublinear in corpus size, NOT corpus rows — in one partition, and
# the regression is a scalar aggregate. ln/round-6 is the t13/t14
# float-determinism contract.
# ---------------------------------------------------------------------------

T20_ORACLE = """
WITH f AS (
  SELECT w, COUNT(*) AS n
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  GROUP BY w
), r AS (
  SELECT n, row_number() OVER (ORDER BY n DESC, w) AS rank FROM f
)
SELECT round(regr_slope(ln(n), ln(rank)), 6) AS zipf_slope,
       round(regr_intercept(ln(n), ln(rank)), 6) AS zipf_intercept,
       round(regr_r2(ln(n), ln(rank)), 6) AS zipf_r2,
       CAST(count(*) AS BIGINT) AS n_terms
FROM r
"""


@query("t20_zipf_fit", oracle=T20_ORACLE)
def t20_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T20 — Zipf-law fit (regr_slope/intercept/r2 over ln-ln
    rank-frequency): one global regression over the vocabulary; the
    rank window sorts |vocab| rows (Heaps-sublinear), never corpus
    rows."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split("text", " ")).alias("w"))
    freq = toks.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    ranked = freq.withColumn(
        "rank",
        F.row_number().over(W.orderBy(F.col("n").desc(), F.col("w"))),
    )
    return ranked.agg(
        F.round(F.regr_slope(F.log("n"), F.log("rank")), 6).alias(
            "zipf_slope"
        ),
        F.round(F.regr_intercept(F.log("n"), F.log("rank")), 6).alias(
            "zipf_intercept"
        ),
        F.round(F.regr_r2(F.log("n"), F.log("rank")), 6).alias("zipf_r2"),
        F.count(F.lit(1)).alias("n_terms"),
    )


# ---------------------------------------------------------------------------
# T21 — overlapping context-window chunking: split each document's
# token stream into fixed-size windows with a stride (the RAG /
# long-context pre-training chunker — the complement of T10's
# packing: T10 concatenates SHORT docs into budget-sized sequences,
# T21 splits LONG docs into window-sized pieces with overlap so no
# boundary context is lost). A chunk starts every STRIDE tokens; a
# chunk is emitted only while it contributes at least one NEW token
# (n_chunks = 1 + ceil((n_tok - WINDOW)/STRIDE) for n_tok > WINDOW,
# else 1), so the tail is never a pure subset of its predecessor.
# The sliced CONTENT is verified, not just the arithmetic: chunk_md5
# hashes the space-rejoined token slice, and Spark's slice(arr,
# start, len) and DuckDB's list_slice(l, start, start+len-1) share
# 1-based clamping semantics, so a fencepost bug on either side
# hash-fails.
#
# Scale: pure map-side — explode(sequence(0, n_chunks-1)) fans each
# doc out to its chunk rows inside the same task, no shuffle, no
# window, whole-stage codegen end to end; expansion factor is
# bounded by max_doc_tokens/STRIDE. At 100 TB this is the shape you
# want: chunking parallelism equals scan parallelism, and the output
# can stream straight into a sized parquet sink (O9). Reference has
# no text surface (SURVEY §2.2); [EXT] per §2.3.
# ---------------------------------------------------------------------------

CHUNK_WINDOW = 32
CHUNK_STRIDE = 24  # 8-token overlap

T21_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS tok,
         len(string_split(text, ' ')) AS n_tok
  FROM documents
),
counted AS (
  SELECT *,
         1 + CASE WHEN n_tok > {CHUNK_WINDOW}
                  THEN (n_tok - {CHUNK_WINDOW} + {CHUNK_STRIDE} - 1)
                       // {CHUNK_STRIDE}
                  ELSE 0 END AS n_chunks
  FROM toks
)
SELECT doc_id,
       CAST(i AS BIGINT) AS chunk_idx,
       CAST(i * {CHUNK_STRIDE} AS BIGINT) AS tok_start,
       CAST(least({CHUNK_WINDOW}, n_tok - i * {CHUNK_STRIDE}) AS BIGINT)
         AS chunk_len,
       md5(array_to_string(
             list_slice(tok, i * {CHUNK_STRIDE} + 1,
                        i * {CHUNK_STRIDE} + {CHUNK_WINDOW}), ' '))
         AS chunk_md5
FROM counted,
     LATERAL (SELECT unnest(generate_series(0, n_chunks - 1)) AS i)
"""


def chunk_documents(docs: DataFrame) -> DataFrame:
    """The t21 chunking transform over any DataFrame with (doc_id,
    text) — STATELESS and map-side, so the identical plan runs under
    ``readStream`` (st10 certifies batch≡stream on the same oracle:
    Structured Streaming's unification claim, applied to the
    continuously-ingested-corpus case)."""
    toks = tokens("text")
    base = docs.select(
        "doc_id", toks.alias("tok"), F.size(toks).alias("n_tok")
    )
    # integer ceil-div via `div` (exact BIGINT arithmetic; a double
    # divide + floor would also work here but `div` matches the
    # oracle's `//` by construction — the t10 lesson).
    n_chunks = F.when(
        F.col("n_tok") > CHUNK_WINDOW,
        F.expr(
            f"1 + ((n_tok - {CHUNK_WINDOW} + {CHUNK_STRIDE} - 1)"
            f" div {CHUNK_STRIDE})"
        ),
    ).otherwise(F.lit(1))
    fanned = base.select(
        "doc_id",
        "tok",
        "n_tok",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("i"),
    )
    tok_start = F.col("i") * CHUNK_STRIDE
    return fanned.select(
        "doc_id",
        F.col("i").cast("long").alias("chunk_idx"),
        tok_start.cast("long").alias("tok_start"),
        F.least(F.lit(CHUNK_WINDOW), F.col("n_tok") - tok_start)
        .cast("long")
        .alias("chunk_len"),
        F.md5(
            F.concat_ws(
                " ", F.slice(F.col("tok"), tok_start + 1, CHUNK_WINDOW)
            )
        ).alias("chunk_md5"),
    )


@query("t21_context_chunking", oracle=T21_ORACLE)
def t21_context_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T21 — overlapping window/stride chunking; content-verified via
    md5 of each token slice. Map-side only (see block comment)."""
    return chunk_documents(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# T22 — BPE merge learning (tokenizer training): N iterations of
# count-adjacent-symbol-pairs → merge the most frequent pair
# (Sennrich et al., the byte-pair-encoding vocabulary learner every
# LLM tokenizer starts from). Words start as character sequences;
# each iteration counts adjacent pairs weighted by corpus word
# frequency, picks argmax (count desc, then (left, right) in
# code-point order — the UTF-8 byte order DuckDB sorts strings in),
# and applies the merge left-to-right non-overlapping to every word.
#
# The merge application trick that keeps the learner, the encode
# kernel and the oracle lockstep: a word's symbols are held as a
# double-space-joined string with single-space sentinels
# ('  a  b  c  '), so merging pair (l, r) is EXACTLY one literal
# replace(' l  r ', ' lr ') — replace() scans left-to-right
# non-overlapping in Python and DuckDB alike, the double-space delimiter
# makes matches symbol-boundary-safe ('ab c' can't match pair
# (b, c)), and consecutive merge sites work because each match
# consumes one space of each flanking double space, leaving the
# boundary halves to reconstitute ('  a  b  a  b  ' → '  ab  ab  ';
# overlap '  a  a  a  ' with (a, a) → '  aa  a  ' — verified
# against a pure-Python BPE reference in tests).
#
# Scale: the corpus is scanned ONCE, on Spark — the vocabulary
# groupBy, the only step that grows with the corpus (partial-agged
# map-side). The Heaps-sublinear vocabulary (~|V| rows) is collected
# once, bounded by BPE_MAX_VOCAB (a larger vocabulary fails loud,
# the st11 bounded-collect pattern), and the merges are learned on
# the driver as in Sennrich et al.'s learner: pair counts are built
# once, and after each merge only the words containing the merged
# pattern are recounted. Learning costs the vocabulary's jobs only,
# whatever `iters` is. Reference has no text surface (SURVEY §2.2);
# [EXT] per §2.3.
# ---------------------------------------------------------------------------

BPE_ITERS = 3
BPE_MAX_VOCAB = 1_000_000  # distinct words collected to the driver


def _t22_oracle(iters: int = BPE_ITERS) -> str:
    layers = []
    for i in range(1, iters + 1):
        prev = f"sym{i - 1}"
        layers.append(f"""
pairs{i} AS (
  SELECT lst[j] AS l, lst[j+1] AS r, SUM(wc) AS cnt
  FROM (SELECT wc, string_split(trim(rep), '  ') AS lst FROM {prev})
     , LATERAL (SELECT unnest(generate_series(1, len(lst)-1)) AS j)
  GROUP BY 1, 2
),
best{i} AS (
  SELECT {i} AS iteration, l AS left_sym, r AS right_sym,
         l || r AS merged_sym, CAST(cnt AS BIGINT) AS pair_count
  FROM pairs{i} ORDER BY cnt DESC, l, r LIMIT 1
),
sym{i} AS (
  SELECT wc, replace(rep, ' ' || b.left_sym || '  ' || b.right_sym || ' ',
                          ' ' || b.merged_sym || ' ') AS rep
  FROM {prev}, best{i} b
)""")
    finals = " UNION ALL ".join(
        f"SELECT * FROM best{i}" for i in range(1, iters + 1)
    )
    return (
        """
WITH vocab AS (
  SELECT w AS word, COUNT(*) AS wc
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  GROUP BY w
),
sym0 AS (
  SELECT wc,
         '  ' || array_to_string(string_split(word, ''), '  ') || '  '
           AS rep
  FROM vocab
),"""
        + ",".join(layers)
        + f"\n{finals}"
    )


T22_ORACLE = _t22_oracle()


def _symbols(word: str) -> str:
    """``'  a  b  c  '``: one symbol per code point, double-space
    delimited, byte-identical to the oracle's ``sym0`` rep."""
    return "  " + "  ".join(word) + "  "


def _learn_merges(
    vocab: Iterable[tuple[str, int]], iters: int
) -> list[tuple[int, str, str, str, int]]:
    """Learn ``iters`` merges from ``(word, count)`` pairs on the driver.

    Each word is held as its ``_symbols`` string and a merge is the
    literal ``str.replace(' l  r ', ' lr ')`` the oracle and
    ``bpe_encode`` apply. Pair counts are built once; after
    each merge only the words containing the merged pattern are
    recounted (Sennrich et al.'s incremental update). The argmax order
    (count desc, left, right) compares ``str`` by code point, which is
    the UTF-8 byte order Spark and DuckDB sort strings in."""
    words = [(_symbols(w), wc) for w, wc in vocab]
    counts: collections.Counter[tuple[str, str]] = collections.Counter()

    def add(rep: str, wc: int) -> None:
        syms = rep.strip(" ").split("  ")
        for pair in zip(syms, syms[1:]):
            counts[pair] += wc
            if not counts[pair]:
                del counts[pair]

    for rep, wc in words:
        add(rep, wc)

    merges: list[tuple[int, str, str, str, int]] = []
    for i in range(1, iters + 1):
        if not counts:
            # every word fully merged before `iters` ran out — fail
            # loud: the oracle unrolls exactly `iters` layers, so
            # returning fewer merges would silently diverge from it.
            raise ValueError(
                f"BPE learning exhausted all adjacent pairs at "
                f"iteration {i} of {iters}; lower `iters` to at most "
                f"{i - 1} for this corpus"
            )
        (lft, rgt), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((i, lft, rgt, lft + rgt, cnt))
        pat, sub = f" {lft}  {rgt} ", f" {lft}{rgt} "
        for k, (rep, wc) in enumerate(words):
            if pat in rep:
                add(rep, -wc)
                rep = rep.replace(pat, sub)
                add(rep, wc)
                words[k] = (rep, wc)
    return merges


def learn_bpe_merges(
    docs: DataFrame, iters: int = BPE_ITERS
) -> list[tuple[int, str, str, str, int]]:
    """The t22 learner, factored so t23 (encode) applies the SAME
    learned table. Counts the vocabulary on Spark, collects it once
    (at most ``BPE_MAX_VOCAB`` words) and learns on the driver.
    Returns [(iteration, left, right, merged, pair_count)]."""
    vocab = (
        docs.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wc"))
        .limit(BPE_MAX_VOCAB + 1)
        .collect()
    )
    if len(vocab) > BPE_MAX_VOCAB:
        raise ValueError(
            f"BPE learning: the corpus vocabulary exceeds "
            f"BPE_MAX_VOCAB={BPE_MAX_VOCAB} distinct words; the merge "
            f"table is learned on the driver from the collected "
            f"vocabulary"
        )
    return _learn_merges(vocab, iters)


@query("t22_bpe_merges", oracle=T22_ORACLE)
def t22_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T22 — N-iteration BPE merge-table learning (see block comment;
    merge pairs are bounded driver state, one row per iteration)."""
    merges = learn_bpe_merges(table(spark, sf_dir, "documents"))
    return spark.createDataFrame(
        merges,
        "iteration int, left_sym string, right_sym string, "
        "merged_sym string, pair_count long",
    )


# ---------------------------------------------------------------------------
# T23 — BPE encode (tokenizer APPLICATION): tokenize every document
# with the merge table t22 just learned — the learn→apply pair that
# completes the tokenizer story (and the realistic way token budgets
# are computed for packing/chunking once a real tokenizer exists,
# vs t03's whitespace/regex proxies).
#
# The encode is ONE map-side pass: the document is rendered into the
# same double-space symbol encoding, with '|' marking word
# boundaries — '|' must not be a vocabulary character (ENFORCED, see
# below), and a learned pair (l, r) can only match ' l  r ', so
# merges can never cross a word boundary (BPE's contract) — then
# each merge is applied in learned order as a literal replace. No
# join, no shuffle: the learned table rides the kernel closure (see
# bpe_encode's docstring for the byte-identity evidence). Outputs are
# content-verified: md5 of the full encoded symbol stream, plus the
# post-merge symbol count.
#
# The boundary rendering is built from the SAME token array the
# oracle uses (split(text,' ') → per-word char split → join with
# '  |  ') rather than translate(' '→'|') over the raw text: on
# consecutive spaces the translate form emits one pipe per space
# (' a  |  |  b  ') while the oracle's string_split path renders the
# empty token between them ('a  |    |  b') — a latent hash
# divergence the single-spaced fixture would mask. Both engines agree
# char-split('')→[''] joins to '' and split('a  b',' ')→['a','','b'],
# verified empirically, so empty tokens take the identical path on
# both sides.
#
# The '|' sentinel assumption is enforced, not assumed:
# a literal '|' in document text would be indistinguishable from a
# word boundary IDENTICALLY in both engines — the differential
# certification cannot catch it — so the encode fails loud instead:
# a zero-extra-job row-level raise_error when any document contains
# '|', plus a free driver-side check that no learned merge symbol
# contains '|'.
#
# Scale: learning = t22 (one corpus scan + one bounded vocabulary
# collect, merges learned on the driver); encoding = one additional
# map-side scan at scan parallelism. At
# 100 TB the encode pass is embarrassingly parallel and
# sink-streamable; the Arrow kernel amortizes its per-task setup over
# every batch in the partition.
# ---------------------------------------------------------------------------


def _t23_oracle(iters: int = BPE_ITERS) -> str:
    # reuse the t22 chain (vocab → sym/pairs/best CTEs), then encode
    # the documents with the bestN rows applied in iteration order.
    chain = (
        _t22_oracle(iters).rsplit("SELECT * FROM best1", 1)[0].rstrip()
        + ",\n"
    )
    inner = (
        "' ' || array_to_string(list_transform(string_split(text, ' '),"
        " w -> array_to_string(string_split(w, ''), '  ')), '  |  ')"
        " || '  '"
    )
    expr = inner
    for i in range(1, iters + 1):
        expr = (
            f"replace({expr}, ' ' || b{i}.left_sym || '  ' || "
            f"b{i}.right_sym || ' ', ' ' || b{i}.merged_sym || ' ')"
        )
    froms = ", ".join(f"best{i} b{i}" for i in range(1, iters + 1))
    return (
        chain
        + f"""encoded AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_ws_tokens,
         {expr} AS rep
  FROM documents, {froms}
)
SELECT doc_id,
       CAST(n_ws_tokens AS BIGINT) AS n_ws_tokens,
       CAST(len(string_split(trim(rep), '  ')) - (n_ws_tokens - 1)
            AS BIGINT) AS n_bpe_symbols,
       md5(trim(rep)) AS encoded_md5
FROM encoded"""
    )


T23_ORACLE = _t23_oracle()


def bpe_encode(
    docs: DataFrame, merges: list[tuple[int, str, str, str, int]]
) -> DataFrame:
    """Apply a learned merge table to every document — t23's transform,
    factored so the property net can drive it at arbitrary merge depth.
    One map-side pass; merges ride the kernel closure.

    The encode is a Python row kernel (``map_rows``) — per doc, the
    boundary rendering (' a  b  |  c  d  ', built by joining each word's
    codepoints with '  ': Python str iteration walks codepoints
    exactly like the learner's ``_symbols`` and the oracle's
    string_split), then each merge as ``str.replace`` (left-to-right
    non-overlapping — Java ``replace`` semantics), then
    ``hashlib.md5`` over UTF-8 (≡ Spark ``md5``). BYTE-IDENTICAL to
    a codegen regexp_replace expression chain (tests/test_bpe.py
    compares the two row for row) and md5-pinned by the t23 oracle;
    the kernel is faster, 0.736s → 0.639s median in a same-session
    paired A/B (the per-char regexp_replace capture group is the
    chain's cost). NULL text yields NULL metrics, as
    size(NULL)/md5(NULL) would.

    The '|' sentinel guard keeps both halves: the free driver-side
    merge-symbol check below, and a row-level raise inside the
    kernel."""
    if any("|" in (lft + rgt) for _, lft, rgt, _m, _c in merges):
        # free driver-side half of the sentinel guard (block comment)
        raise ValueError(
            "t23: a learned merge symbol contains the '|' boundary "
            "sentinel; encode would merge across word boundaries"
        )
    pats = [
        (f" {lft}  {rgt} ", f" {merged} ")
        for _, lft, rgt, merged, _cnt in merges
    ]

    def enc(text):
        if text is None:
            return [(None, None, None)]
        if "|" in text:
            raise RuntimeError(
                "t23: document text contains the '|' word-boundary "
                "sentinel; the encode would be ambiguous"
            )
        words = text.split(" ")
        rep = " " + "  |  ".join("  ".join(w) for w in words) + "  "
        for a, b in pats:
            rep = rep.replace(a, b)
        stripped = rep.strip(" ")
        return [
            (
                len(words),
                len(stripped.split("  ")) - (len(words) - 1),
                hashlib.md5(stripped.encode("utf-8")).hexdigest(),
            )
        ]

    return map_rows(
        docs.select("doc_id", "text"),
        enc,
        "n_ws_tokens long, n_bpe_symbols long, encoded_md5 string",
    )


@query("t23_bpe_encode", oracle=T23_ORACLE)
def t23_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T23 — encode documents with t22's learned merges (see block
    comment; learn→apply via the factored bpe_encode)."""
    docs = table(spark, sf_dir, "documents")
    return bpe_encode(docs, learn_bpe_merges(docs))


# ---------------------------------------------------------------------------
# T24 — MODEL-BASED quality-classifier inference: the DCLM / FineWeb-Edu
# stage (a trained fastText-style linear classifier scores every
# document; docs above the decision threshold are kept). The catalog's
# existing quality signals are heuristics (t02 rule blend, t13/t19 LM
# perplexity stand-ins); this id runs a trained model's inference.
#
# Model shape (fastText, Joulin et al. 2016, public): hashed uni+bigram
# features → weight lookup → sum → sigmoid. The WEIGHT VECTOR is what a
# training run produces; here it is derived deterministically from the
# bucket index (w[b] = (b·2654435761) % 2003 − 1001, integers) so the
# DuckDB oracle can recompute it exactly — the catalog's determinism
# discipline (cf. s09's integer-lattice codebooks). The Spark side still
# exercises the PRODUCTION plumbing: the vector rides a ONE-ROW
# broadcast (models are MBs; the corpus is the 100 TB side — the same
# structural asymmetry as p09's eval grams), and inference is a pure
# map-side expression (hash → element_at → aggregate) inside
# whole-stage codegen: ZERO shuffles, no UDF. Swapping in real trained
# weights changes only the one-row literal, not the plan.
#
# Feature hash = the 60-bit md5 prefix (d05's cross-engine token hash:
# Spark conv(substr(md5,1,15),16,10) ≡ DuckDB ('0x'||substr)::BIGINT),
# bucketed mod 256. Output contract: exact-integer (n_features, logit)
# plus the boolean decision label (sigmoid is monotone, so
# logit > 0 ⟺ p > 0.5 — the classification is exact without ever
# materializing a float; consumers needing the probability compute
# sigmoid(logit/n_features·scale) themselves — the p09 no-ratio rule).
# ---------------------------------------------------------------------------

# Scale-cost note (measured): this expression-only form pays
# ~60 µs/feature — Catalyst evaluates higher-order functions
# interpreted with per-element boxed allocation, and md5's
# hex-string → substring → conv(16,10) BigInteger path allocates per
# feature. Forced-evaluation x10/x100 rows live in
# SCALE_REHEARSAL.json (t24_classifier_x100).
# The form is kept deliberately: one pass, no Python, and the
# correctness certificate is the point. A pipeline applying this at
# 100 TB should lift the bucketing into p11's value-identical Arrow
# kernel (pipeline._dsir_buckets — equality pinned in
# test_p11_kernel_buckets_equal_expression_buckets) and keep the
# broadcast-weights lookup unchanged.
T24_DIM = 256            # hashed feature buckets (fastText default 2M;
#                          256 keeps the oracle expression closed-form)
T24_W_MULT = 2654435761  # Knuth multiplicative constant
T24_W_MOD = 2003
T24_W_SHIFT = 1001       # weights span [-1001, +1001]


def t24_weights() -> list[int]:
    """The 'trained' weight vector — deterministic integers so the
    oracle recomputes them in closed form; stand-in for a real model
    file (same length, same broadcast path)."""
    return [
        (b * T24_W_MULT) % T24_W_MOD - T24_W_SHIFT for b in range(T24_DIM)
    ]


T24_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
f AS (
  SELECT doc_id,
         list_concat(
           toks,
           CASE WHEN len(toks) >= 2
                THEN list_transform(range(1, len(toks)),
                                    i -> toks[i] || ' ' || toks[i + 1])
                ELSE [] END) AS feats
  FROM t
),
s AS (
  SELECT doc_id,
         len(feats) AS n_features,
         list_sum(list_transform(feats, w ->
           (((('0x' || substr(md5(w), 1, 15))::BIGINT % {T24_DIM})
             * {T24_W_MULT}) % {T24_W_MOD}) - {T24_W_SHIFT})) AS logit
  FROM f
)
SELECT doc_id,
       CAST(n_features AS BIGINT) AS n_features,
       CAST(logit AS BIGINT) AS logit,
       logit > 0 AS label
FROM s
"""


def uni_bigram_feats(toks: Column) -> Column:
    """The hashed-classifier feature set: unigrams + space-joined
    bigrams, in document order — ONE definition shared by t24's
    inference and p11's importance scoring (oracle twin: the
    list_concat/list_transform CTE in T24_ORACLE/P11_ORACLE)."""
    n = F.size(toks)
    bigrams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat(
                F.element_at(toks, i), F.lit(" "), F.element_at(toks, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(toks, bigrams)


def md5_bucket(w: Column, dim: int = T24_DIM) -> Column:
    """d05's 60-bit md5 cross-engine hash, mod ``dim`` — the feature
    bucketing t24 and p11 share (DuckDB twin:
    ('0x' || substr(md5(w),1,15))::BIGINT % dim)."""
    return (
        F.conv(F.substring(F.md5(w), 1, 15), 16, 10).cast("long") % dim
    )


def classifier_score(docs: DataFrame, weights: list[int]) -> DataFrame:
    """fastText-style linear inference over hashed uni+bigram features
    (see block comment). ``weights`` has ``T24_DIM`` entries and rides
    a one-row broadcast; everything else is map-side expression."""
    spark = docs.sparkSession
    wdf = spark.createDataFrame([(weights,)], "w array<long>")
    feats = uni_bigram_feats(tokens("text"))
    bucket = md5_bucket
    logit = F.aggregate(
        F.transform(
            feats,
            lambda w: F.element_at(
                F.col("w"), (bucket(w) + 1).cast("int")
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return docs.crossJoin(F.broadcast(wdf)).select(
        "doc_id",
        F.size(feats).cast("long").alias("n_features"),
        logit.alias("logit"),
        (logit > 0).alias("label"),
    )


@query("t24_quality_classifier", oracle=T24_ORACLE)
def t24_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T24 — trained-classifier quality inference (see block comment;
    broadcast weight vector + map-side hashed-feature lookup).
    widen_scan: a zero-shuffle plan's parallelism is its input splits;
    the single-file fixtures plan as 1-2 splits and would serialize
    the per-row feature hashing — production no-op."""
    from .dedup import widen_scan

    return classifier_score(
        widen_scan(table(spark, sf_dir, "documents")), t24_weights()
    )


# ---------------------------------------------------------------------------
# T25 — HTML/boilerplate extraction (the CommonCrawl front door; the
# stage every real pretraining corpus runs before any operator in this
# catalog sees "clean text" — C4's boilerplate rules, trafilatura in
# RefinedWeb/FineWeb, resiliparse in DCLM). m09/m11 recipe: one
# in-plan encoder builds REAL containers from the fixture text — here
# a full HTML page per document with <head> metadata, a nav bar, a
# link-only sidebar <div>, the content split into <p> paragraphs
# inside an <article>, and a footer; entities are LIVE in the bytes
# (every 7th token's first character becomes a decimal character
# reference &#NN;, each paragraph opens with &nbsp;, the footer
# carries &amp;) — then the production kernel extracts the text back:
# strip <head>, segment leaf blocks, compute per-block LINK DENSITY
# (non-whitespace chars inside <a> / total non-whitespace chars),
# drop blocks above 0.5 (the jusText/boilerpipe core rule — nav,
# sidebar and footer go; paragraphs stay), strip tags, single-pass
# entity decode (named + numeric — single-pass is the HTML semantic:
# "&#38;amp;" is "&amp;", not "&"), normalize whitespace.
#
# Oracle: the identity roundtrip (m11 discipline) — extraction must
# return EVERY source document byte-exactly (md5-compared), and the
# block counts are recomputed structurally by the oracle from the
# token count (3 boilerplate blocks + ceil(n_tokens/12) paragraphs),
# so a kernel that drops a paragraph, leaks nav text, misdecodes an
# entity, or miscounts blocks hash-fails.
#
# Scale shape: zero shuffles by construction — scan → encode
# (Catalyst expressions) → one Arrow pass (``map_rows``) → project; in
# production the HTML comes from storage (WARC) and the encoder stage
# isn't there. The kernel is regex-per-document — the honest cost
# model for markup removal (C-speed regex engine, bounded by document
# length, embarrassingly parallel).
# ---------------------------------------------------------------------------

T25_PAR_TOKENS = 12  # tokens per <p>
T25_LINK_DENSITY = 0.5  # drop blocks with more link chars than this

T25_ORACLE = f"""
SELECT doc_id,
       CAST(3 + CAST(ceil(len(string_split(text, ' ')) / {T25_PAR_TOKENS}.0)
                     AS BIGINT) AS INT) AS n_blocks,
       CAST(3 AS INT) AS n_dropped,
       md5(text) AS extracted_md5
FROM documents
"""


def html_wrap(docs: DataFrame) -> DataFrame:
    """The t25 encoder (see block comment): deterministic full HTML
    page per document, built entirely with Catalyst expressions —
    (doc_id, html). Source-text escaping (&<>) is applied even though
    the fixture charset never needs it; the numeric reference for a
    marked token's first character is taken BEFORE escaping the
    remainder, so the single-pass decoder's semantics invert it."""
    esc = lambda c: F.replace(  # noqa: E731
        F.replace(F.replace(c, F.lit("&"), F.lit("&amp;")), F.lit("<"), F.lit("&lt;")),
        F.lit(">"),
        F.lit("&gt;"),
    )
    toks = tokens("text")
    n = F.size(toks)
    enc = F.transform(
        toks,
        lambda t, i: F.when(
            (i + 1) % 7 == F.lit(3),
            F.concat(
                F.lit("&#"),
                F.ascii(t).cast("string"),
                F.lit(";"),
                esc(F.substr(t, F.lit(2), F.length(t))),
            ),
        ).otherwise(esc(t)),
    )
    npar = F.ceil(n / F.lit(float(T25_PAR_TOKENS))).cast("int")
    pars = F.transform(
        F.sequence(F.lit(0), npar - 1),
        lambda c: F.concat(
            F.lit("<p>&nbsp;"),
            F.array_join(
                F.slice(enc, c * T25_PAR_TOKENS + 1, T25_PAR_TOKENS), " "
            ),
            F.lit("</p>"),
        ),
    )
    side = F.concat(
        F.lit('<div class="sidebar">'),
        F.array_join(
            F.transform(
                F.sequence(F.lit(1), (F.col("doc_id") % 3 + 3).cast("int")),
                lambda k: F.concat(
                    F.lit('<a href="/rel/'),
                    k.cast("string"),
                    F.lit('">Related '),
                    k.cast("string"),
                    F.lit("</a>"),
                ),
            ),
            " ",
        ),
        F.lit("</div>"),
    )
    page = F.concat(
        F.lit("<html><head><title>Doc "),
        F.col("doc_id").cast("string"),
        F.lit('</title><meta charset="utf-8"></head><body>'),
        F.lit(
            '<nav><a href="/">Home</a> <a href="/docs">Docs</a>'
            ' <a href="/api">API</a></nav>'
        ),
        side,
        F.lit("<article>"),
        F.array_join(pars, ""),
        F.lit("</article>"),
        F.lit(
            '<footer><a href="/terms">Terms &amp; Conditions</a>'
            ' <a href="/privacy">Privacy</a> <a href="/contact">Contact</a>'
            " Copyright example.org</footer>"
        ),
        F.lit("</body></html>"),
    )
    return docs.select("doc_id", page.alias("html"))


_T25_HEAD = re.compile(r"<head\b[^>]*>.*?</head>", re.S)
# leaf-block scan: the non-greedy body is correct because the
# recognized block tags never nest within each other in valid markup
# of this shape (<article> is not in the set, so its <p> children
# match individually)
_T25_BLOCK = re.compile(r"<(p|nav|div|footer)\b[^>]*>(.*?)</\1>", re.S)
_T25_LINK = re.compile(r"<a\b[^>]*>(.*?)</a>", re.S)
_T25_TAG = re.compile(r"<[^>]+>")
# SINGLE-pass entity decode (HTML semantics: the scan resumes after
# each replacement, so "&#38;amp;" decodes to "&amp;")
_T25_ENTITY = re.compile(r"&(#\d+|amp|lt|gt|quot|apos|nbsp);")
_T25_NAMED = {"amp": "&", "lt": "<", "gt": ">", "quot": '"', "apos": "'", "nbsp": " "}


def _t25_entity(m: re.Match) -> str:
    g = m.group(1)
    return chr(int(g[1:])) if g[0] == "#" else _T25_NAMED[g]


def _nonws(s: str) -> int:
    return sum(1 for ch in s if not ch.isspace())


def _t25_extract(html: str) -> list[tuple[int, int, str]]:
    body = _T25_HEAD.sub("", html)
    kept, n_blocks, n_dropped = [], 0, 0
    for m in _T25_BLOCK.finditer(body):
        content = m.group(2)
        n_blocks += 1
        link_chars = _nonws(
            _T25_ENTITY.sub(_t25_entity, " ".join(_T25_LINK.findall(content)))
        )
        text = _T25_ENTITY.sub(_t25_entity, _T25_TAG.sub(" ", content))
        total = _nonws(text)
        if total and link_chars / total > T25_LINK_DENSITY:
            n_dropped += 1
            continue
        kept.append(text)
    return [(n_blocks, n_dropped, " ".join(" ".join(kept).split()))]


def html_extract(pages: DataFrame) -> DataFrame:
    """The t25 production kernel (see block comment): boilerplate-
    aware text extraction from (doc_id, html) — returns (doc_id,
    n_blocks, n_dropped, extracted). The package ships by value, so
    workers unpickle it without this package on their path."""
    return map_rows(
        pages.select("doc_id", "html"),
        _t25_extract,
        "n_blocks int, n_dropped int, extracted string",
    )


@query("t25_html_extract", oracle=T25_ORACLE)
def t25_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T25 — HTML/boilerplate extraction (see block comment): wrap
    each fixture doc in a real HTML page in-plan, then recover the
    text with the link-density extraction kernel; the identity
    roundtrip md5-compares every byte. widen_scan: fixture-only
    parallelism for the zero-shuffle plan."""
    from .dedup import widen_scan

    docs = table(spark, sf_dir, "documents")
    out = html_extract(html_wrap(widen_scan(docs)))
    return out.select(
        "doc_id",
        "n_blocks",
        "n_dropped",
        F.md5(F.col("extracted")).alias("extracted_md5"),
    )

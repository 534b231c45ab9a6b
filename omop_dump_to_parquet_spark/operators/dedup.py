"""Deduplication operators over the ``documents`` corpus ([EXT] per
SURVEY.md §2.3 — absent from the reference §2.2, mandated by the
north-star brief):

- exact (content groupBy),
- hash keep-first (SHA-256 + window),
- n-gram/word-set Jaccard (blocked exact similarity join),
- MinHash + LSH banding (probabilistic candidate generation,
  exact-Jaccard verification),
- SimHash (chunked fingerprint, Hamming-distance candidates),
- embedding near-dup (cosine threshold) lives in similarity.py's
  machinery but is registered here for catalog completeness.

Scale design (the whole point at 100 TB):
- every pipeline is *candidate generation → verification*; the only
  quadratic step is confined to LSH buckets / blocks, never the corpus;
- all shuffles are on content-derived keys (digest, band hash, block)
  which are uniformly distributed by construction — no key skew except
  pathological near-identical corpora, which AQE skew-split absorbs;
- bucket-size capping (drop pathologically hot bands) is the standard
  guard and is noted where it applies.

DataFrame/Catalyst expressions by default, and no row-at-a-time
Python UDFs. Where the Catalyst form would be an interpreted
higher-order-function tree, an Arrow-vectorized NumPy batch kernel
runs instead: ``minhash_keys`` (d04, d15, st13; the HOF form
measured two orders of magnitude slower), ``simhash_chunks`` (d05)
and ``semdedup_prune_bucketed`` (d10, d14).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.kernels import map_batches, numpy_column
from ..registry import query
from ..session import get_shuffle_partitions
from ..sources.parquet import table


def pin_expansion_parallelism(df: DataFrame, *keys: str) -> DataFrame:
    """Explicit keyed repartition at a pair-expansion point.

    AQE sizes post-shuffle partitions by shuffle-read BYTES, but an
    expansion stage (LSH band self-join, SimHash chunk join, pair
    verification) reads KBs-MBs and emits millions of rows — adaptive
    coalescing folds its exchange to 1-2 partitions and those tasks
    generate the whole pair set serially (measured at sf0.1: band join
    15.9s vs 4.6s, verify 19.1s vs 4.3s). A USER-specified repartition
    is exempt from coalescing; pinning to the session's shuffle width
    keeps one conf as the scale knob, and downstream windows/self-joins
    on the same keys reuse the single exchange (ReuseExchange).
    """
    n = get_shuffle_partitions(df.sparkSession)
    return df.repartition(n, *keys)


# ---------------------------------------------------------------------------
# D01 — exact dedup: group identical content, keep lowest doc_id.
# Shuffle key = md5 digest (uniform) — scales flat; this is THE
# baseline dedup pass every corpus gets first.
# ---------------------------------------------------------------------------

D01_ORACLE = """
SELECT md5(text) AS content_key,
       MIN(doc_id) AS keep_doc_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY content_key
"""


@query("d01_dedup_exact", oracle=D01_ORACLE)
def d01_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup: group by text digest, keep count + min id
    per group (uniform digest keys — one skew-free shuffle)."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5(F.col("text")).alias("content_key"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# ---------------------------------------------------------------------------
# D02 — hash keep-first: SHA-256 content digest, window keep-first
# (survivor set, not just group stats — the actual "write the deduped
# corpus back out" shape).
# ---------------------------------------------------------------------------

D02_ORACLE = """
SELECT doc_id, content_hash FROM (
  SELECT doc_id, sha256(text) AS content_hash,
         row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
  FROM documents
) WHERE rn = 1
"""


@query("d02_dedup_hash_keep_first", oracle=D02_ORACLE)
def d02_dedup_hash_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHA-256 keep-first dedup: window rank over the digest partition
    emits the surviving doc per duplicate group."""
    docs = table(spark, sf_dir, "documents")
    hashed = docs.select(
        "doc_id", F.sha2(F.col("text"), 256).alias("content_hash")
    )
    w = W.partitionBy("content_hash").orderBy("doc_id")
    return (
        hashed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "content_hash")
    )


# ---------------------------------------------------------------------------
# D03 — word-set Jaccard near-dup pairs, blocked by (lang, source).
# Exact similarity join: prefix-filtered candidate generation (index
# only each doc's rarest nw-⌈t·nw⌉+1 tokens — the provably-lossless
# AllPairs prefix guard, which keeps hot/stopword tokens OUT of the
# inverted index), then exact int64-hashed Jaccard verification.
# This is the *oracle-exact* member of the near-dup family.
# ---------------------------------------------------------------------------

JACCARD_THRESHOLD = 0.6

# Split into CTE-list + final-select parts so graph.py's d06 oracle
# can reuse the identical pair definition inside a WITH RECURSIVE.
_D03_CTES = """tok AS (
  SELECT doc_id, lang, source, unnest(list_distinct(string_split(text, ' '))) AS w
  FROM documents
),
sizes AS (
  SELECT doc_id, COUNT(*) AS nw FROM tok GROUP BY doc_id
),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM tok a JOIN tok b
    ON a.lang = b.lang AND a.source = b.source
   AND a.w = b.w AND a.doc_id < b.doc_id
  GROUP BY doc_a, doc_b
)"""

_D03_SELECT = f"""SELECT doc_a, doc_b,
       (CAST(n_common AS DOUBLE) / (sa.nw + sb.nw - n_common)) AS jaccard
FROM inter
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE (CAST(n_common AS DOUBLE) / (sa.nw + sb.nw - n_common)) >= {JACCARD_THRESHOLD}"""

D03_ORACLE = f"WITH {_D03_CTES}\n{_D03_SELECT}"


def word_shingles(col: Column, n: int) -> Column:
    """Distinct word n-gram shingles of a text column, as an array of
    space-joined strings. A doc with fewer than ``n`` words yields its
    single sub-``n`` shingle (the whole doc) rather than nothing, so
    short near-identical docs still pair up.

    Pure codegen (split → sequence → transform/slice) — the shingle
    set never leaves the JVM.
    """
    w = F.split(col, " ")
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(w) - n, F.lit(0))),
            lambda i: F.array_join(F.slice(w, i + F.lit(1), n), " "),
        )
    )


def _distinct_tokens(
    docs: DataFrame, *block_cols: str, tokens: Column | None = None
) -> DataFrame:
    """Explode one row per distinct token; ``tokens`` overrides the
    default word tokenizer with any already-distinct array expression
    (e.g. ``word_shingles``) — the whole AllPairs/verify machinery is
    tokenizer-agnostic."""
    toks = (
        tokens
        if tokens is not None
        else F.array_distinct(F.split(F.col("text"), " "))
    )
    return docs.select("doc_id", *block_cols, F.explode(toks).alias("w"))


def _ranked_tokens(
    docs: DataFrame, *block_cols: str, tok: DataFrame | None = None
) -> DataFrame:
    """Per-doc tokens with their rank ``rn`` under the global
    (document-frequency ASC, token ASC) order and the doc's distinct
    token count ``nw`` — the shared substrate of the prefix index and
    the position-filtered probe side (one subtree → one computation
    via ReuseExchange).

    ``nw`` rides the rank window as a second Window over the SAME
    (doc_id) exchange instead of a separate sizes aggregate + doc_id
    join: no extra aggregate, join or exchange. (An explicit (block,
    token) repartition shared by the census groupBy and its join
    measured slower: at fixture scale the planner broadcasts the
    census table, so the explicit exchange is pure addition, d03
    3.10s → 3.44s.)"""
    if tok is None:
        tok = _distinct_tokens(docs, *block_cols)
    dfreq = tok.groupBy(*block_cols, "w").agg(
        F.count(F.lit(1)).alias("df")
    )
    wdoc = W.partitionBy("doc_id")
    ranked = tok.join(dfreq, [*block_cols, "w"]).withColumn(
        "rn",
        F.row_number().over(
            wdoc.orderBy(F.col("df").asc(), F.col("w").asc())
        ),
    )
    return ranked.withColumn("nw", F.count(F.lit(1)).over(wdoc))


def _prefix(ranked: DataFrame, num: int, den: int) -> DataFrame:
    """The AllPairs prefix index over ``_ranked_tokens``: per doc, its
    ``nw - ⌈t·nw⌉ + 1`` rarest tokens under the global
    (document-frequency ASC, token ASC) order, integer-exact with
    ``⌈num·nw/den⌉``."""
    ceil_t_nw = F.floor(
        (F.lit(num) * F.col("nw") + F.lit(den - 1)) / F.lit(den)
    )
    return ranked.filter(F.col("rn") <= F.col("nw") - ceil_t_nw + 1)


# The largest per-block population exact AllPairs may sweep. The
# Heaps-law sweep (HEAPS_SWEEP.json, SCALING.md) measured candidate
# growth ≈ N^1.6 per block even under realistic V ∝ N^0.5 vocabulary
# growth, so exact-Jaccard candidate generation is a BOUNDED-BLOCK
# tool: block count, not block size, must absorb corpus growth. At
# 10⁷ docs/block the per-block sweep is ~10¹¹ token-match emissions
# (hours of a large cluster, the measured practical ceiling); past
# it, d04's banded MinHash is strictly cheaper and the guard makes
# the crossover an ERROR instead of a silent super-linear stage.
DEFAULT_MAX_BLOCK_DOCS = 10_000_000


def _guard_block_population(
    docs: DataFrame, block_cols: tuple[str, ...], max_block_docs: int | None
) -> DataFrame:
    """Enforce the bounded-block contract IN-PLAN: reduce the
    per-block populations to their MAX (one scalar row, broadcast to
    every task) and raise at execution time if it exceeds the bound.
    No driver-side action — the check runs where the data is scanned
    and fires even when the caller never inspects block sizes.

    Broadcasting a SCALAR rather than the per-block count table
    matters at scale: with high-cardinality
    ``block_cols`` — the realistic production case this guard
    targets — a full per-block table could itself exceed the
    broadcast limit or driver memory, making the safety guard the
    failure point. Only the max is needed to decide pass/fail."""
    if max_block_docs is None:
        return docs
    n = F.count(F.lit(1)).alias("_block_docs")
    if block_cols:
        bsz = (
            docs.groupBy(*block_cols)
            .agg(n)
            .agg(F.max("_block_docs").alias("_block_docs"))
        )
    else:
        bsz = docs.agg(n)
    # NULL max means EMPTY input (max over zero groups) and must pass
    # explicitly: the assert filter below references only the scalar
    # side's column, so Catalyst is free to push it BELOW the join
    # onto the one-row bsz relation, where it evaluates even when
    # docs has no rows (d13's empty small-string path would raise
    # "population null exceeds").
    ok = F.coalesce(
        F.col("_block_docs") <= F.lit(max_block_docs), F.lit(True)
    )
    msg = F.format_string(
        "prefix_filter_candidates: max block population %s exceeds "
        f"max_block_docs={max_block_docs}; exact AllPairs candidate "
        "generation is ~N^1.6 per block (HEAPS_SWEEP.json) — split "
        "the block (finer block_cols), raise max_block_docs "
        "explicitly, or switch to lsh_candidate_pairs (d04) for "
        "whole-corpus dedup",
        F.col("_block_docs"),
    )
    checked = docs.crossJoin(F.broadcast(bsz))
    # assert_true returns NULL when ok (every row passes the filter)
    # and raises with msg otherwise; as a FILTER it cannot be pruned
    # away as an unused projection.
    return checked.filter(
        F.assert_true(ok, msg).isNull() | ok
    ).drop("_block_docs")


def prefix_filter_candidates(
    docs: DataFrame,
    num: int,
    den: int,
    *block_cols: str,
    tokens: Column | None = None,
    distinct: bool = True,
    max_block_docs: int | None = DEFAULT_MAX_BLOCK_DOCS,
) -> DataFrame:
    """Exact candidate pairs for Jaccard ≥ num/den via prefix
    filtering (Bayardo et al., AllPairs — public algorithm).

    Tokens get a global total order (document frequency ASC, token
    ASC); each doc INDEXES only its prefix — the ``nw - ⌈t·nw⌉ + 1``
    rarest tokens. The probe side keeps full token lists. Lemma: if
    J(A,B) ≥ t then |A∩B| ≥ t·|B|, while B's unindexed suffix holds
    only ``⌈t·|B|⌉ - 1 < t·|B|`` tokens, so A must hit B's prefix —
    zero recall loss by construction.

    This is the hot-token guard: a stopword shared by every doc in a
    block has maximal document frequency, so it sorts LAST and never
    enters any prefix — the |block|² token-group blowup of a naive
    inverted-index self-join cannot occur. Join group size per token
    is df_full × df_prefix, and df_prefix ≈ 0 for hot tokens. The
    exact set-size condition (den·min(nw) ≥ num·max(nw), cf.
    lsh_candidate_pairs) prunes further at zero recall cost.

    POSITION filter (PPJoin, Xiao et al. 2008): a match between
    A's token at rank pa and B's token at rank pb (global df order on
    both sides) can witness an overlap of at most
    1 + min(nwa−pa, nwb−pb) (every other common token sorts after the
    match on BOTH sides), and Jaccard ≥ num/den forces overlap
    α ≥ ⌈num·(nwa+nwb)/(num+den)⌉. Matches that cannot reach α are
    dropped INSIDE the join condition — integer-exact
    ((1+min)·(num+den) ≥ num·(nwa+nwb)), zero recall cost (a true
    pair's FIRST common token always satisfies the bound; later
    redundant matches are what gets pruned, along with most spurious
    mid-frequency collisions). Measured at 30× fixture scale: raw
    candidates 130.9M → a small multiple of the true pair count, the
    growth that made exact-Jaccard candidate generation the one
    superlinear stage in the scale rehearsal (SCALING.md).

    BOUNDED-BLOCK contract (enforced): candidate volume per
    block is ~N^1.6 even under Heaps-law vocabulary growth
    (HEAPS_SWEEP.json), so ``max_block_docs`` (default
    ``DEFAULT_MAX_BLOCK_DOCS``) caps the population any single block
    may contribute — exceeding it raises AT EXECUTION TIME inside
    the plan rather than silently running the super-linear sweep.
    Pass ``None`` to opt out explicitly (scale-sweep scripts do, to
    measure the regime the guard exists to prevent).
    """
    docs = _guard_block_population(docs, block_cols, max_block_docs)
    tok = _distinct_tokens(docs, *block_cols, tokens=tokens)
    # nw rides the rank window — see _ranked_tokens. `ranked` stays
    # lazy: materializing it once via localCheckpoint (the self-join
    # evaluates the census+rank subtree twice, d07 candidates 4.42s ≈
    # 2 × ranked 2.10s) measured WORSE end-to-end, d03 2.87s → 3.28s
    # and d07 3.63s → 3.50s. The materialization is a barrier that
    # serializes what the lazy plan overlaps, and AQE's runtime
    # exchange reuse already shares the heavy shuffle between the
    # two sides.
    ranked = _ranked_tokens(docs, *block_cols, tok=tok)
    index = _prefix(ranked, num, den).alias("b")
    probe = ranked.alias("a")
    overlap_ub = F.lit(1) + F.least(
        F.col("a.nw") - F.col("a.rn"), F.col("b.nw") - F.col("b.rn")
    )
    cond = (
        (F.col("a.w") == F.col("b.w"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & (F.col("a.nw") * den >= F.col("b.nw") * num)
        & (F.col("b.nw") * den >= F.col("a.nw") * num)
        & (
            overlap_ub * (num + den)
            >= F.lit(num) * (F.col("a.nw") + F.col("b.nw"))
        )
    )
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    pairs = probe.join(index, cond).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
    )
    # distinct=False exposes the RAW join emissions (one row per
    # surviving token match) for the scale-sweep scripts' candidate
    # attribution; every operator consumer uses the default.
    return pairs.distinct() if distinct else pairs


@query("d03_dedup_ngram_jaccard", oracle=D03_ORACLE)
def d03_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact blocked Jaccard join: prefix-filtered candidates (no
    hot-token quadratic blowup — see prefix_filter_candidates), then
    exact int64-hashed verification (verify_jaccard_pairs)."""
    from fractions import Fraction

    docs = table(spark, sf_dir, "documents")
    ratio = Fraction(str(JACCARD_THRESHOLD))
    candidates = prefix_filter_candidates(
        docs, ratio.numerator, ratio.denominator, "lang", "source"
    )
    return verify_jaccard_pairs(docs, candidates, JACCARD_THRESHOLD)


# ---------------------------------------------------------------------------
# D04 — MinHash + LSH banding, exact-Jaccard verified.
#
# K=126 MinHash functions, banded into 21 bands × 6 rows. Candidates =
# pairs sharing any band key (pre-pruned by the exact set-size
# condition); each candidate is then verified with the exact word-set
# Jaccard, so FALSE POSITIVES are eliminated and the output equals the
# exact threshold join wherever LSH recall reaches 1 (with these
# params, P[miss | j=0.9] = (1-0.9⁶)²¹ ≈ 1e-7; the fixture's
# above-threshold pairs are found exhaustively — validated against
# D03-style exact enumeration in tests).
#
# Scale: signatures + band keys are computed MAP-SIDE per doc by the
# shared NumPy kernel (``minhash_prepared``); candidate generation
# shuffles (band, bkey) — uniform keys; the quadratic step happens only
# within buckets. Hot buckets (boilerplate corpora) get capped — see
# MAX_BUCKET below.
# ---------------------------------------------------------------------------

MINHASH_K = 126
LSH_BANDS = 21
LSH_ROWS = MINHASH_K // LSH_BANDS  # 6 rows/band
MINHASH_THRESHOLD = 0.9
# Band geometry: P[miss | j=0.9] = (1-0.9^6)^21 ≈ 1e-7 (recall ~1 for
# the verified-output contract), while per-band collision probability
# for mid-similarity pairs (j≈0.65) drops ~4× vs 4-row bands — that
# factor directly scales the pair-emission shuffle, the dominant cost
# on dup-dense corpora.
# Hot-bucket cap guards true pathologies (millions of byte-identical
# boilerplate docs hashing to one band bucket) — it must sit far above
# legitimate bucket sizes or it silently costs recall: at 1000 it
# clipped 7% of true ≥0.9 pairs on the (dup-dense) sf0.1 fixture.
MAX_BUCKET = 100_000

D04_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
  FROM documents
),
sizes AS (
  SELECT doc_id, COUNT(*) AS nw FROM tok GROUP BY doc_id
),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
  GROUP BY doc_a, doc_b
)
SELECT doc_a, doc_b,
       (CAST(n_common AS DOUBLE) / (sa.nw + sb.nw - n_common)) AS jaccard
FROM inter
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE (CAST(n_common AS DOUBLE) / (sa.nw + sb.nw - n_common)) >= {MINHASH_THRESHOLD}
"""


def lsh_candidate_pairs(
    reps: DataFrame, max_bucket: int = MAX_BUCKET
) -> DataFrame:
    """Distinct candidate pairs (doc_a < doc_b) sharing ≥1 LSH band.

    ``reps`` carries (doc_id, nw, keys): the distinct-token count and
    the band-key array of ``minhash_prepared``. The keys are
    posexploded into (band, bkey) rows. A bucket holding more than
    ``max_bucket`` rows is dropped by a broadcast anti-join against
    the capped-bucket table (a map-side partial count; at most
    docs·bands/max_bucket rows by pigeonhole). The surviving rows are
    pinned to the session's shuffle width on (band, bkey)
    (``pin_expansion_parallelism``) and self-join on (band, bkey,
    a.doc_id < b.doc_id), both sides reading one exchange; a pair
    colliding in several bands is emitted once per band and
    ``distinct()`` folds the copies. Every join condition is a plain
    comparison, so the join runs in whole-stage codegen.

    The join also carries the set-size necessary condition for
    Jaccard ≥ MINHASH_THRESHOLD = num/den: ``den·min(nw) ≥
    num·max(nw)`` (j = |∩|/|∪| ≥ t forces |small| ≥ |∩| ≥ t·|∪| ≥
    t·|large|). It costs no recall and prunes mid-similarity band
    collisions before they reach pair emission; integer num/den keeps
    the boundary exact (0.9·10 in floats could tip either way on
    j = 0.9 pairs).
    """
    from fractions import Fraction

    ratio = Fraction(str(MINHASH_THRESHOLD))
    num, den = ratio.numerator, ratio.denominator
    banded = reps.select(
        "doc_id", "nw", F.posexplode("keys").alias("band", "bkey")
    )
    capped = (
        banded.groupBy("band", "bkey")
        .agg(F.count(F.lit(1)).alias("bucket_n"))
        .filter(F.col("bucket_n") > max_bucket)
        .select("band", "bkey")
    )
    # The anti-join goes below the pinned repartition: Spark would push
    # it there anyway, and then a count over the repartitioned rows
    # would shuffle the banded table a second time, unaggregated.
    banded = pin_expansion_parallelism(
        banded.join(F.broadcast(capped), ["band", "bkey"], "left_anti"),
        "band",
        "bkey",
    )
    a, b = banded.alias("a"), banded.alias("b")
    cond = (
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bkey") == F.col("b.bkey"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & (F.col("a.nw") * den >= F.col("b.nw") * num)
        & (F.col("b.nw") * den >= F.col("a.nw") * num)
    )
    return (
        a.join(b, cond)
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def d04_candidate_pairs(
    docs: DataFrame, grouped: DataFrame | None = None
) -> DataFrame:
    """d04's candidate set at REPRESENTATIVE level: one LSH probe row
    per DISTINCT token set (``d04_grouped``, keyed by its min doc_id),
    banded by ``lsh_candidate_pairs``. Shared by the catalog query and
    bench.py's verify-stage measurement so both verify the IDENTICAL
    candidate set. ``grouped`` lets the full pipeline pass its
    materialized group table (see the query body).

    The fixture — like every web corpus — is dominated by exact
    token-set duplicate cliques (sf0.1: 5000 docs but only 3935
    distinct sets, with one 248-member clique). Banding members would
    put every clique member in every band bucket and grow each bucket
    self-join quadratically in clique size; banding representatives
    gives 1.65M rep candidates → 28,865 verified rep pairs at sf0.1.
    The distinct sets are template variants clustered around j≈0.65,
    where 21×6 banding passes ~80% of pairs, so exact verification
    carries that load: banding cannot prune harder without giving up
    the j ≥ 0.9 recall contract. Member-level pairs are reconstructed
    AFTER verification from group metadata (``d04_dedup_minhash_lsh``),
    where every derived pair's jaccard is IDENTICAL to its rep pair's
    (identical token sets).
    """
    if grouped is None:
        grouped = d04_grouped(docs)
    reps = grouped.select(F.col("gid").alias("doc_id"), "nw", "keys")
    return lsh_candidate_pairs(reps)


@query("d04_dedup_minhash_lsh", oracle=D04_ORACLE)
def d04_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash (Broder) 21x6-band LSH candidates + exact-Jaccard
    verification — the production near-dup recipe; quadratic work is
    confined to band buckets, and exact token-set duplicates are
    collapsed to one representative BEFORE banding, with member pairs
    reconstructed from verified representative pairs (identical token
    sets ⇒ identical jaccard; within-group pairs are exactly 1.0).
    Hash-exact vs the all-pairs oracle."""
    docs = table(spark, sf_dir, "documents")
    # Materialize the kernel output and the (tiny) group table ONCE
    # per run — eager localCheckpoint, the d11/bench cands_mat
    # pattern. Without it, every broadcast-join subtree of the
    # expansion below re-runs the kernel + collapse chain (measured:
    # 4-6 traversals ≈ the whole query's cost at fixture scale). Both
    # are per-run materializations computed from the parquet inputs —
    # nothing persists across runs. At 100 TB `prepared` would be
    # written to storage instead;
    # the group table stays O(distinct sets) metadata either way.
    prepared = minhash_prepared(docs).localCheckpoint(eager=True)
    grouped = d04_grouped(docs, prepared).localCheckpoint(eager=True)
    ver = verify_jaccard_pairs(
        docs,
        d04_candidate_pairs(docs, grouped),
        MINHASH_THRESHOLD,
        tok_arr=prepared,
    )
    members = prepared.select("doc_id", *_GROUP_COLS)

    # Cross-group expansion: verified rep pair → its two groups → all
    # (member_a, member_b) combinations, carrying the rep pair's
    # jaccard verbatim (identical token sets ⇒ the per-pair
    # arithmetic is value-identical). least/greatest restores the
    # doc_a < doc_b orientation, which group reps cannot provide
    # (member ids of two groups interleave). All four joins are
    # group-METADATA joins (broadcast at fixture scale); only the
    # final output rows are wide.
    ga = grouped.select(
        F.col("gid").alias("doc_a"),
        *[F.col(c).alias(f"{c}_a") for c in _GROUP_COLS],
    )
    gb = grouped.select(
        F.col("gid").alias("doc_b"),
        *[F.col(c).alias(f"{c}_b") for c in _GROUP_COLS],
    )
    ver_g = ver.join(ga, "doc_a").join(gb, "doc_b")
    ma = members.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(c).alias(f"{c}_a") for c in _GROUP_COLS],
    )
    mb = members.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(c).alias(f"{c}_b") for c in _GROUP_COLS],
    )
    cross = (
        ver_g.join(ma, [f"{c}_a" for c in _GROUP_COLS])
        .join(mb, [f"{c}_b" for c in _GROUP_COLS])
        .select(
            F.least("id_a", "id_b").alias("doc_a"),
            F.greatest("id_a", "id_b").alias("doc_b"),
            "jaccard",
        )
    )

    # Within-group pairs: identical token sets ⇒ jaccard exactly 1.0
    # (nw/(nw+nw−nw) — the same double the oracle computes). The
    # self-join is output-bound: it emits exactly the pairs the
    # oracle's answer contains, which no formulation can avoid.
    x, y = members.alias("x"), members.alias("y")
    within = x.join(
        y,
        [F.col(f"x.{c}") == F.col(f"y.{c}") for c in _GROUP_COLS]
        + [F.col("x.doc_id") < F.col("y.doc_id")],
    ).select(
        F.col("x.doc_id").alias("doc_a"),
        F.col("y.doc_id").alias("doc_b"),
        F.lit(1.0).alias("jaccard"),
    )
    return cross.unionAll(within)


def verify_jaccard_pairs(
    docs: DataFrame,
    candidates: DataFrame,
    threshold: float,
    use_broadcast: bool = True,
    tokens: Column | None = None,
    tok_arr: DataFrame | None = None,
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs.

    ``tokens`` overrides the default word tokenizer with any
    already-distinct array expression over ``docs`` (must match the
    tokenizer used for candidate generation). ``tok_arr``
    instead supplies a PREBUILT (doc_id, toks array<long>, nw) table
    — e.g. d04's materialized kernel output — skipping the
    re-tokenization of ``docs`` entirely; its token hashes must come
    from the same hash family used for candidate generation.

    ``use_broadcast=True`` (default): the per-doc distinct-token ARRAY
    table is tiny relative to the pair set (|docs| rows, ~25 tokens
    each), so both sides broadcast and the intersect runs inside the
    candidate scan — no shuffle, no token explosion.

    ``use_broadcast=False``: the beyond-broadcast path (~10⁶+ docs at
    100 TB) — the same two joins become shuffle hash/sort-merge joins
    on doc id. Still linear in |candidates| + |docs|, never quadratic;
    identical output (asserted in tests).

    Tokens are pre-hashed to int64 so the per-pair array_intersect
    compares primitives instead of strings — measured 2.6× faster over
    7.6M candidate pairs. |intersection| is unchanged unless two
    DISTINCT tokens of a candidate pair collide in 64 bits
    (P ≈ |vocab|²/2⁶⁵ — vanishing; the differential oracle at sf0.01
    pins exactness).
    """
    if tok_arr is None:
        toks = (
            tokens
            if tokens is not None
            else F.array_distinct(F.split(F.col("text"), " "))
        )
        # Both join sides are DataFrame-ALIASED views of the SAME
        # tok_arr plan (no per-side select of renamed columns), so
        # their two BroadcastExchanges canonicalize identically and
        # ReuseExchange builds the token-array table ONCE — measured:
        # the former per-side aliasing built it twice (2× tokenizer
        # evaluation + 2× broadcast collect).
        tok_arr = docs.select(
            "doc_id",
            F.transform(toks, lambda t: F.xxhash64(t)).alias("toks"),
            F.size(toks).alias("nw"),
        )
    else:
        tok_arr = tok_arr.select("doc_id", "toks", "nw")
    ta, tb = tok_arr.alias("ta"), tok_arr.alias("tb")
    if use_broadcast:
        ta, tb = F.broadcast(ta), F.broadcast(tb)
        # CPU-bound per-pair verification must not inherit the 1-2
        # AQE-coalesced partitions of the upstream groupBy; broadcast
        # keeps both token joins map-side.
        candidates = pin_expansion_parallelism(candidates, "doc_a", "doc_b")
    inter = F.size(F.array_intersect("ta.toks", "tb.toks"))
    jac = (
        candidates.join(ta, F.col("doc_a") == F.col("ta.doc_id"))
        .join(tb, F.col("doc_b") == F.col("tb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            (
                inter.cast("double")
                / (F.col("ta.nw") + F.col("tb.nw") - inter)
            ).alias("jaccard"),
        )
    )
    return jac.filter(F.col("jaccard") >= threshold)


# ---------------------------------------------------------------------------
# D05 — SimHash: 60-bit fingerprint as 4×15-bit chunks; candidate pairs
# share ≥1 identical chunk (pigeonhole ⇒ complete for Hamming ≤ 3);
# verified by total Hamming distance ≤ 3.
#
# The token hash is 60 bits of md5 (15 hex chars parsed as an int64) —
# chosen over xxhash64 PRECISELY because DuckDB can compute the
# identical value (('0x' || substr(md5(w), 1, 15))::BIGINT), which
# makes d05 a full differential rather than a rows-only check. The
# oracle skips the banding: Hamming ≤ 3 over 4 chunks
# IMPLIES ≥1 equal chunk (pigeonhole), so the banded Spark plan and
# the all-pairs SQL define the same output set — banding is only the
# SCALE strategy, never the semantics.
# ---------------------------------------------------------------------------

SIMHASH_CHUNKS = 4
SIMHASH_CHUNK_BITS = 15
SIMHASH_MAX_HAMMING = 3


def simhash_chunks(docs: DataFrame) -> DataFrame:
    """Per-doc SimHash as 4 columns c0..c3 (15 bits each).

    Computed map-side in a NumPy kernel (the d04/d15 kernel pattern):
    one md5 per distinct token, a (tokens × 60) ±1 bit matrix summed
    per doc with add.reduceat, chunks packed by a matrix-vector
    product. The token hash int(md5-hex[:15], 16) equals the oracle's
    ('0x'||substr(md5(w),1,15))::BIGINT, and no aggregation exchange
    is needed — the per-doc fingerprint never leaves its scan task.
    widen_scan parallelizes the fixture's single split; no-op at real
    split counts."""
    n_chunks, n_bits = SIMHASH_CHUNKS, SIMHASH_CHUNK_BITS

    def chunks(doc_id, text):
        # worker-side imports; the package itself ships by value
        import hashlib

        import numpy as np

        md5 = hashlib.md5
        bit_idx = np.arange(n_chunks * n_bits, dtype=np.int64)
        pack = 1 << np.arange(n_bits, dtype=np.int64)
        # NULL-text rows drop like the former Catalyst form
        # (explode(NULL) emitted nothing)
        keep = np.array([t is not None for t in text], dtype=bool)
        if not keep.any():  # reduceat needs ≥1 row
            return None
        doc_id, text = doc_id[keep], text[keep]
        toks = [list(dict.fromkeys(t.split(" "))) for t in text]
        lens = np.fromiter(
            (len(t) for t in toks), dtype=np.int64, count=len(toks)
        )
        starts = np.zeros(len(toks), dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        h = np.fromiter(
            (
                int(md5(t.encode()).hexdigest()[:15], 16)
                for row in toks
                for t in row
            ),
            dtype=np.int64,
            count=int(lens.sum()),
        )
        # (tokens × 60) of ±1; int32 keeps the per-doc sums exact
        # to 2^31 tokens/doc while halving the matrix footprint
        bits = (((h[:, None] >> bit_idx) & 1) * 2 - 1).astype(np.int32)
        pos = np.add.reduceat(bits, starts, axis=0) > 0
        return [doc_id] + [
            (pos[:, c * n_bits : (c + 1) * n_bits] @ pack).astype(np.int32)
            for c in range(n_chunks)
        ]

    schema = "doc_id long, " + ", ".join(
        f"c{c} int" for c in range(n_chunks)
    )
    return map_batches(
        widen_scan(docs.select("doc_id", "text")), chunks, schema
    )


def _d05_oracle() -> str:
    nbits = SIMHASH_CHUNKS * SIMHASH_CHUNK_BITS
    bit_sums = ",\n         ".join(
        f"SUM(CASE WHEN ((h >> {i}) & 1) = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(nbits)
    )
    chunks = ",\n         ".join(
        "("
        + " + ".join(
            f"CASE WHEN b{c * SIMHASH_CHUNK_BITS + j} > 0"
            f" THEN {1 << j} ELSE 0 END"
            for j in range(SIMHASH_CHUNK_BITS)
        )
        + f") AS c{c}"
        for c in range(SIMHASH_CHUNKS)
    )
    hamming = " + ".join(
        f"bit_count(xor(a.c{c}, b.c{c}))" for c in range(SIMHASH_CHUNKS)
    )
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
  FROM documents
),
hashed AS (
  SELECT doc_id, ('0x' || substr(md5(w), 1, 15))::BIGINT AS h FROM tok
),
bits AS (
  SELECT doc_id,
         {bit_sums}
  FROM hashed GROUP BY doc_id
),
fp AS (
  SELECT doc_id,
         {chunks}
  FROM bits
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST({hamming} AS BIGINT) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE {hamming} <= {SIMHASH_MAX_HAMMING}
"""


D05_ORACLE = _d05_oracle()


@query("d05_dedup_simhash", oracle=D05_ORACLE)
def d05_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    fp = simhash_chunks(docs)
    # Single-pass banding via explode (see lsh_candidate_pairs).
    chunk_structs = [
        F.struct(F.lit(c).alias("chunk"), F.col(f"c{c}").alias("ckey"))
        for c in range(SIMHASH_CHUNKS)
    ]
    banded = fp.select(
        "doc_id",
        *[F.col(f"c{i}") for i in range(SIMHASH_CHUNKS)],
        F.explode(F.array(*chunk_structs)).alias("bb"),
    ).select(
        "doc_id",
        F.col("bb.chunk").alias("chunk"),
        F.col("bb.ckey").alias("ckey"),
        *[F.col(f"c{i}") for i in range(SIMHASH_CHUNKS)],
    )
    banded = pin_expansion_parallelism(banded, "chunk", "ckey")
    a = banded.alias("a")
    b = banded.alias("b")
    hamming = None
    for i in range(SIMHASH_CHUNKS):
        term = F.bit_count(
            F.col(f"a.c{i}").bitwiseXOR(F.col(f"b.c{i}")).cast("long")
        )
        hamming = term if hamming is None else hamming + term
    pairs = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.ckey") == F.col("b.ckey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.cast("long").alias("hamming"),
        )
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)


# ---------------------------------------------------------------------------
# D07 — true SHINGLE n-gram Jaccard near-dup pairs (word 3-grams).
#
# d03 measures word-SET overlap, which is blind to word order — two
# docs with the same vocabulary in scrambled order score 1.0. Shingle
# Jaccard (Broder's resemblance, the classic n-gram dedup measure) is
# order-sensitive: a 3-gram survives only where three consecutive
# words match, so boilerplate-with-reordered-sections scores low and
# true near-copies score high. Same AllPairs prefix-filter candidate
# machinery and exact verification as d03, parameterized by the
# shingle tokenizer — candidate generation stays provably lossless
# because the prefix lemma is tokenizer-agnostic (it only needs "doc =
# finite set of tokens").
#
# Scale: shingle sets are ~|words| per doc (same as word sets), and
# shingles are RARER than words (df concentrates near 1), so prefix
# index groups are smaller than d03's — the inverted-index join gets
# cheaper, not hotter, at 100 TB.
# ---------------------------------------------------------------------------

SHINGLE_N = 3
SHINGLE_THRESHOLD = 0.5

D07_ORACLE = f"""
WITH base AS (
  SELECT doc_id, lang, source, string_split(text, ' ') AS w FROM documents
),
tok AS (
  SELECT doc_id, lang, source,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(w) - {SHINGLE_N - 1}, 1) + 1),
           i -> array_to_string(list_slice(w, i, i + {SHINGLE_N - 1}), ' ')
         ))) AS s
  FROM base
),
sizes AS (
  SELECT doc_id, COUNT(*) AS ns FROM tok GROUP BY doc_id
),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM tok a JOIN tok b
    ON a.lang = b.lang AND a.source = b.source
   AND a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY doc_a, doc_b
)
SELECT doc_a, doc_b,
       (CAST(n_common AS DOUBLE) / (sa.ns + sb.ns - n_common)) AS jaccard
FROM inter
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE (CAST(n_common AS DOUBLE) / (sa.ns + sb.ns - n_common))
      >= {SHINGLE_THRESHOLD}
"""


@query("d07_dedup_shingle_jaccard", oracle=D07_ORACLE)
def d07_dedup_shingle_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram shingle Jaccard ≥ 0.5, blocked by (lang, source):
    prefix-filtered candidates + exact verification, both over the
    shingle tokenizer.

    The shingle table is materialized ONCE (lazy ``localCheckpoint``)
    before fanning out to its four consumers (document frequencies,
    prefix ranking, probe side, verification): shingle construction
    (split → slice → join per position) is ~10× a plain tokenizer, so
    re-evaluating it per consumer dominated the query (measured at
    sf0.1: 20.5s → 7.4s cold / 3.4s warm, with the one-build broadcast
    verify below contributing). Same call a 100 TB run makes — a derived corpus
    representation reused by N stages is worth one materialization
    (executor-local storage, O(corpus) like any shuffle; swap in a
    reliable ``checkpoint()`` on a flaky cluster)."""
    from fractions import Fraction

    docs = table(spark, sf_dir, "documents")
    # widen_scan: the interpreted shingle construction below is the
    # query's dominant per-row cost and would run inside the fixture's
    # single scan split; widening parallelizes the checkpoint build
    # (measured 4.0s → 3.5s median at sf0.1) and is a no-op at real
    # split counts. (The same A/B on d03's plain tokenizer LOST —
    # 2.96s vs 2.05s — its per-row work is too cheap to pay for the
    # extra exchange; d03 stays unwidened.)
    docs_sh = widen_scan(
        docs.select("doc_id", "lang", "source", "text")
    ).select(
        "doc_id", "lang", "source",
        word_shingles(F.col("text"), SHINGLE_N).alias("toks"),
    ).localCheckpoint(eager=False)
    sh = F.col("toks")
    ratio = Fraction(str(SHINGLE_THRESHOLD))
    candidates = prefix_filter_candidates(
        docs_sh, ratio.numerator, ratio.denominator, "lang", "source", tokens=sh
    )
    return verify_jaccard_pairs(
        docs_sh, candidates, SHINGLE_THRESHOLD, tokens=sh
    )


# ---------------------------------------------------------------------------
# D09 — normalize-then-exact dedup (the C4 recipe): lowercase, strip
# non-alphanumerics, collapse whitespace, THEN group by the canonical
# form. Catches the near-universal "same text, different casing /
# punctuation / spacing" duplicate class at exact-dedup cost — one
# map-side canonicalization pass + one groupBy shuffle on a digest-
# quality key (uniform, unskewed). At 100 TB this runs BEFORE the
# MinHash stages (d04): every pair it collapses is a pair LSH never
# has to band, and the canonical text itself never shuffles — only
# its md5 does (the group key is the 16-byte digest, not the string).
#
# Canonicalization is ASCII regex only ([^a-z0-9 ] and space runs) so
# Java regex (Spark) and RE2 (DuckDB) agree byte-for-byte.
# ---------------------------------------------------------------------------

#: The canonicalization as a DuckDB scalar expression over `text` —
#: shared by d09/d12/t17's oracles so the three can never drift.
CANON_KEY_SQL = """md5(trim(regexp_replace(
               regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
               '  +', ' ', 'g')))"""


def canon_key_expr() -> Column:
    """C4-style canonical-form digest as a Spark column — the single
    definition d09 (dedup), d12 (keep-best) and t17 (leakage-safe
    splits) all evaluate; identical tree ⇒ identical keys across call
    sites and engines."""
    return F.md5(
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "),
                "  +",
                " ",
            )
        )
    )


D09_ORACLE = f"""
WITH canon AS (
  SELECT doc_id, {CANON_KEY_SQL} AS canon_key
  FROM documents
)
SELECT canon_key,
       MIN(doc_id) AS keep_doc_id,
       COUNT(*) AS n_variants
FROM canon
GROUP BY canon_key
"""


@query("d09_dedup_normalized", oracle=D09_ORACLE)
def d09_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style canonicalize-then-exact-dedup: lowercase / strip
    punctuation / collapse whitespace before digesting."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", canon_key_expr().alias("canon_key"))
        .groupBy("canon_key")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_variants"),
        )
    )


# ---------------------------------------------------------------------------
# D10 — SemDeDup-style semantic dedup in embedding space (Abbas et
# al. 2023, "SemDeDup: Data-efficient learning at web-scale through
# semantic deduplication"): partition the corpus into clusters, then
# prune pairwise ONLY within each cluster — a vector is removed when
# a lower-id cluster-mate sits within cosine tau. SemDeDup uses
# k-means for the cluster step; here the clusters are deterministic
# random-hyperplane sign buckets (the similarity.py LSH family,
# fixed seed) so the operator is fully differential-testable — the
# oracle recomputes the identical buckets from the same literal
# hyperplanes in SQL. d08 is the exact (all-pairs GEMM + connected
# components) twin; this is the linear-scale approximation actually
# run at web scale.
#
# Scale shape: bucket assignment is one map-side codegen pass
# (SEMDEDUP_PLANES literal dot products); the self-join shuffles both sides on
# bucket_id (uniformly distributed by construction — sign patterns of
# gaussian projections); pairwise work is confined to within-bucket
# candidates, n²/2^planes in expectation, and `planes` grows with the
# corpus to hold bucket sizes constant. No driver collect, no global
# pairwise stage.
# ---------------------------------------------------------------------------

# 3 planes (8 coarse clusters) + tau calibrated to the fixture's
# cosine distribution (271 true pairs >= 0.35 at sf0.01; the 0.5
# near-dup regime has ~1) so the within-bucket prune returns a
# non-trivial differential result at test scale.
SEMDEDUP_PLANES = 3
SEMDEDUP_TAU = 0.35


def _bucket_sql(col: str = "emb") -> str:
    """DuckDB expression computing the same sign-pattern bucket id as
    ``similarity.bucket_id`` from the same literal hyperplanes
    (shared generator — see ``similarity.bucket_sql``)."""
    from .similarity import bucket_sql

    return bucket_sql(SEMDEDUP_PLANES, col)


def _semdedup_hits_sql(rel: str, bucket_col: str) -> str:
    """The SemDeDup prune contract as SQL — within-bucket pairs at
    round-6 cosine ≥ τ, then min-keeper / max-sim per removed id —
    over any relation with (vec_id, emb, {bucket_col}). The SINGLE
    definition shared by d10 (hyperplane buckets) and d14 (k-means
    buckets), so a τ-handling or rounding fix moves both
    certifications in lockstep."""
    return f"""hits AS (
  SELECT a.vec_id AS keeper_id, c.vec_id AS removed_id,
         round(list_dot_product(a.emb, c.emb)
               / (sqrt(list_dot_product(a.emb, a.emb))
                  * sqrt(list_dot_product(c.emb, c.emb))), 6) AS cos_sim
  FROM {rel} a JOIN {rel} c
    ON a.{bucket_col} = c.{bucket_col} AND a.vec_id < c.vec_id
  WHERE round(list_dot_product(a.emb, c.emb)
              / (sqrt(list_dot_product(a.emb, a.emb))
                 * sqrt(list_dot_product(c.emb, c.emb))), 6)
        >= {SEMDEDUP_TAU}
)
SELECT removed_id, min(keeper_id) AS keeper_id,
       max(cos_sim) AS max_cos_sim
FROM hits GROUP BY removed_id"""


def _d10_oracle() -> str:
    return f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
), b AS (
  SELECT vec_id, emb, {_bucket_sql()} AS bucket FROM v
), {_semdedup_hits_sql("b", "bucket")}
"""


@query("d10_semdedup", oracle=_d10_oracle())
def d10_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-cluster pairwise pruning via ONE NumPy GEMM per bucket
    (the SemDeDup paper's per-cluster step verbatim).

    A self-join + per-pair column-expression cosine computes the same
    thing but interpreted (higher-order functions don't enter
    codegen) — measured 3.9s vs 0.6s at sf0.1 for identical output.
    applyInArrow groups each bucket into one Arrow table; the
    planes-scale-with-corpus rule that bounds pairwise work also
    bounds batch size, and a pathologically hot bucket would take
    s04's block-pair decomposition WITHIN the bucket. NumPy
    (half-even), Spark ROUND (half-up) and DuckDB agree at 6 dp
    because exact .xxxxxx5 ties are unrepresentable in the binary
    doubles this data produces — the same argument s04's hash-parity
    rests on, not a claim the rounding MODES match.
    """
    from .similarity import embeddings

    return semdedup_prune(
        embeddings(spark, sf_dir), SEMDEDUP_PLANES, SEMDEDUP_TAU
    )


def semdedup_prune(
    emb: DataFrame,
    n_planes: int = SEMDEDUP_PLANES,
    tau: float = SEMDEDUP_TAU,
) -> DataFrame:
    """SemDeDup's per-cluster prune over ``(vec_id, emb)``.

    ``n_planes`` is the planes-scale-with-corpus rule AS A PARAMETER:
    bucket count 2^planes must track corpus size to hold bucket
    population (and the per-bucket GEMM's pop² work) constant.
    Measured at 30× fixture scale (60k vectors): the test-scale
    default (3 planes → 8 buckets, 7.5k vectors each) runs 36.5s —
    pure pop² growth; 9 planes → 512 buckets runs the same corpus in
    a few seconds with the same kernel (SCALING.md "Scale
    rehearsal"). More planes trade recall at bucket borders exactly
    like s02 — SemDeDup's own clustering (k-means, s07) has the same
    border property.

    Caveat, measured at ×100 (SCALING.md "x100"): the planes rule
    holds only while hyperplanes can SPLIT the population. A tight
    semantic cluster shares its sign pattern under (almost) any
    hyperplane, so once buckets align with clusters the densest
    bucket grows WITH the corpus (measured: max bucket 1,531 → 15,323
    for 10× vectors at the rule's plane counts; within-bucket pair
    work ×79). On density-concentrated corpora use
    :func:`kmeans_bucket_assign` (K ∝ N — Voronoi cells split dense
    blobs, hyperplanes don't; it is also the SemDeDup paper's own
    clustering step) and feed :func:`semdedup_prune_bucketed`."""
    from .similarity import bucket_id

    emb = emb.withColumn("bucket", bucket_id(F.col("emb"), n_planes))
    return semdedup_prune_bucketed(emb, tau)


def semdedup_prune_bucketed(emb: DataFrame, tau: float) -> DataFrame:
    """SemDeDup per-bucket GEMM prune over ``(vec_id, emb, bucket)``
    with caller-provided buckets — the shared core of the
    hyperplane-bucketed :func:`semdedup_prune` (d10's catalog
    contract) and the K∝N k-means scale path
    (:func:`~..operators.similarity.kmeans_bucket_assign`)."""

    from .similarity import cosine_pairs

    def bucket_gemm(group):
        import pyarrow as _pa

        ids = numpy_column(group.column("vec_id"))
        A = numpy_column(group.column("emb"))
        ii, jj, cos = cosine_pairs(A, A, ids, ids, tau, True)
        return _pa.table(
            {"keeper_id": ids[ii], "removed_id": ids[jj], "cos_sim": cos}
        )

    hits = emb.groupBy("bucket").applyInArrow(
        bucket_gemm, schema="keeper_id long, removed_id long, cos_sim double"
    )
    return hits.groupBy("removed_id").agg(
        F.min("keeper_id").alias("keeper_id"),
        F.max("cos_sim").alias("max_cos_sim"),
    )


# ---------------------------------------------------------------------------
# D14 — SemDeDup with the paper's OWN clustering step: k-means
# bucketing feeding the per-cluster prune (Abbas et al. 2023 §2 run
# as written, where d10 substitutes hyperplane buckets). A catalog id
# because the K∝N k-means bucketing is the documented production path
# for density-concentrated corpora — the x100 rehearsal showed random
# hyperplanes cannot split a tight semantic cluster (max bucket grows
# with the corpus, α 1.91) while Voronoi cells cut through dense
# blobs (max bucket flat, α 0.611) — and plan-bearing code that only
# scripts exercise is where regressions hide (SCALING.md).
#
# Differential design: the clustering is the s07 exact-decimal Lloyd
# lockstep (similarity.kmeans_exact — assign by round(|c|²−2·x·c, 6)
# with ties to the smallest cluster, means via order-independent
# DECIMAL(38,18) sums rounded to 9 dp) so the oracle reproduces the
# buckets bit-exactly from unrolled CTEs (kmeans_oracle_prefix); the
# prune is the REAL production core semdedup_prune_bucketed — the
# same GEMM-prefilter + boundary-sliver sequential refine kernel the
# 2-level K∝N path runs, here certified under k-means (Voronoi)
# bucket shapes rather than d10's sign-pattern shapes. The numpy
# argmin ASSIGN of kmeans_bucket_assign{,_2level} stays a recall-knob
# utility (bucket borders are approximate exactly as in s02/s05) and
# is covered by its own unit/equivalence tests + the x100 rehearsal.
#
# Scale shape: 2 Lloyd iterations = 2×(map-side assign vs a 1-row
# broadcast centroid row + one posexplode partial-agg shuffle of
# k×dim decimal sums); the prune shuffles once on bucket and runs one
# GEMM per bucket. K is fixed at catalog scale; production K∝N uses
# the 2-level router (N·√K per level) — see kmeans_bucket_assign_2level.
# ---------------------------------------------------------------------------

D14_K = 8  # same bucket granularity as d10's 2³ hyperplane buckets
D14_ITERS = 2  # bucketing needs separation, not convergence


def _d14_oracle() -> str:
    from .similarity import kmeans_oracle_prefix

    t = D14_ITERS
    return (
        kmeans_oracle_prefix(D14_K, D14_ITERS)
        + ",\n"
        + _semdedup_hits_sql(f"a{t}", "cluster")
        + "\n"
    )


@query("d14_semdedup_kmeans", oracle=_d14_oracle())
def d14_semdedup_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .similarity import embeddings, kmeans_exact

    assigned, _ = kmeans_exact(embeddings(spark, sf_dir), D14_K, D14_ITERS)
    return semdedup_prune_bucketed(
        assigned.withColumnRenamed("cluster", "bucket"), SEMDEDUP_TAU
    )


# ---------------------------------------------------------------------------
# D11 — verbatim cross-document overlap (the detection core of Lee et
# al. 2021, "Deduplicating Training Data Makes Language Models
# Better"): report document pairs sharing at least MIN_SHARED
# distinct token n-grams — the near-verbatim-copy signal that Jaccard
# (d03/d07, whole-document set overlap) dilutes away for a long doc
# embedding a short copied span. Lee et al. find spans via a suffix
# array; the distributed equivalent indexes distinct n-grams and
# counts gram co-occurrence per pair.
#
# Scale shape: the gram inverted index (doc, gram) is linear in
# corpus tokens and shuffles once on the gram key. The only pair
# expansion is WITHIN a gram's posting list, and stop-grams (posting
# list > HOT_GRAM_CAP docs) are dropped first — the standard guard
# that bounds per-gram work at C(cap,2) regardless of corpus size;
# dropping them loses no true near-verbatim pairs in practice because
# a copied span of any length contributes many grams, most of them
# rare. Pair counting then shuffles on the uniform (a,b) key.
#
# Determinism: integer counts, exact everywhere; the cap rule is part
# of the operator definition and the oracle applies it identically.
# ---------------------------------------------------------------------------

OVERLAP_NGRAM = 4
HOT_GRAM_CAP = 20
MIN_SHARED_GRAMS = 5

D11_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
g AS (
  SELECT doc_id,
         unnest(list_distinct(
           CASE WHEN len(toks) >= {OVERLAP_NGRAM}
                THEN list_transform(range(1, len(toks) - {OVERLAP_NGRAM - 2}),
                                    i -> array_to_string(
                                           list_slice(toks, i, i + {OVERLAP_NGRAM - 1}), ' '))
                ELSE [] END)) AS gram
  FROM t
),
rare AS (
  SELECT gram FROM g GROUP BY gram HAVING count(*) <= {HOT_GRAM_CAP}
),
gr AS (
  SELECT g.doc_id, g.gram FROM g JOIN rare USING (gram)
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       count(*) AS n_shared_grams
FROM gr a JOIN gr b ON a.gram = b.gram AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(*) >= {MIN_SHARED_GRAMS}
"""


@query("d11_verbatim_overlap", oracle=D11_ORACLE)
def d11_verbatim_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lee-et-al-style copied-span detection: hashed n-gram inverted
    index, stop-gram cap, per-pair shared-gram counts."""
    docs = table(spark, sf_dir, "documents")
    from .text import tokens

    toks = tokens("text")
    n = F.size(toks)
    w = OVERLAP_NGRAM
    # Index on a 64-bit gram hash, not gram text — and hash each
    # token WINDOW directly (xxhash64 over the sliced array) rather
    # than building gram strings first: the posting list that gets
    # shuffled/materialized/self-joined is two longs per row (~10×
    # less traffic than doc_id + multi-word string) and the dominant
    # map stage skips len(gram) bytes of string assembly per window
    # (~20% measured). A 64-bit collision would merge two grams'
    # posting lists (P ≈ |grams|²/2⁶⁵ — ~10⁻⁶ at 10⁷ grams; at a
    # 100 TB corpus, concatenate two independent hashes for 128
    # bits). The ORACLE joins on gram text — row-for-row agreement
    # doubles as the collision check.
    gram_hashes = F.when(
        n >= w,
        F.transform(
            F.sequence(F.lit(1), n - (w - 1)),
            lambda i: F.xxhash64(F.slice(toks, i, w)),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    # Materialize the hashed gram index ONCE, before anything
    # consumes it: the gram build + per-doc distinct is the
    # expensive stage (everything downstream is sub-second at
    # sf0.1) and it feeds three consumers (stop-gram census,
    # posting list, both self-join sides) — without truncation
    # Catalyst re-plans it per consumer: 4 corpus scans. Same
    # lesson as d07's shingle table; reliable checkpoint on a real
    # cluster. widen_scan: the gram build would run inside the
    # fixture's single scan split — widening parallelizes the
    # checkpoint job (measured 2.82s → 1.47s median at sf0.1;
    # no-op at real split counts).
    g = widen_scan(docs.select("doc_id", "text")).select(
        "doc_id", F.explode(F.array_distinct(gram_hashes)).alias("gh")
    ).localCheckpoint(eager=True)
    rare = (
        g.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= HOT_GRAM_CAP)
        .select("gh")
    )
    gr = g.join(rare, "gh")
    pairs = (
        gr.alias("a")
        .join(
            gr.alias("b"),
            (F.col("a.gh") == F.col("b.gh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
    )
    return (
        pairs.groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
        .filter(F.col("n_shared_grams") >= MIN_SHARED_GRAMS)
    )


# ---------------------------------------------------------------------------
# D12 — quality-ranked canonical selection (keep-BEST, not keep-first):
# within each duplicate group, keep the highest-quality variant — the
# production step after any dedup stage (C4/RefinedWeb keep the best
# page of a duplicate cluster, not the lowest id; min-id keep-first
# like d09's is an arbitrary tiebreak that systematically discards
# better-formatted variants). Group carrier here is d09's canonical-
# form digest (shared canon_key_expr, SQL-expressible end to end);
# at 100 TB the identical code runs with d06's near-dup component_id
# as the key column instead — the shape (score map-side, ONE window
# shuffle on the group key) is unchanged.
#
# Determinism contract: ranking over a double orders by the ROUNDED
# quality (registry.py), doc_id ascending tie-break; the quality
# expression tree is the shared t02 definition, bit-stable across
# engines. One shuffle total: rank and group-size come from the same
# window partition.
# ---------------------------------------------------------------------------

D12_ORACLE: str  # assigned below (needs text.py's QUALITY_SQL)


def _d12_oracle() -> str:
    from .text import QUALITY_SQL

    return f"""
WITH scored AS (
  SELECT doc_id,
         {CANON_KEY_SQL} AS canon_key,
         ROUND({QUALITY_SQL}, 6) AS best_quality
  FROM documents
), ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY canon_key
                            ORDER BY best_quality DESC, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY canon_key) AS nv
  FROM scored
)
SELECT canon_key,
       doc_id AS best_doc_id,
       best_quality,
       CAST(nv AS BIGINT) AS n_variants
FROM ranked WHERE rn = 1
"""


D12_ORACLE = _d12_oracle()


@query("d12_keep_best_quality", oracle=D12_ORACLE)
def d12_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text import quality_expr

    docs = table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        canon_key_expr().alias("canon_key"),
        F.round(quality_expr(), 6).alias("best_quality"),
    )
    w = W.partitionBy("canon_key").orderBy(
        F.col("best_quality").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .withColumn("nv", F.count(F.lit(1)).over(W.partitionBy("canon_key")))
        .filter(F.col("rn") == 1)
        .select(
            "canon_key",
            F.col("doc_id").alias("best_doc_id"),
            "best_quality",
            F.col("nv").alias("n_variants"),
        )
    )


# ---------------------------------------------------------------------------
# D13 — blocked edit-distance entity resolution (record linkage):
# within-brand part-name pairs at Levenshtein distance ≤ 2 — the
# classic blocking + pairwise-comparison linkage step (Fellegi-Sunter
# shape), and the CHARACTER-level fuzzy-match family member the
# token-set ops (d03/d07 Jaccard) cannot express: a one-letter typo
# is invisible to word-set similarity but is exactly edit distance 1.
#
# Scale shape:
# blocking on brand ALONE is a fixed-cardinality key (~25 TPC-H
# brands), so block populations grow LINEARLY with corpus size and
# candidate pairs Σ_block n_b² grow QUADRATICALLY — at 100× data
# that is ~10,000× the pairwise work, on 25 under-parallelized join
# keys. And this is true of ANY data-independent blocking key: a
# length band (Levenshtein ≤ k ⇒ |Δlen| ≤ k, so band width W > k
# with adjacent-band union is completeness-preserving — kept as
# `edit_distance_pairs`, the simple core, still the small-string
# path) multiplies the block count by a CONSTANT (~8 populated
# bands over part-name lengths) without changing the Θ(n²/B)
# asymptote. The production path is therefore PassJoin segment
# blocking (`passjoin_pairs`): partition the index-side name into
# k+1 segments — k edits leave at least one untouched (pigeonhole),
# so it appears verbatim in the other name within a ±k start
# displacement — and equi-join on the SEGMENT STRING itself. Key
# cardinality now grows with the corpus (keys are data), so
# per-key populations are governed by name-collision rates, not
# corpus size, and candidate volume tracks genuine similarity:
# measured sub-quadratic at ×10 (SCALE_REHEARSAL.json) where the
# banded scheme is quadratic by construction. The d03-style
# `_guard_block_population` enforces the bounded-block contract
# in-plan on the segment index either way.
#
# Per-pair cost is bounded too: Spark's 3-arg
# levenshtein(l, r, THRESHOLD) early-exits the DP once distance must
# exceed the bound (returns -1), turning O(|s|·|t|) per pair into
# O(threshold·min(|s|,|t|)) — the bounded-distance band
# optimization; the filter keeps only real matches. JVM codegen end
# to end, zero Python (explode of a 3-literal array is codegen'd).
#
# Determinism: edit distance is integer-exact and symmetric;
# key_a < key_b emits each unordered pair exactly once.
# ---------------------------------------------------------------------------

D13_MAX_EDIT = 2
# band width W must exceed D13_MAX_EDIT for the adjacent-band lemma;
# 4 keeps ~6-10 populated bands over TPC-H part-name lengths, giving
# brand × band ≈ 150-250 blocks from 25 brands
D13_LEN_BAND = 4

D13_ORACLE = f"""
SELECT a.p_brand AS brand,
       a.p_partkey AS key_a,
       b.p_partkey AS key_b,
       a.p_name AS name_a,
       b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_dist
FROM part a
JOIN part b
  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) <= {D13_MAX_EDIT}
"""


def edit_distance_pairs(
    records: DataFrame,
    key_col: str,
    name_col: str,
    *block_cols: str,
    max_edit: int = D13_MAX_EDIT,
    len_band: int = D13_LEN_BAND,
    max_block_docs: int | None = DEFAULT_MAX_BLOCK_DOCS,
) -> DataFrame:
    """Blocked bounded-Levenshtein record linkage core (factored so
    the banding lemma is unit/property-testable off the catalog).

    Emits ``(key_a, key_b, name_a, name_b, edit_dist)`` (plus
    ``block_cols`` from the ``a`` side) for every unordered record
    pair in the same ``block_cols`` block with
    ``levenshtein(name_a, name_b) ≤ max_edit``, each pair exactly
    once (``key_a < key_b``).

    Completeness of the length banding (requires
    ``len_band > max_edit``, asserted): Levenshtein ≤ k ⇒
    |Δlen| ≤ k < W ⇒ |Δband| ≤ 1, and side ``a``'s explode over
    {band−1, band, band+1} meets side ``b``'s own band exactly once.
    """
    if len_band <= max_edit:
        raise ValueError(
            f"len_band={len_band} must exceed max_edit={max_edit}: "
            "a pair at the edit bound can differ in length by "
            "max_edit, and the adjacent-band union only covers "
            "|Δband| <= 1 when the band is wider than that"
        )
    band = F.floor(F.length(F.col(name_col)) / F.lit(len_band))
    base = records.withColumn("_band", band)
    guarded = _guard_block_population(
        base, (*block_cols, "_band"), max_block_docs
    )
    probe = guarded.withColumn(
        "_band_key",
        F.explode(
            F.array(
                F.col("_band") - F.lit(1),
                F.col("_band"),
                F.col("_band") + F.lit(1),
            )
        ),
    ).alias("a")
    index = base.withColumn("_band_key", F.col("_band")).alias("b")
    cond = (F.col(f"a.{key_col}") < F.col(f"b.{key_col}")) & (
        F.col("a._band_key") == F.col("b._band_key")
    )
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    return (
        probe.join(index, cond)
        .withColumn(
            "edit_dist",
            F.expr(f"levenshtein(a.{name_col}, b.{name_col}, {max_edit})"),
        )
        .filter(F.col("edit_dist") >= 0)
        .select(
            *[F.col(f"a.{c}") for c in block_cols],
            F.col(f"a.{key_col}").alias("key_a"),
            F.col(f"b.{key_col}").alias("key_b"),
            F.col(f"a.{name_col}").alias("name_a"),
            F.col(f"b.{name_col}").alias("name_b"),
            F.col("edit_dist").cast("int").alias("edit_dist"),
        )
    )


def _passjoin_seg_geometry(df: DataFrame, lcol: str, p: int) -> DataFrame:
    """Even-partition segment geometry for a source string of length
    ``lcol`` split into ``p`` segments, given a segment index column
    ``j``: with q = ⌊l/p⌋ and r = l mod p, the first p−r segments
    have length q and the last r have q+1 (the PassJoin partition
    scheme — Li, Deng & Feng, VLDB 2011, a public algorithm).
    Adds ``_start`` (0-based char offset) and ``_slen``."""
    q = F.floor(F.col(lcol) / F.lit(p))
    r = F.col(lcol) % F.lit(p)
    return df.withColumn(
        "_start",
        F.col("j") * q + F.greatest(F.lit(0), F.col("j") - (F.lit(p) - r)),
    ).withColumn(
        "_slen",
        q + F.when(F.col("j") >= F.lit(p) - r, F.lit(1)).otherwise(F.lit(0)),
    )


def passjoin_small_len(max_edit: int) -> int:
    """Strings at or below this length take the banded small-string
    path: PassJoin needs every one of its max_edit+1 segments
    non-empty, and below ~2 segments' worth of characters the
    segment keys are too short to block on anyway."""
    return 2 * (max_edit + 1)


def _passjoin_candidates(
    records: DataFrame,
    key_col: str,
    name_col: str,
    *block_cols: str,
    max_edit: int = D13_MAX_EDIT,
    max_block_docs: int | None = DEFAULT_MAX_BLOCK_DOCS,
) -> DataFrame:
    """PassJoin segment-blocked candidate pairs: every unordered
    record pair with both names LONGER than ``passjoin_small_len``
    and Levenshtein ≤ ``max_edit`` is emitted exactly once
    (``key_a < key_b``), as ``(*block_cols, key_a, key_b, name_a,
    name_b)``; pairs beyond the edit bound may also appear (the
    caller verifies with the 3-arg bounded ``levenshtein``).

    Completeness (pigeonhole, PassJoin / Ed-Join family): k = max_edit
    edits touch at most k of the k+1 index-side segments, so at least
    one segment of r survives untouched in s, as a contiguous
    substring whose start is displaced by the net insert/delete count
    before it — at most k positions. Probing every substring of s
    whose (source-length, segment-index, start±k) geometry matches
    therefore meets every qualifying pair; ``distinct()`` collapses
    the multiplicity (a pair can match on several segments and in
    both index/probe roles).

    Scale shape — why this exists instead of a fixed blocking key:
    the join key is ``(block, source_len, segment_index, segment
    STRING)``, whose cardinality grows WITH the corpus (names are
    data), so per-key populations are bounded by name-collision
    rates, not corpus size: candidate volume tracks the number of
    genuinely similar pairs plus segment collisions, both ~linear for
    realistic (Heaps-law) name diversity — measured in
    SCALE_REHEARSAL.json — where any fixed-cardinality scheme
    (brand, length band, …) is Θ(n²/B). Per-record fan-out is a
    constant: k+1 index rows, ≤ (2k+1)·(k+1)·(2k+1) probe substrings.
    ``_guard_block_population`` on the index side still converts a
    pathological hot segment (all-identical names) into a fail-fast.
    """
    p = max_edit + 1
    small = passjoin_small_len(max_edit)
    base = records.select(
        *block_cols, key_col, name_col
    ).withColumn("_len", F.length(F.col(name_col)))
    big = base.filter(F.col("_len") > small)

    jseq = F.explode(F.sequence(F.lit(0), F.lit(max_edit))).alias("j")

    idx = _passjoin_seg_geometry(big.select("*", jseq), "_len", p)
    idx = idx.withColumn(
        "_seg", F.expr(f"substring({name_col}, _start + 1, _slen)")
    )
    idx = _guard_block_population(
        idx, (*block_cols, "_len", "j", "_seg"), max_block_docs
    )
    idx = idx.select(
        *block_cols,
        F.col(key_col).alias("_ikey"),
        F.col(name_col).alias("_iname"),
        F.col("_len").alias("_ilen"),
        "j",
        "_seg",
    ).alias("i")

    # probe side: for each candidate INDEX length l within ±k of this
    # record's own length (only l past the small-string threshold —
    # shorter partners are covered by the banded path), enumerate the
    # ≤ 2k+1 substrings whose start lies within the displacement
    # window of that (l, j) segment.
    probe = big.withColumn(
        "l",
        F.explode(
            F.sequence(
                F.greatest(F.col("_len") - F.lit(max_edit), F.lit(small + 1)),
                F.col("_len") + F.lit(max_edit),
            )
        ),
    ).select("*", jseq)
    probe = _passjoin_seg_geometry(probe, "l", p)
    probe = (
        probe.withColumn(
            "_lo", F.greatest(F.lit(0), F.col("_start") - F.lit(max_edit))
        )
        .withColumn(
            "_hi",
            F.least(
                F.col("_len") - F.col("_slen"),
                F.col("_start") + F.lit(max_edit),
            ),
        )
        .filter(F.col("_lo") <= F.col("_hi"))
        .withColumn("s", F.explode(F.sequence(F.col("_lo"), F.col("_hi"))))
        .withColumn(
            "_sub", F.expr(f"substring({name_col}, s + 1, _slen)")
        )
    )
    probe = probe.select(
        *block_cols,
        F.col(key_col).alias("_pkey"),
        F.col(name_col).alias("_pname"),
        "l",
        "j",
        "_sub",
    ).alias("p")

    cond = (
        (F.col("i._ilen") == F.col("p.l"))
        & (F.col("i.j") == F.col("p.j"))
        & (F.col("i._seg") == F.col("p._sub"))
        & (F.col("i._ikey") != F.col("p._pkey"))
    )
    for c in block_cols:
        cond = cond & (F.col(f"i.{c}") == F.col(f"p.{c}"))
    a_first = F.col("i._ikey") < F.col("p._pkey")
    return (
        probe.join(idx, cond)
        .select(
            *[F.col(f"i.{c}") for c in block_cols],
            F.when(a_first, F.col("i._ikey"))
            .otherwise(F.col("p._pkey"))
            .alias("key_a"),
            F.when(a_first, F.col("p._pkey"))
            .otherwise(F.col("i._ikey"))
            .alias("key_b"),
            F.when(a_first, F.col("i._iname"))
            .otherwise(F.col("p._pname"))
            .alias("name_a"),
            F.when(a_first, F.col("p._pname"))
            .otherwise(F.col("i._iname"))
            .alias("name_b"),
        )
        .distinct()
    )


def passjoin_pairs(
    records: DataFrame,
    key_col: str,
    name_col: str,
    *block_cols: str,
    max_edit: int = D13_MAX_EDIT,
    max_block_docs: int | None = DEFAULT_MAX_BLOCK_DOCS,
) -> DataFrame:
    """Bounded-Levenshtein record linkage with PassJoin segment
    blocking — same contract and output schema as
    ``edit_distance_pairs`` (every unordered same-block pair at
    ``levenshtein ≤ max_edit``, exactly once, ``key_a < key_b``),
    but with DATA-DEPENDENT candidate keys so candidate volume
    scales with name similarity, not corpus size squared.

    The pair space is partitioned exactly in two by the small-string
    threshold T = ``passjoin_small_len``:
    - both names longer than T → PassJoin segment candidates
      (``_passjoin_candidates``), then bounded-DP verify;
    - min(len) ≤ T → the banded path over the ``len ≤ T + max_edit``
      subset (any partner of a ≤T-length name is within max_edit of
      it in length), filtered to min-side ≤ T so no pair is emitted
      by both paths.
    """
    small = passjoin_small_len(max_edit)
    cand = _passjoin_candidates(
        records,
        key_col,
        name_col,
        *block_cols,
        max_edit=max_edit,
        max_block_docs=max_block_docs,
    )
    big_pairs = (
        cand.withColumn(
            "edit_dist",
            F.expr(f"levenshtein(name_a, name_b, {max_edit})"),
        )
        .filter(F.col("edit_dist") >= 0)
        .withColumn("edit_dist", F.col("edit_dist").cast("int"))
    )
    small_side = records.filter(
        F.length(F.col(name_col)) <= small + max_edit
    )
    small_pairs = edit_distance_pairs(
        small_side,
        key_col,
        name_col,
        *block_cols,
        max_edit=max_edit,
        # the banded path's completeness lemma needs band width >
        # max_edit; the fixed default only covers max_edit ≤ 3, so
        # widen with the bound (a fixed band would make max_edit=4
        # raise ValueError from this internal call despite PassJoin
        # itself supporting any bound)
        len_band=max(D13_LEN_BAND, max_edit + 1),
        max_block_docs=max_block_docs,
    ).filter(
        F.least(F.length("name_a"), F.length("name_b")) <= F.lit(small)
    )
    return big_pairs.unionByName(small_pairs)


@query("d13_edit_distance_linkage", oracle=D13_ORACLE)
def d13_edit_distance_linkage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """D13 — blocked edit-distance entity resolution: within-brand
    part-name pairs at Levenshtein ≤ 2, via the threshold (banded-DP)
    variant so per-pair cost is bounded. Candidate generation is
    PassJoin segment blocking (``passjoin_pairs``): ANY
    fixed-cardinality blocking key — brand alone (~25 values), even
    brand × length-band (~200) — has block populations that grow
    linearly with the corpus and Σn_b² candidates that grow
    quadratically; PassJoin's keys are substrings of the names
    themselves, so key cardinality grows with the data and candidate
    volume tracks actual name similarity (measured sub-quadratic in
    SCALE_REHEARSAL.json), with `_guard_block_population` turning a
    pathological hot segment into a fail-fast exactly as d03 does."""
    p = table(spark, sf_dir, "part")
    pairs = passjoin_pairs(p, "p_partkey", "p_name", "p_brand")
    return pairs.select(
        F.col("p_brand").alias("brand"),
        "key_a",
        "key_b",
        "name_a",
        "name_b",
        "edit_dist",
    )


# ---------------------------------------------------------------------------
# D15 — FUZZY benchmark decontamination: flag training documents whose
# token-set Jaccard against ANY held-out eval document is ≥ 0.9 — the
# doc-level near-duplicate decontamination pass (GPT-3 appendix C's
# "fuzzy dedup" of eval overlap; The Pile §6.3), complementary to
# p09/p10's EXACT n-gram collision flagging: a paraphrased or lightly
# edited eval leak shares no long verbatim gram but keeps a
# near-identical token set, and only the fuzzy pass catches it.
#
# Spark-first plan — ZERO corpus-side exchanges (vs d04's one):
# cross-corpus LSH is structurally asymmetric (eval suites are MBs;
# the corpus is the 100 TB side), so instead of d04's self-join every
# stage becomes a per-row expression on the corpus scan:
#   1. MinHash signatures + the 21 band keys computed MAP-SIDE by the
#      Arrow-vectorized NumPy kernel d04 also runs
#      (``minhash_keys``): one md5-64 base hash per distinct
#      token, then 126 splitmix64-mixed derived functions with per-row
#      mins via minimum.reduceat — see the kernel docstring for the
#      hash-family independence argument and the measured 2 orders of
#      magnitude over the Catalyst higher-order-function form
#      (interpreted, per-element boxed allocation: 40 ms/doc and
#      GC-bound at 50-token docs vs ~0.1 ms/doc vectorized).
#   2. The EVAL index — (band, bkey) → eval doc, carrying its hashed
#      token set, set size, and full key array — is BROADCAST (21 rows
#      per eval doc).
#   3. Corpus rows posexplode their 21 keys MAP-SIDE and probe the
#      broadcast index; first-shared-band emission (both key arrays
#      are in-row post-join) emits each pair once without a distinct()
#      shuffle; the d04 set-size necessary condition
#      (10·min(nw) ≥ 9·max(nw) for J ≥ 0.9) prunes inside the join.
#   4. Exact-Jaccard verification map-side: array_intersect of the
#      two in-row hashed token sets — no re-join with the corpus.
# Physical plan: Scan → MapInArrow → Generate → BroadcastHashJoin →
# Filter → Project. No ShuffleExchange anywhere (plan-shape-tested) —
# the whole decontamination is one pass over the corpus, which is the
# optimal 100 TB shape for this op.
#
# Recall: P[miss | J ≥ 0.9] = (1 − 0.9⁶)²¹ ≈ 1.2e-7 per pair with
# 21×6 banding, and the output is exact-verified, so false positives
# are structurally zero — the same contract d04 certifies.
# Eval split: doc_id % 97 == 0 (P09_EVAL_MOD's derivation, kept
# numerically local to avoid an import cycle; consistency pinned in
# tests against pipeline.P09_EVAL_MOD).
# ---------------------------------------------------------------------------

D15_EVAL_MOD = 97  # == pipeline.P09_EVAL_MOD (test-pinned)

D15_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
  FROM documents
),
sizes AS (
  SELECT doc_id, COUNT(*) AS nw FROM tok GROUP BY doc_id
),
inter AS (
  SELECT a.doc_id AS doc_id, b.doc_id AS eval_id, COUNT(*) AS n_common
  FROM tok a JOIN tok b ON a.w = b.w
  WHERE a.doc_id % {D15_EVAL_MOD} <> 0 AND b.doc_id % {D15_EVAL_MOD} = 0
  GROUP BY 1, 2
)
SELECT i.doc_id, i.eval_id,
       (CAST(n_common AS DOUBLE) / (sa.nw + sb.nw - n_common)) AS jaccard
FROM inter i
JOIN sizes sa ON i.doc_id = sa.doc_id
JOIN sizes sb ON i.eval_id = sb.doc_id
WHERE (CAST(n_common AS DOUBLE) / (sa.nw + sb.nw - n_common))
      >= {MINHASH_THRESHOLD}
"""


def minhash_keys(doc_id, text):
    """Batch kernel shared by d04, d15 and st13: one (doc_id, text)
    batch → (doc_id, toks, nw, keys, g1, g2) — the distinct-token
    set as hashed longs, its size, the 21 LSH band keys of a
    126-function MinHash signature, and two token-SET content folds.

    Hash family: base(t) = first 8 little-endian bytes of md5(t);
    h_i(t) = splitmix64(base(t) XOR salt_i), salt_i = splitmix64(i+1).
    Each h_i is a full avalanche over (base, i) — functions are
    independent, so the j^rows banding math holds. A linear
    composition h₁ + i·h₂ computes signatures faster, but its
    functions are dependent across i: a token whose (h₁, h₂) are
    jointly small wins the min for long runs of consecutive i, rows
    within a band correlate, and banding both loses recall (959,577 of
    964,854 true pairs at sf0.1) and floods buckets with mid-similarity
    collisions. The only shared failure channel is a base-hash
    collision between two distinct tokens (2⁻⁶⁴ per pair, p09's
    accepted error model); the same base hashes are the ``toks`` every
    consumer intersects to verify Jaccard. Deterministic pure-integer
    ops — partition-independent.

    Why a kernel and not Catalyst expressions: the equivalent
    transform/array_min higher-order-function tree is interpreted
    with per-element boxed allocation — measured 40 ms/doc (GC-bound)
    on 50-token docs at x10 vs ~0.1 ms/doc here (md5 once per token,
    NumPy-vectorized mixing, minimum.reduceat row mins)."""
    import hashlib

    import numpy as np
    import pyarrow as pa

    def mix(x):
        # splitmix64 finalizer, vectorized over uint64 (wraparound is
        # numpy's native uint64 behavior — no ANSI overflow)
        x = x + np.uint64(0x9E3779B97F4A7C15)
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))

    salts = mix(np.arange(1, MINHASH_K + 1, dtype=np.uint64))
    md5 = hashlib.md5

    # NULL-text rows are dropped (no token set to sign); an all-NULL
    # batch emits nothing
    keep = np.array([t is not None for t in text], dtype=bool)
    if not keep.any():
        return None
    doc_id, text = doc_id[keep], text[keep]
    # dict.fromkeys == array_distinct (first-occurrence order;
    # split(" ") keeps empties exactly like Spark's split on the
    # single-space regex)
    toks = [list(dict.fromkeys(t.split(" "))) for t in text]
    lens = np.fromiter((len(t) for t in toks), dtype=np.int64, count=len(toks))
    starts = np.zeros(len(toks), dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    base = np.fromiter(
        (
            int.from_bytes(md5(t.encode()).digest()[:8], "little")
            for row in toks
            for t in row
        ),
        dtype=np.uint64,
        count=int(lens.sum()),
    )
    # one salt at a time keeps peak memory O(n_tokens), not
    # O(K·n_tokens); reduceat needs non-empty segments — text is not
    # null here and "".split(" ") is [''], so lens ≥ 1
    sig = np.empty((MINHASH_K, len(toks)), dtype=np.uint64)
    for i in range(MINHASH_K):
        sig[i] = np.minimum.reduceat(mix(base ^ salts[i]), starts)
    keys = np.empty((LSH_BANDS, len(toks)), dtype=np.uint64)
    for b in range(LSH_BANDS):
        k = sig[b * LSH_ROWS]
        for r in range(1, LSH_ROWS):
            k = mix(k ^ sig[b * LSH_ROWS + r])
        keys[b] = k
    # two order-invariant 64-bit content-SET folds (xor / wraparound-
    # sum of independently mixed base hashes) — together with nw they
    # key the exact token-set duplicate groups d04 collapses before
    # LSH. Two independent folds ⇒ a false group merge needs a
    # simultaneous collision in both (~2⁻¹²⁸ per set pair).
    m1 = mix(base ^ np.uint64(0xD04C0FFEE0000001))
    m2 = mix(base ^ np.uint64(0xD04C0FFEE0000002))
    offsets = np.append(starts, len(base)).astype(np.int32)
    return (
        doc_id,
        pa.ListArray.from_arrays(offsets, base.astype(np.int64)),
        lens.astype(np.int32),
        keys.astype(np.int64).T,
        np.bitwise_xor.reduceat(m1, starts).astype(np.int64),
        np.add.reduceat(m2, starts).astype(np.int64),
    )


def _minhash(df: DataFrame) -> DataFrame:
    """``minhash_keys`` over ``df``'s (doc_id, text)."""
    return map_batches(
        df.select("doc_id", "text"),
        minhash_keys,
        "doc_id long, toks array<long>, nw int, keys array<long>, "
        "g1 long, g2 long",
    )


def minhash_prepared(docs: DataFrame) -> DataFrame:
    """d04's map-side signature table (doc_id, toks, nw, keys, g1,
    g2) — see ``minhash_keys`` — in ONE pass over (doc_id,
    text) with no aggregation shuffle. The per-row kernel parallelizes
    with the scan (``widen_scan`` pins fixture-scale parallelism; a
    no-op once the input has real splits), so the first exchange in
    the d04 plan is the tiny group-collapse aggregation."""
    return _minhash(widen_scan(docs.select("doc_id", "text")))


#: Group-key columns of ``minhash_prepared`` output: two independent
#: 64-bit set folds + the set size. Identical token SET ⇔ identical
#: (nw, g1, g2) up to the documented ~2⁻¹²⁸ double-fold collision.
_GROUP_COLS = ["nw", "g1", "g2"]


def d04_grouped(
    docs: DataFrame, prepared: DataFrame | None = None
) -> DataFrame:
    """One row per DISTINCT token set: (nw, g1, g2, gid, keys) where
    gid = min doc_id of the group (the LSH representative). One tiny
    exchange on the uniform content-fold key — the exact-duplicate
    collapse every production near-dedup runs before MinHash
    (boilerplate cliques are the dominant duplication mode in web
    corpora), done here with group METADATA only (decide with small
    rows). ``first(keys)`` is deterministic because every
    member of a group has the identical signature by construction
    (same token set ⇒ same base hashes ⇒ same mins). ``prepared``
    lets the full d04 pipeline pass its materialized kernel output so
    the kernel is not re-run per consuming subtree."""
    if prepared is None:
        prepared = minhash_prepared(docs)
    return prepared.groupBy(*_GROUP_COLS).agg(
        F.min("doc_id").alias("gid"),
        F.first("keys").alias("keys"),
    )


def cross_corpus_neardup(
    train: DataFrame,
    ev: DataFrame,
    threshold: float = MINHASH_THRESHOLD,
) -> DataFrame:
    """The d15 kernel (see block comment): broadcast-LSH cross-corpus
    near-dup with in-row signatures, first-shared-band emission and
    map-side exact-Jaccard verification. ``train``/``ev`` need columns
    (doc_id, text); returns (doc_id, eval_id, jaccard) with
    jaccard ≥ threshold. Zero shuffles on the ``train`` side."""
    from fractions import Fraction

    ratio = Fraction(str(threshold))
    num, den = ratio.numerator, ratio.denominator
    ev_idx = (
        _minhash(ev)
        .select(
            F.col("doc_id").alias("eval_id"),
            F.col("toks").alias("etoks"),
            F.col("nw").alias("enw"),
            F.col("keys").alias("ekeys"),
        )
        .select(
            "eval_id",
            "etoks",
            "enw",
            "ekeys",
            F.posexplode("ekeys").alias("band", "bkey"),
        )
    )
    tr = _minhash(train).select(
        "doc_id",
        "toks",
        "nw",
        "keys",
        F.posexplode("keys").alias("band", "bkey"),
    )
    a, e = tr.alias("a"), ev_idx.alias("e")
    cond = (
        (F.col("a.band") == F.col("e.band"))
        & (F.col("a.bkey") == F.col("e.bkey"))
        # d04's set-size necessary condition for J ≥ num/den — prunes
        # mid-similarity collisions inside the broadcast join, exact
        # at the boundary (integer arithmetic)
        & (F.col("a.nw") * den >= F.col("e.enw") * num)
        & (F.col("e.enw") * den >= F.col("a.nw") * num)
    )
    # first-shared-band emission (cross-corpus buckets are bounded by
    # the eval side, so no cap): a pair colliding in several bands is
    # emitted ONLY at its first, checked in-row against both carried
    # key arrays. An unrolled OR chain of element_at comparisons
    # measured 4× slower than this exists() form in an interpreted
    # join condition.
    earlier = F.when(F.col("a.band") == 0, F.lit(False)).otherwise(
        F.exists(
            F.sequence(F.lit(1), F.col("a.band")),
            lambda i: F.element_at(F.col("a.keys"), i)
            == F.element_at(F.col("e.ekeys"), i),
        )
    )
    nc = F.size(F.array_intersect(F.col("a.toks"), F.col("e.etoks")))
    jac = nc.cast("double") / (F.col("a.nw") + F.col("e.enw") - nc)
    return (
        a.join(F.broadcast(e), cond)
        .filter(~earlier)
        .select(
            F.col("a.doc_id").alias("doc_id"),
            F.col("e.eval_id").alias("eval_id"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
    )


def widen_scan(df: DataFrame) -> DataFrame:
    """Round-robin repartition a scan ONLY when it yields fewer splits
    than the session's shuffle width — the map-side dual of
    ``pin_expansion_parallelism``. A shuffle-free plan (d15) gets its
    parallelism from input splits; at production scale file count ≫
    cores so this is a structural no-op, but the single-file KB-sized
    fixtures plan as ONE split and would serialize the whole per-row
    signature computation onto one core. The widener shuffles raw
    (doc_id, text) rows — exactly the tiny case where that is free —
    and disappears from the plan the moment the input has real
    splits.

    Callers: the per-row kernel and signature ids (the SimHash and
    MinHash builds, d07, d11, d15, d16, t24, t25) and q07, whose
    broadcast probe chain runs inside the scan stage. Each keeps it
    because it pays on 4 cores at sf0.1: t24 2.48 against 5.79 s
    without it, t25 0.98 against 1.77 s, d11 1.51 against 2.81 s, and
    q07 0.80 against 0.87 s in two runs of 10 alternating reps (on 2
    cores q07 was 1–3% faster without it). A plain aggregation over
    the scan (q01, q03) does not call it: its partial aggregation
    already runs in the scan tasks, and the round-robin exchange's
    extra stage and sort cost more than the widening gives back."""
    if df.isStreaming:
        # ``.rdd`` raises AnalysisException on a streaming DataFrame
        # (and even on batch it pays a full plan conversion just to
        # count splits). Streams get their parallelism from the
        # source's partitioning — microbatch splits per file/topic
        # partition — so the fixture-widener is meaningless there;
        # return unchanged so the helper is safe by construction.
        return df
    n = get_shuffle_partitions(df.sparkSession)
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)


@query("d15_fuzzy_decontamination", oracle=D15_ORACLE)
def d15_fuzzy_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D15 — doc-level fuzzy benchmark decontamination (see block
    comment): training docs within MinHash-verified Jaccard ≥ 0.9 of
    any eval-split doc, via a broadcast LSH index of the eval side —
    zero corpus-side shuffles (the fixture-only ``widen_scan``
    round-robin aside)."""
    docs = table(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % D15_EVAL_MOD == 0)
    train = widen_scan(docs.filter(F.col("doc_id") % D15_EVAL_MOD != 0))
    return cross_corpus_neardup(train, ev)


# ---------------------------------------------------------------------------
# D16 — span-level exact-substring dedup OUTPUT (the production step of
# Lee et al. 2021's ExactSubstr, "Deduplicating Training Data Makes
# Language Models Better"): d11 *detects* cross-document copied spans
# pairwise; d16 *emits the deduplicated corpus* — every width-W token
# window whose content occurs anywhere else in the corpus (another doc
# OR earlier in the same doc) is removed except at its one canonical
# occurrence, and each document's retained-token text is reconstructed
# map-side. Lee et al. pick an arbitrary single keeper per duplicated
# substring via a suffix array; the distributed equivalent selects the
# lexicographic-min (doc_id, pos) occurrence per gram — deterministic,
# and expressible as one map-side-combinable aggregate. Overlapping
# removed windows merge naturally through the per-doc deleted-position
# set (the maximal-span behavior of the suffix-array original).
#
# Scale shape (the reason this beats a d11-pairs post-pass): keeper
# selection needs NO pair expansion at all — a gram with a million
# occurrences costs one partial-aggregated min, not C(10^6, 2) pairs,
# so no hot-gram cap is needed and the op is strictly linear in corpus
# tokens. Exchanges (plan-pinned in tests at fixture scale): (1) the
# (doc_id, pos, gh) gram index shuffles ONCE on gh for the keeper
# groupBy — the only corpus-scale hash exchange, and it is the
# gram-index build itself; the keeper table then broadcasts back onto
# the un-shuffled occurrence stream (AQE picks BHJ — keepers are
# |distinct duplicated grams|-sized after the agg). At 100 TB, if the
# keeper table outgrows broadcast, the join degrades to SMJ reusing
# the occ exchange the groupBy already paid (same key, ReuseExchange).
# (2) the marked windows (only the duplicated sliver, ~6% of
# occurrences on the fixtures; the dup fraction at production)
# aggregate per doc_id. (3) the rewrite join brings the per-doc
# deleted-position sets to the text — broadcast at fixture scale; at
# 100 TB a linear keyed join that a doc_id-bucketed lake makes
# exchange-free. The corpus TEXT itself crosses an exchange only in
# case (3) when the deleted-set side outgrows broadcast — never for
# keeper selection.
#
# Determinism: min-struct keeper is order-free; the deleted-position
# set is a union (collect_set feeds an order-insensitive membership
# test); retained text is md5'd so the differential compares every
# byte of every reconstructed document (t21/t23 discipline). The
# Spark side indexes grams by xxhash64 over the token window; the
# ORACLE uses gram TEXT — row-for-row agreement doubles as the
# 64-bit collision check (d11 precedent).
# ---------------------------------------------------------------------------

D16_SPAN_W = 6

D16_ORACLE = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
occ AS (
  SELECT doc_id, unnest(range(1, len(toks) - {D16_SPAN_W} + 2)) AS pos, toks
  FROM t WHERE len(toks) >= {D16_SPAN_W}
),
o2 AS (
  SELECT doc_id, pos,
         array_to_string(list_slice(toks, pos, pos + {D16_SPAN_W} - 1), ' ') AS gram
  FROM occ
),
marked AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos,
           row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
    FROM o2)
  WHERE rn > 1
),
dels AS (SELECT doc_id, unnest(range(pos, pos + {D16_SPAN_W})) AS dp FROM marked),
dl AS (SELECT doc_id, list(DISTINCT dp) AS del FROM dels GROUP BY doc_id),
r AS (
  SELECT t.doc_id,
         list_transform(
           list_filter(range(1, len(t.toks) + 1),
                       i -> dl.del IS NULL OR NOT list_contains(dl.del, i)),
           i -> t.toks[i]) AS kept,
         len(t.toks) AS n_tokens
  FROM t LEFT JOIN dl ON t.doc_id = dl.doc_id
)
SELECT doc_id, n_tokens,
       CAST(n_tokens - len(kept) AS BIGINT) AS n_removed,
       -- array_to_string([]) is NULL in DuckDB but concat_ws of an
       -- empty array is '' in Spark: coalesce so a fully-removed doc
       -- hashes as the empty string in both engines
       md5(coalesce(array_to_string(kept, ' '), '')) AS retained_md5
FROM r
"""


def exact_substring_rewrite(docs: DataFrame, w: int = D16_SPAN_W) -> DataFrame:
    """The d16 kernel (see block comment): canonical-keeper selection
    per duplicated width-``w`` token window, per-doc deleted-position
    union, map-side text reconstruction. Returns one row per input
    document: (doc_id, n_tokens, n_removed, retained_md5)."""
    from .text import tokens

    base = docs.select("doc_id", tokens("text").alias("toks"))
    n = F.size("toks")
    # window start positions are 1-based (F.slice / DuckDB list_slice
    # convention); every occurrence is kept — no per-doc distinct —
    # so in-doc repeats dedupe against their own first occurrence
    wins = F.transform(
        F.sequence(F.lit(1), n - (w - 1)),
        lambda i: F.struct(
            i.alias("pos"), F.xxhash64(F.slice("toks", i, w)).alias("gh")
        ),
    )
    occ = (
        base.filter(n >= w)
        .select("doc_id", F.explode(wins).alias("wn"))
        .select("doc_id", F.col("wn.pos").alias("pos"), F.col("wn.gh").alias("gh"))
    )
    # lexicographic-min occurrence per gram: struct ordering is
    # field-wise, matching the oracle's ORDER BY doc_id, pos. The
    # partial aggregate combines map-side, so a pathologically hot
    # gram never concentrates raw rows the way a window-function
    # formulation would. Keep only DUPLICATED grams (n_occ > 1):
    # a unique gram's occurrence IS its keeper and can never be
    # marked, so dropping them shrinks the join's build side from
    # |distinct grams| (≈ corpus tokens) to the duplicated sliver —
    # measured at .scale x10: the full keeper table is a ~2.7M-row
    # broadcast whose build/free churn swung reps 11-38s; the
    # filtered build side floors the same query at ~7s flat.
    keep = (
        occ.groupBy("gh")
        .agg(
            F.min(F.struct("doc_id", "pos")).alias("keep"),
            F.count(F.lit(1)).alias("n_occ"),
        )
        .filter(F.col("n_occ") > 1)
        .select("gh", "keep")
    )
    marks = (
        occ.join(keep, "gh")
        .filter(
            (F.col("doc_id") != F.col("keep.doc_id"))
            | (F.col("pos") != F.col("keep.pos"))
        )
        .select("doc_id", "pos")
    )
    dl = (
        marks.select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + (w - 1))).alias("dp"),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("dp").alias("del"))
    )
    kept = F.filter(
        "toks",
        lambda t, i: F.when(F.col("del").isNull(), F.lit(True)).otherwise(
            ~F.array_contains("del", i + F.lit(1))
        ),
    )
    return base.join(dl, "doc_id", "left").select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        (n - F.size(kept)).cast("long").alias("n_removed"),
        F.md5(F.concat_ws(" ", kept)).alias("retained_md5"),
    )


@query("d16_exact_substring_rewrite", oracle=D16_ORACLE)
def d16_exact_substring_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D16 — exact-substring dedup output (see block comment): the
    corpus rewritten with every duplicated width-6 token span removed
    from all but its canonical occurrence, every reconstructed
    document md5-verified against the oracle."""
    docs = table(spark, sf_dir, "documents")
    return exact_substring_rewrite(widen_scan(docs))

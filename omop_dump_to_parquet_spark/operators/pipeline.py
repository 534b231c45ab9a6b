"""End-to-end training-data manifest pipeline ([EXT]).

The individual catalog operators (quality scoring t02, exact dedup
d02, deterministic sampling t06, shard assignment t12) are the stages
a pre-training data pipeline runs; this module composes them into ONE
lineage — filter → dedup → sample → shard — the way a production job
actually ships a corpus. Composing matters for the engine story:
Catalyst plans the whole chain as one job (the quality filter and the
content hash compute in the same scan; nothing is materialized
between stages), which is exactly what a hand-rolled multi-tool
pipeline (reference-style: one script per stage, parquet between
each) cannot do.

The quality formula and the sample-threshold derivation are IMPORTED
from text.py (``quality_expr``/``QUALITY_SQL``, ``_sample_threshold``)
— single definitions shared with t02/t06, so a tuning change there
cannot silently diverge from this pipeline.

Scale: one scan of the corpus; two shuffles total (content-hash
dedup window, shard window) — both on uniform hash-derived keys.
Every intermediate is a column expression, not a table.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.kernels import map_rows
from ..registry import query
from ..sources.parquet import table
from .text import (
    QUALITY_SQL,
    _sample_threshold,
    quality_expr,
    sample_bucket_expr,
    shard_expr_and_window,
)

#: Quality cutoff ≈ the fixture's median score (0.698 at both gate
#: scales) so the filter is discriminating, not vacuous.
P01_QUALITY_CUT = 0.70
#: Deterministic doc_id-hash sample (same mechanics as t06 —
#: reproducible across engines, runs, and partitionings).
P01_SAMPLE_SEED = 777
P01_SAMPLE_FRACTION = 0.75
P01_SAMPLE_THRESHOLD = _sample_threshold(P01_SAMPLE_FRACTION)

P01_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, text,
         {QUALITY_SQL} AS quality
  FROM documents
),
kept AS (
  SELECT * FROM scored WHERE quality >= {P01_QUALITY_CUT}
),
deduped AS (
  SELECT doc_id, quality FROM (
    SELECT doc_id, quality,
           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM kept
  ) WHERE rn = 1
),
sampled AS (
  SELECT doc_id, quality
  FROM deduped
  WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':{P01_SAMPLE_SEED}'), 1, 3)
        < '{P01_SAMPLE_THRESHOLD}'
),
sharded AS (
  SELECT doc_id, quality,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM sampled
)
SELECT doc_id,
       CAST(instr('0123456789abcdef', substr(h, 1, 1)) - 1 AS INT) AS shard,
       row_number() OVER (PARTITION BY substr(h, 1, 1) ORDER BY h, doc_id)
         AS pos,
       round(quality, 6) AS quality
FROM sharded
"""


@query("p01_training_manifest", oracle=P01_ORACLE)
def p01_training_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quality-filter → exact-dedup keep-first → deterministic hash
    sample → shard assignment, as one Catalyst-planned lineage."""
    docs = table(spark, sf_dir, "documents")

    kept = docs.select(
        "doc_id", "text", quality_expr().alias("quality")
    ).filter(F.col("quality") >= P01_QUALITY_CUT)

    dedup_w = W.partitionBy(F.md5("text")).orderBy("doc_id")
    deduped = (
        kept.withColumn("rn", F.row_number().over(dedup_w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "quality")
    )

    # the SHARED t06/t12 expressions: the manifest must
    # sample and shard exactly as the standalone operators do, so a
    # tuning change there cannot silently diverge here
    bucket = sample_bucket_expr(P01_SAMPLE_SEED)
    sampled = deduped.filter(bucket < F.lit(P01_SAMPLE_THRESHOLD))

    sharded = sampled.withColumn(
        "h", F.md5(F.col("doc_id").cast("string"))
    )
    shard, shard_w = shard_expr_and_window()
    return sharded.select(
        "doc_id",
        shard.alias("shard"),
        F.row_number().over(shard_w).alias("pos"),
        F.round("quality", 6).alias("quality"),
    )


# ---------------------------------------------------------------------------
# P02 — incremental ingest dedup: admit only documents from an
# incoming batch whose content does not already exist in the lake
# (and keep one copy of content duplicated WITHIN the batch). This is
# the steady-state form of corpus building — d01/d02 dedup a corpus
# once; real pipelines dedup every new crawl INCREMENTALLY against
# everything already ingested. Fixture split: even doc_ids play the
# existing lake, odd doc_ids the incoming batch.
#
# Scale shape: the lake side reduces to DISTINCT digests (one
# uniform-key shuffle, and at 100 TB the digest set is stored as its
# own compacted column table — this operator only ever reads
# digests, never lake text). The anti join shuffles both sides on
# digest — uniform by construction; no broadcast hint because the
# lake digest set GROWS with the lake (broadcasting it is the
# mistake; AQE may still choose broadcast while the batch is small).
# Spark's runtime bloom-filter injection (session.py thresholds)
# gives the shuffle-side pre-prune a real pipeline would add
# explicitly. Within-batch keep-first is the d02 window on the same
# digest partitioning the anti join just established.
# ---------------------------------------------------------------------------

P02_ORACLE = """
WITH lake AS (
  SELECT DISTINCT md5(text) AS digest FROM documents WHERE doc_id % 2 = 0
),
incoming AS (
  SELECT doc_id, md5(text) AS digest FROM documents WHERE doc_id % 2 = 1
),
novel AS (
  SELECT i.doc_id, i.digest
  FROM incoming i LEFT JOIN lake l USING (digest)
  WHERE l.digest IS NULL
)
SELECT doc_id, digest FROM (
  SELECT doc_id, digest,
         row_number() OVER (PARTITION BY digest ORDER BY doc_id) AS rn
  FROM novel
) WHERE rn = 1
"""


@query("p02_incremental_ingest_dedup", oracle=P02_ORACLE)
def p02_incremental_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    lake = (
        docs.filter(F.col("doc_id") % 2 == 0)
        .select(F.md5("text").alias("digest"))
        .distinct()
    )
    incoming = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", F.md5("text").alias("digest")
    )
    novel = incoming.join(lake, "digest", "left_anti")
    keep_first = W.partitionBy("digest").orderBy("doc_id")
    return (
        novel.withColumn("rn", F.row_number().over(keep_first))
        .filter(F.col("rn") == 1)
        .select("doc_id", "digest")
    )


# ---------------------------------------------------------------------------
# P03 — corpus snapshot diff (dataset versioning): classify every
# document across two corpus versions as added / removed / changed /
# unchanged by digest comparison under a FULL OUTER join on doc_id —
# the audit step a production lake runs between ingest snapshots
# (what changed since the release we trained on?). The fixture has
# one snapshot, so v2 is derived from v1 by deterministic relational
# transforms both engines express identically: drop doc_id % 7 = 0
# (removals), rewrite text for doc_id % 5 = 0 (changes), and add
# re-keyed copies of doc_id % 11 = 0 under doc_id + 1,000,000
# (additions) — the mechanics under test are the digest compare and
# the outer-join classification, not the simulation.
#
# Scale: one shuffle on doc_id for the full outer join; digests are
# computed map-side so only (id, 16-byte md5) rows move. At 100 TB
# this runs digest-only over both snapshots' parquet — never the
# text.
# ---------------------------------------------------------------------------

P03_ORACLE = """
WITH v1 AS (
  SELECT doc_id, md5(text) AS h FROM documents
),
v2_base AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN text || ' rev2' ELSE text END AS text
  FROM documents WHERE doc_id % 7 <> 0
),
v2 AS (
  SELECT doc_id, md5(text) AS h FROM v2_base
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, md5(text) AS h
  FROM documents WHERE doc_id % 11 = 0
),
j AS (
  SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id, v1.h AS h1, v2.h AS h2
  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
)
SELECT doc_id,
       CASE WHEN h1 IS NULL THEN 'added'
            WHEN h2 IS NULL THEN 'removed'
            WHEN h1 = h2 THEN 'unchanged'
            ELSE 'changed' END AS status
FROM j
"""


@query("p03_snapshot_diff", oracle=P03_ORACLE)
def p03_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    v1 = docs.select("doc_id", F.md5("text").alias("h1"))
    v2_base = docs.filter(F.col("doc_id") % 7 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" rev2"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    v2 = (
        v2_base.select("doc_id", F.md5("text").alias("h2"))
        .union(
            docs.filter(F.col("doc_id") % 11 == 0).select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                F.md5("text").alias("h2"),
            )
        )
    )
    j = v1.join(v2, "doc_id", "full_outer")
    return j.select(
        "doc_id",
        F.when(F.col("h1").isNull(), F.lit("added"))
        .when(F.col("h2").isNull(), F.lit("removed"))
        .when(F.col("h1") == F.col("h2"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
        .alias("status"),
    )


# ---------------------------------------------------------------------------
# P04 — incremental aggregate maintenance (the lakehouse IVM
# pattern): a stored per-key aggregate built from history is MERGED
# with a fresh batch's partial aggregate — never recomputed from raw
# history. Every measure is chosen re-aggregable (count/sum/min/max
# merge associatively; avg derives from sum/count at read time), so
# merged-state == full-recompute EXACTLY, and that equality IS the
# oracle: DuckDB aggregates the whole table from scratch, Spark
# builds state(ts < cutoff) ⊎ partial(ts ≥ cutoff). The driver's
# hash check therefore proves the re-aggregation algebra, not just
# the arithmetic.
#
# Scale: the whole point at 100 TB — the nightly job aggregates ONLY
# the new partition and merges |keys| rows of state; raw history is
# never rescanned. Sum routes through exact DECIMAL (dsum) so merge
# order (state-then-delta vs full-scan) cannot produce ULP drift.
# ---------------------------------------------------------------------------

P04_CUTOFF = "2024-01-15 00:00:00"

P04_ORACLE = f"""
SELECT user_id, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
       MIN(ts) AS first_ts,
       MAX(ts) AS last_ts
FROM events
GROUP BY user_id, event_type
"""


@query("p04_incremental_agg_merge", oracle=P04_ORACLE)
def p04_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.deterministic import dsum
    from ..sources.parquet import table as _table

    ev = _table(spark, sf_dir, "events")
    cutoff = F.lit(P04_CUTOFF).cast("timestamp")

    def partial(df: DataFrame) -> DataFrame:
        # sum kept in EXACT decimal until after the merge — casting to
        # double per-partial then re-adding would reintroduce order
        # dependence at the merge step
        return df.groupBy("user_id", "event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_dec"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )

    state = partial(ev.filter(F.col("ts") < cutoff))
    delta = partial(ev.filter(F.col("ts") >= cutoff))
    merged = (
        state.unionByName(delta)
        .groupBy("user_id", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_dec").alias("sum_dec"),
            F.min("first_ts").alias("first_ts"),
            F.max("last_ts").alias("last_ts"),
        )
    )
    return merged.select(
        "user_id",
        "event_type",
        "n_events",
        F.col("sum_dec").cast("double").alias("sum_value"),
        "first_ts",
        "last_ts",
    )


# ---------------------------------------------------------------------------
# P05 — CDC merge-apply (the lakehouse MERGE INTO row-level contract):
# a change batch of inserts/updates/deletes applied to a snapshot,
# proven row-exact against a from-scratch recompute. p02 covers
# insert-only dedup and p04 re-aggregable state; this id is the
# remaining mutation surface — keyed UPDATE and DELETE — expressed as
# the standard shuffle-join MERGE plan: one LEFT ANTI join removes
# matched keys (updates' old versions + deletes), then the updated
# and inserted rows union back in. `plans/upsert.py` is the
# write-path twin (partition-pruned rewrite + atomic swap); this id
# pins the SEMANTICS the rewrite must preserve.
#
# The change batch is derived deterministically from the fixture so
# DuckDB reproduces it exactly: doc_id % 13 == 0 → DELETE (wins over
# update by explicit precedence), else doc_id % 11 == 0 → UPDATE
# (canonicalized text, re-derived n_chars), and every doc_id % 17 ==
# 0 spawns an INSERT under a fresh key (max_id-safe offset). Output
# is the merged snapshot keyed by digest-stable columns.
#
# Scale: one shuffle on doc_id for the anti join (changes side is
# |batch|, broadcastable when small — exactly MERGE INTO's physical
# plan on a 100 TB lake with AQE picking the strategy); the unions
# are metadata-only. No window, no global sort.
# ---------------------------------------------------------------------------

P05_INS_OFFSET = 10_000_000  # far above any fixture doc_id

P05_ORACLE = f"""
WITH dels AS (SELECT doc_id FROM documents WHERE doc_id % 13 = 0),
upds AS (
  SELECT doc_id, upper(text) AS text, lang, source,
         CAST(length(upper(text)) AS BIGINT) AS n_chars
  FROM documents WHERE doc_id % 11 = 0 AND doc_id % 13 <> 0
),
ins AS (
  SELECT doc_id + {P05_INS_OFFSET} AS doc_id,
         'new ' || text AS text, lang, source,
         CAST(length('new ' || text) AS BIGINT) AS n_chars
  FROM documents WHERE doc_id % 17 = 0
),
kept AS (
  SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
  FROM documents d
  WHERE d.doc_id % 13 <> 0 AND d.doc_id % 11 <> 0
)
SELECT * FROM kept
UNION ALL SELECT * FROM upds
UNION ALL SELECT * FROM ins
"""


@query("p05_cdc_merge_apply", oracle=P05_ORACLE)
def p05_cdc_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P05 — CDC merge-apply: a deterministic insert/update/delete
    change batch applied to the documents snapshot via the standard
    MERGE plan (anti-join out matched keys, union in new versions);
    the oracle recomputes the merged snapshot from scratch."""
    base = table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    dels = base.filter(F.col("doc_id") % 13 == 0).select("doc_id")
    upds = (
        base.filter((F.col("doc_id") % 11 == 0) & (F.col("doc_id") % 13 != 0))
        .select(
            "doc_id",
            F.upper("text").alias("text"),
            "lang",
            "source",
        )
        .withColumn("n_chars", F.length("text").cast("long"))
        .select("doc_id", "text", "lang", "source", "n_chars")
    )
    ins = (
        base.filter(F.col("doc_id") % 17 == 0)
        .select(
            (F.col("doc_id") + F.lit(P05_INS_OFFSET)).alias("doc_id"),
            F.concat(F.lit("new "), F.col("text")).alias("text"),
            "lang",
            "source",
        )
        .withColumn("n_chars", F.length("text").cast("long"))
        .select("doc_id", "text", "lang", "source", "n_chars")
    )
    # the MERGE plan: matched keys (updates' old rows + deletes) leave
    # via ONE anti join, then new versions union back in
    matched_keys = dels.union(upds.select("doc_id")).distinct()
    kept = base.join(matched_keys, "doc_id", "left_anti")
    return kept.unionByName(upds).unionByName(ins)


# ---------------------------------------------------------------------------
# P06 — temperature-weighted source mixture sampling: the data-mixing
# stage every pre-training recipe runs (Pile/Gopher/LLaMA-style source
# reweighting) that the catalog previously lacked. Per-source sampling
# quotas ∝ n_s^T (T = 0.5 here — the temperature that flattens a
# source-size power law toward uniform), then a DETERMINISTIC
# hash-ranked draw of exactly quota docs per source — reproducible
# across engines, runs, partitionings, and re-ingests (the t06/p01
# md5-rank mechanics, partitioned by source).
#
# Cross-engine determinism of the QUOTAS (the subtle part): the
# weight basis is r_s = floor(sqrt(n_s)·10⁶) — IEEE sqrt is correctly
# rounded and the ×10⁶/floor make r_s an exact BIGINT in both engines
# — so Σr_s, B = floor(RATE·N) and q_s = min(n_s, B·r_s // Σr_s) are
# pure integer arithmetic with bit-identical results (a double
# Σ sqrt(n_s) would be summation-order-dependent; this is the same
# order-independence argument as functions/deterministic.py, solved
# with integers instead of DECIMAL because the operands are counts).
#
# Scale shape: one partial-agg count shuffle (|sources| rows), the
# quota table broadcast back, one shuffle on source for the
# row_number window. Per-source rank is the honest skew note: a
# 100 TB corpus with a dominant source puts that source's draw in
# one task chain; the production posture for that regime is a
# two-pass threshold draw (approx per-source q-quantile of the rank
# hash, exact boundary refinement — the d04 verify two-path pattern),
# which preserves this operator's output contract. At catalog scale
# and any plausible source cardinality the window is the right plan.
# ---------------------------------------------------------------------------

P06_RATE = 0.2          # corpus-level sampling budget
P06_TEMPERATURE = 0.5   # quota basis = n_s^0.5 (sqrt — exact in IEEE)
P06_SEED = "mix777"

P06_ORACLE = f"""
WITH counts AS (
  SELECT source, COUNT(*) AS n FROM documents GROUP BY source
),
basis AS (
  SELECT source, n, CAST(floor(sqrt(n) * 1000000) AS BIGINT) AS r
  FROM counts
),
tot AS (
  SELECT SUM(r) AS rs, SUM(n) AS nd FROM basis
),
quota AS (
  SELECT b.source,
         least(b.n, (CAST(floor({P06_RATE} * t.nd) AS BIGINT) * b.r) // t.rs)
           AS q
  FROM basis b CROSS JOIN tot t
),
ranked AS (
  SELECT d.doc_id, d.source,
         row_number() OVER (
           PARTITION BY d.source
           ORDER BY md5(CAST(d.doc_id AS VARCHAR) || ':{P06_SEED}'),
                    d.doc_id) AS samp_pos
  FROM documents d
)
SELECT r.doc_id, r.source, CAST(r.samp_pos AS BIGINT) AS samp_pos
FROM ranked r JOIN quota q ON r.source = q.source
WHERE r.samp_pos <= q.q
"""


def mixture_targets(
    counts: dict[str, int], rate: float
) -> dict[str, int]:
    """Exact-integer temperature TARGETS from per-source counts —
    B·r_s // Σr_s with r_s = floor(sqrt(n_s)·10⁶) and B =
    floor(rate·N). Python ints are arbitrary-precision, so this is
    bit-identical to the oracle's BIGINT arithmetic. The SINGLE
    definition of the basis arithmetic: p06 caps targets at n_s
    (sampling), p07 doesn't (upsampling) — a change here moves both
    in lockstep."""
    import math

    r = {s: math.floor(math.sqrt(n) * 1_000_000) for s, n in counts.items()}
    rs = sum(r.values())
    budget = math.floor(rate * sum(counts.values()))
    return {s: (budget * r[s]) // rs for s in counts}


def mixture_quotas(
    counts: dict[str, int], rate: float = P06_RATE
) -> dict[str, int]:
    """p06's sampling quotas: min(n_s, target_s) — see
    mixture_targets for the shared basis arithmetic."""
    tgt = mixture_targets(counts, rate)
    return {s: min(counts[s], tgt[s]) for s in counts}


@query("p06_temperature_mixture_sample", oracle=P06_ORACLE)
def p06_temperature_mixture_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """count sources → exact-integer temperature quotas (bounded
    driver state: |sources| rows) → broadcast quota join →
    deterministic md5-ranked per-source draw."""
    docs = table(spark, sf_dir, "documents")
    counts = {
        r["source"]: r["n"]
        for r in docs.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    quotas = mixture_quotas(counts)
    qdf = spark.createDataFrame(
        sorted(quotas.items()), "source string, q long"
    )
    rank_w = W.partitionBy("source").orderBy(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(f":{P06_SEED}"))),
        "doc_id",
    )
    return (
        docs.select("doc_id", "source")
        .withColumn("samp_pos", F.row_number().over(rank_w).cast("long"))
        .join(F.broadcast(qdf), "source")
        .filter(F.col("samp_pos") <= F.col("q"))
        .select("doc_id", "source", "samp_pos")
    )


# ---------------------------------------------------------------------------
# P07 — mixture UPSAMPLING: the second half of data mixing. P06 draws
# a subsample (budget < corpus); real recipes also run small
# high-value sources for MULTIPLE epochs while big sources run
# fractionally (LLaMA-style "epochs" column of the data table). Given
# the same temperature quota arithmetic with a budget ABOVE corpus
# size, each source's target t_s = B·r_s // Σr_s splits into
# full_epochs = t_s // n_s (every doc repeated) plus a remainder
# draw (the first t_s % n_s docs in the deterministic md5 rank order
# get one extra epoch). Output is one row per (doc, epoch) — the
# materialized sampling manifest a packing stage consumes.
#
# Same exact-integer determinism as P06 (r_s = floor(sqrt(n_s)·10⁶),
# all-BIGINT arithmetic). Scale shape: counts shuffle + broadcast
# targets + ONE row_number window on source (the remainder rank),
# then a map-side explode(sequence(1, epochs)) — row multiplication
# happens AFTER the window, inside the scan-project stage, so the
# shuffled volume is the corpus, not the epochs-multiplied output.
# ---------------------------------------------------------------------------

P07_RATE = 2.0  # budget = 2× corpus: guarantees a real epochs>1 regime


P07_ORACLE = f"""
WITH counts AS (
  SELECT source, COUNT(*) AS n FROM documents GROUP BY source
),
basis AS (
  SELECT source, n, CAST(floor(sqrt(n) * 1000000) AS BIGINT) AS r
  FROM counts
),
tot AS (
  SELECT SUM(r) AS rs, SUM(n) AS nd FROM basis
),
target AS (
  SELECT b.source, b.n,
         (CAST(floor({P07_RATE} * t.nd) AS BIGINT) * b.r) // t.rs AS tgt
  FROM basis b CROSS JOIN tot t
),
ranked AS (
  SELECT d.doc_id, d.source,
         row_number() OVER (
           PARTITION BY d.source
           ORDER BY md5(CAST(d.doc_id AS VARCHAR) || ':{P06_SEED}'),
                    d.doc_id) AS samp_pos
  FROM documents d
),
epochs AS (
  SELECT r.doc_id, r.source,
         (t.tgt // t.n)
           + CASE WHEN r.samp_pos <= (t.tgt % t.n) THEN 1 ELSE 0 END
           AS n_epochs
  FROM ranked r JOIN target t ON r.source = t.source
)
SELECT doc_id, source, CAST(e.epoch AS BIGINT) AS epoch
FROM epochs CROSS JOIN
     (SELECT unnest(generate_series(1, CAST({{max_e}} AS BIGINT))) AS epoch) e
WHERE e.epoch <= n_epochs
"""


def _p07_oracle() -> str:
    # generate_series needs a constant upper bound: 1 + ceil(rate) + 1
    # covers any temperature-flattened epoch count for T=0.5 at the
    # catalog's source-count range; the WHERE clamps per row. A source
    # would need a quota basis ~2x the mean to exceed it — asserted on
    # the Spark side (fail loud if the fixture ever drifts there).
    return P07_ORACLE.format(max_e=P07_MAX_EPOCHS)


P07_MAX_EPOCHS = 8


@query("p07_mixture_upsample", oracle=_p07_oracle())
def p07_mixture_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """counts → exact-integer temperature targets → per-source epochs
    (full repeats + md5-ranked remainder) → map-side explode into the
    (doc, epoch) manifest."""
    docs = table(spark, sf_dir, "documents")
    counts = {
        r["source"]: r["n"]
        for r in docs.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    tgt = mixture_targets(counts, P07_RATE)
    worst = max(
        tgt[s] // counts[s] + (1 if tgt[s] % counts[s] else 0)
        for s in counts
    )
    if worst > P07_MAX_EPOCHS:  # not assert: survives -O
        raise ValueError(
            f"p07: source epoch count {worst} exceeds the oracle's "
            f"generate_series bound {P07_MAX_EPOCHS}; raise P07_MAX_EPOCHS"
        )
    tdf = spark.createDataFrame(
        sorted((s, counts[s], tgt[s]) for s in counts),
        "source string, n long, tgt long",
    )
    rank_w = W.partitionBy("source").orderBy(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(f":{P06_SEED}"))),
        "doc_id",
    )
    return (
        docs.select("doc_id", "source")
        .withColumn("samp_pos", F.row_number().over(rank_w).cast("long"))
        .join(F.broadcast(tdf), "source")
        .withColumn(
            "n_epochs",
            # `div` is Spark's integer division — exact at any BIGINT
            # magnitude, unlike a double `/` + cast truncation
            F.expr("tgt div n")
            + (F.col("samp_pos") <= F.col("tgt") % F.col("n")).cast("long"),
        )
        .filter(F.col("n_epochs") >= 1)
        .select(
            "doc_id",
            "source",
            F.explode(
                F.sequence(F.lit(1).cast("long"), F.col("n_epochs"))
            ).alias("epoch"),
        )
    )


def mixture_threshold_draw(
    docs: DataFrame, quotas: dict[str, int], prefix_len: int = 2
) -> DataFrame:
    """The 100 TB posture for P06's per-source draw — the skew note
    in the P06 header as CODE: selecting each source's quota-smallest
    rank hashes WITHOUT sorting whole sources through one window
    partition (a dominant source would serialize in a single task
    chain there).

    Two passes, the d04-verify "refine must be sliver-sized" shape:
      1. map-side histogram of the first ``prefix_len`` hex chars of
         the rank hash per source (bounded driver state:
         |sources|·16^prefix_len rows) → per source, the boundary
         prefix holding the quota-th value and how many are needed
         from inside it;
      2. rows strictly below the boundary prefix pass with NO sort;
         only the boundary bucket (≈ n_s/16^prefix_len rows) goes
         through a row_number window — the only sort, sliver-sized.

    Returns the kept ``(doc_id, source)`` set — identical to the
    P06 window path's doc set (equivalence-tested); the rank
    POSITION is intentionally not produced (a global per-source
    position is exactly the thing this path avoids computing)."""
    spark = docs.sparkSession
    ranked = docs.select(
        "doc_id",
        "source",
        F.md5(
            F.concat(F.col("doc_id").cast("string"), F.lit(f":{P06_SEED}"))
        ).alias("h"),
    )
    pfx = F.substring("h", 1, prefix_len)
    hist = (
        ranked.groupBy("source", pfx.alias("pfx"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    by_source: dict[str, list[tuple[str, int]]] = {}
    for r in hist:
        by_source.setdefault(r["source"], []).append((r["pfx"], r["n"]))
    bounds = []  # (source, boundary_pfx, need_within_boundary)
    for s, buckets in by_source.items():
        q = quotas.get(s, 0)
        if q <= 0:
            continue
        cum = 0
        for bpfx, n in sorted(buckets):
            if cum + n >= q:
                bounds.append((s, bpfx, q - cum))
                break
            cum += n
        else:
            # RAW quota > n_s: keep the whole source. Unreachable via
            # mixture_quotas (which caps q <= n_s, so the loop always
            # breaks — a full-quota source exits above with the LAST
            # bucket as its boundary); this guards uncapped callers.
            # Exercised directly in tests/test_r15_advice.py.
            bounds.append((s, "g", 0))  # "g" > every hex char
    bdf = spark.createDataFrame(
        bounds, "source string, bpfx string, need long"
    )
    j = ranked.join(F.broadcast(bdf), "source")
    sure = j.filter(pfx < F.col("bpfx")).select("doc_id", "source")
    edge_w = W.partitionBy("source").orderBy("h", "doc_id")
    edge = (
        j.filter(pfx == F.col("bpfx"))
        .withColumn("rn", F.row_number().over(edge_w))
        .filter(F.col("rn") <= F.col("need"))
        .select("doc_id", "source")
    )
    return sure.unionByName(edge)


# ---------------------------------------------------------------------------
# P08 — the threshold draw CERTIFIED on a skew-dominant corpus. P06's
# window path per-source-sorts the whole corpus; its documented 100 TB
# posture for a dominant source (which would serialize that source's
# rank sort through one task chain) is `mixture_threshold_draw` above;
# plan-bearing code that only unit tests exercise is where
# regressions hide, so this id runs the threshold draw itself
# through the standing harnesses (driver differential, four-axis
# determinism, randomized fixtures) on a corpus where ONE source
# holds ≥90% of rows.
#
# The skew is DERIVED deterministically (doc_id % 11 == 0 keeps its
# source, everything else becomes 'web' → ~91% dominance at every sf;
# 'web' is disjoint from the fixture's srcN names) so both engines
# compute the identical corpus without a bespoke fixture file. The
# modulus is COPRIME with the fixture's source stripe (source is
# src{doc_id % 20}), so the minority rows cycle through ALL twenty
# sources in 2-3-row slivers — which also gives them FULL-SIZE quotas
# (q = n_s, kept whole) while 'web' takes the boundary draw. Note:
# under mixture_quotas, q = min(n_s, tgt) <= n_s, so a
# full-quota source is kept whole via the BOUNDARY path (the prefix
# loop always breaks); the separate ('g', 0) keep-all branch in
# mixture_threshold_draw guards RAW quotas > n_s from callers outside
# mixture_quotas and is exercised directly by a unit test
# (tests/test_pipeline.py), not by this id. The
# oracle states the CONTRACT — the quota-smallest md5 rank hashes per
# source, via the window form — while the Spark side never computes a
# global per-source rank: pass 1 is a map-side histogram of 2-hex
# rank-hash prefixes (bounded driver state, ≤ |sources|·256 rows);
# pass 2 passes sub-boundary rows sort-free and row_numbers ONLY the
# boundary bucket (≈ n_s/256 rows — the sliver; asserted in tests).
# Output is the kept (doc_id, source) set — rank position is
# intentionally absent (computing it globally is exactly what this
# path avoids), which is also why the oracle projects no samp_pos.
#
# Scale shape: one partial-agg histogram shuffle + one broadcast
# boundary join + one window over a 1/256-sized sliver per source.
# At 100 TB with a 90 TB source the window input is ~350 GB spread
# over that source's hash range — no single-task chain anywhere.
# ---------------------------------------------------------------------------

P08_SKEW_MOD = 11  # doc_id % 11 == 0 keeps source → 'web' holds ~91%

P08_ORACLE = f"""
WITH skewed AS (
  SELECT doc_id,
         CASE WHEN doc_id % {P08_SKEW_MOD} = 0 THEN source
              ELSE 'web' END AS source
  FROM documents
),
counts AS (
  SELECT source, COUNT(*) AS n FROM skewed GROUP BY source
),
basis AS (
  SELECT source, n, CAST(floor(sqrt(n) * 1000000) AS BIGINT) AS r
  FROM counts
),
tot AS (
  SELECT SUM(r) AS rs, SUM(n) AS nd FROM basis
),
quota AS (
  SELECT b.source,
         least(b.n, (CAST(floor({P06_RATE} * t.nd) AS BIGINT) * b.r) // t.rs)
           AS q
  FROM basis b CROSS JOIN tot t
),
ranked AS (
  SELECT d.doc_id, d.source,
         row_number() OVER (
           PARTITION BY d.source
           ORDER BY md5(CAST(d.doc_id AS VARCHAR) || ':{P06_SEED}'),
                    d.doc_id) AS samp_pos
  FROM skewed d
)
SELECT r.doc_id, r.source
FROM ranked r JOIN quota q ON r.source = q.source
WHERE r.samp_pos <= q.q
"""


def p08_skewed_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic skew-dominant corpus p08 draws from (shared
    with the sliver-size tests so they measure the certified path)."""
    return table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % P08_SKEW_MOD == 0, F.col("source")
        ).otherwise(F.lit("web")).alias("source"),
    )


@query("p08_mixture_skew_draw", oracle=P08_ORACLE)
def p08_mixture_skew_draw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """counts on the derived skew corpus → p06's exact-integer quota
    arithmetic → two-pass threshold draw (histogram + boundary-sliver
    window; see block comment)."""
    docs = p08_skewed_docs(spark, sf_dir)
    counts = {
        r["source"]: r["n"]
        for r in docs.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    return mixture_threshold_draw(docs, mixture_quotas(counts))


# ---------------------------------------------------------------------------
# P09 — benchmark DECONTAMINATION: flag training documents that share
# any token n-gram with an evaluation/benchmark set — the standard
# pre-training hygiene step (GPT-3 appendix C / PaLM / Llama report
# it as n-gram collision removal) and the one pipeline stage the
# catalog lacked: t17 guards leakage WITHIN the corpus's own splits,
# d11 finds intra-corpus copied spans; neither checks the corpus
# against an EXTERNAL eval suite.
#
# The eval set is DERIVED deterministically (doc_id % 97 == 0 → ~1%
# of docs play the benchmark role) so both engines compute the same
# split without a bespoke fixture table — the p08 pattern. Gram width
# is a parameter; the catalog pins 3 so the fixture yields a real
# mixed output (production decontamination uses 8–13-gram windows;
# the plan is width-independent).
#
# Spark shape (the d11 machinery, re-pointed): grams are hashed
# per-token-window (two-stage: token strings xxhash64'd once
# per row, then each gram hashes its w-long token-hash window — two
# longs per posting row, no gram-string assembly, no per-gram string
# re-hash; the ORACLE joins on gram TEXT, so row-for-row agreement
# doubles as the collision check).
# Error model on an oracle-less production corpus: a
# 64-bit hash collision can falsely mark a train gram contaminated or
# merge two distinct grams in n_doc_grams; expected collisions ≈
# n_train_grams · n_eval_grams / 2^64 (~5·10⁻⁶ even at 10¹² train ×
# 10⁸ eval grams), and the direction is conservative (over-flagging).
# The gram index is localCheckpoint'ed once (two consumers: eval
# side, train side — same re-plan lesson as d11/d07).
# The eval gram set is BROADCAST: benchmark suites are fixed-size
# (MBs of text — HellaSwag+MMLU+… ≈ 10⁵ docs) while the train side
# is the 100 TB corpus, so the asymmetry is structural, not a
# fixture accident. Both per-doc counts come out of ONE pass: the
# broadcast LEFT join marks each train gram row map-side, then a
# single groupBy(doc_id) computes the total and contaminated counts
# together — one shuffle of the corpus gram index, total, versus the
# naive hits-agg JOIN totals-agg shape whose doc_id join re-shuffles
# two corpus-sized aggregates. If an eval set ever outgrew the
# broadcast threshold, dropping the hint degrades to a shuffle join
# on gh with the same row counts.
#
# Output contract: one row per CONTAMINATED train doc — (doc_id,
# n_doc_grams, n_contaminated) as BIGINTs. No ratio column by
# design: small-integer ratios can land exactly on round-half
# boundaries (e.g. 1/128 at 6 dp) where Spark HALF_UP and DuckDB
# disagree — consumers derive it from the two exact counts.
# ---------------------------------------------------------------------------

P09_NGRAM = 3       # catalog width; production uses 8-13 (see banner)
P09_EVAL_MOD = 97   # doc_id % 97 == 0 → the derived benchmark set

P09_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
g AS (
  SELECT doc_id,
         unnest(list_distinct(
           CASE WHEN len(toks) >= {P09_NGRAM}
                THEN list_transform(range(1, len(toks) - {P09_NGRAM - 2}),
                                    i -> array_to_string(
                                           list_slice(toks, i, i + {P09_NGRAM - 1}), ' '))
                ELSE [] END)) AS gram
  FROM t
),
ev AS (
  SELECT DISTINCT gram FROM g WHERE doc_id % {P09_EVAL_MOD} = 0
),
tr AS (
  SELECT doc_id, gram FROM g WHERE doc_id % {P09_EVAL_MOD} <> 0
),
tot AS (
  SELECT doc_id, COUNT(*) AS n_doc_grams FROM tr GROUP BY doc_id
),
hits AS (
  SELECT tr.doc_id, COUNT(*) AS n_contaminated
  FROM tr JOIN ev USING (gram) GROUP BY tr.doc_id
)
SELECT h.doc_id,
       CAST(t2.n_doc_grams AS BIGINT) AS n_doc_grams,
       CAST(h.n_contaminated AS BIGINT) AS n_contaminated
FROM hits h JOIN tot t2 ON h.doc_id = t2.doc_id
"""


def decontaminate(
    docs: DataFrame, width: int = P09_NGRAM, eval_mod: int = P09_EVAL_MOD
) -> DataFrame:
    """The decontamination kernel, width-parameterized:
    hashed per-doc-distinct gram index (one checkpoint, two consumers)
    → broadcast eval-gram LEFT join (map-side mark) → ONE
    groupBy(doc_id) for both counts (see the P09 block comment; the
    plan is width-independent). ``docs`` needs (doc_id, text).

    Gram hashing is TWO-STAGE: token strings are hashed once
    per row in their OWN projection, then each gram hashes the w-long
    window of token hashes — at width 8 the naive form re-hashes every
    token string ~8x (measured 3x slower on .scale/x10: ~9s vs ~3s),
    and the separate select matters: an inline lambda capture of the
    token-hash array re-evaluates it per gram window (measured as slow
    as the naive form). Equality semantics are identical (gram-hash
    equality ⟺ the w token hashes agree; collisions at either stage
    keep the ~2^-64-per-pair conservative error model in the banner)."""
    from .text import tokens

    # No widen_scan: it measured SLOWER here — 1.36s vs 0.93s median
    # at sf0.1 — the eager checkpoint bounds the single-split cost
    # already and the extra round-robin exchange is pure overhead.
    staged = docs.select(
        "doc_id",
        F.transform(tokens("text"), lambda t: F.xxhash64(t)).alias("th"),
    )
    th = F.col("th")
    n = F.size(th)
    gram_hashes = F.when(
        n >= width,
        F.transform(
            F.sequence(F.lit(1), n - (width - 1)),
            lambda i: F.xxhash64(F.slice(th, i, width)),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    g = staged.select(
        "doc_id", F.explode(F.array_distinct(gram_hashes)).alias("gh")
    ).localCheckpoint(eager=True)
    is_eval = F.col("doc_id") % eval_mod == 0
    evalg = (
        g.filter(is_eval).select("gh").distinct().withColumn("m", F.lit(1))
    )
    return (
        g.filter(~is_eval)
        .join(F.broadcast(evalg), "gh", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_doc_grams"),
            F.sum(F.coalesce(F.col("m"), F.lit(0)))
            .cast("long")
            .alias("n_contaminated"),
        )
        .filter(F.col("n_contaminated") > 0)
    )


@query("p09_decontamination", oracle=P09_ORACLE)
def p09_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The width-3 catalog pin of :func:`decontaminate` (see block
    comment; p10 runs the same kernel at width 8)."""
    return decontaminate(
        table(spark, sf_dir, "documents"), P09_NGRAM, P09_EVAL_MOD
    )


# ---------------------------------------------------------------------------
# P10 — decontamination at PRODUCTION gram width in a SPARSE regime.
# The Heaps rehearsal measured that width 3 on Zipf text is
# degenerate — 99.8% of train docs flagged, because Zipf-frequent
# 3-grams dominate coverage at any vocabulary size (the refuted-
# hypothesis note in SCALING.md) — so p09's certificate never ran the
# plan where the broadcast-hit path is SELECTIVE and output is rare,
# which is the actual production shape: GPT-3 appendix C uses 13-grams
# and PaLM/Llama 8-10-grams precisely so collisions are meaningful.
#
# At width 8 the fixture's natural collision count is zero (8-grams of
# word-soup text are essentially unique), so contamination is INJECTED
# deterministically, expression-for-expression identical in both
# engines (the p08 derived-corpus pattern): docs with
# doc_id % 19 == 3 (~5%) get the first-8-token span of a donor eval
# doc appended (donor_id = 97 * (doc_id % n_ev), n_ev = max_id//97+1 —
# a bounded one-row driver scalar; the donor table is the ~1% eval
# split, BROADCAST, so the injection adds zero shuffles). Measured on
# the fixture: ~5.5% of train docs flagged, 1-16 hits each — sparse,
# mixed output. The kernel is p09's `decontaminate` verbatim at
# width=8; only the corpus derivation differs, so the 100 TB plan
# arguments (one corpus shuffle, structural broadcast asymmetry)
# carry over unchanged, now certified in the selective regime too.
# ---------------------------------------------------------------------------

P10_NGRAM = 8        # production width (GPT-3: 13, PaLM/Llama: 8-10)
P10_INJ_MOD = 19     # doc_id % 19 == 3 → ~5% of docs get a planted span
P10_INJ_RESIDUE = 3

P10_ORACLE = f"""
WITH mx AS (
  SELECT MAX(doc_id) // {P09_EVAL_MOD} + 1 AS n_ev FROM documents
),
donors AS (
  SELECT doc_id AS d_id,
         array_to_string(list_slice(string_split(text, ' '), 1, {P10_NGRAM}),
                         ' ') AS span
  FROM documents WHERE doc_id % {P09_EVAL_MOD} = 0
),
corpus AS (
  SELECT d.doc_id,
         CASE WHEN d.doc_id % {P10_INJ_MOD} = {P10_INJ_RESIDUE}
              THEN d.text || ' ' || dn.span
              ELSE d.text END AS text
  FROM documents d
  CROSS JOIN mx
  LEFT JOIN donors dn ON dn.d_id = {P09_EVAL_MOD} * (d.doc_id % mx.n_ev)
),
t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM corpus
),
g AS (
  SELECT doc_id,
         unnest(list_distinct(
           CASE WHEN len(toks) >= {P10_NGRAM}
                THEN list_transform(range(1, len(toks) - {P10_NGRAM - 2}),
                                    i -> array_to_string(
                                           list_slice(toks, i, i + {P10_NGRAM - 1}), ' '))
                ELSE [] END)) AS gram
  FROM t
),
ev AS (
  SELECT DISTINCT gram FROM g WHERE doc_id % {P09_EVAL_MOD} = 0
),
tr AS (
  SELECT doc_id, gram FROM g WHERE doc_id % {P09_EVAL_MOD} <> 0
),
tot AS (
  SELECT doc_id, COUNT(*) AS n_doc_grams FROM tr GROUP BY doc_id
),
hits AS (
  SELECT tr.doc_id, COUNT(*) AS n_contaminated
  FROM tr JOIN ev USING (gram) GROUP BY tr.doc_id
)
SELECT h.doc_id,
       CAST(t2.n_doc_grams AS BIGINT) AS n_doc_grams,
       CAST(h.n_contaminated AS BIGINT) AS n_contaminated
FROM hits h JOIN tot t2 ON h.doc_id = t2.doc_id
"""


def p10_injected_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic sparse-contamination corpus p10 decontaminates
    (shared with the selectivity tests so they measure the certified
    path): ~5% of docs get a donor eval doc's first-8-token span
    appended via a BROADCAST left join on the derived donor id."""
    from .text import tokens

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    # bounded driver state: ONE scalar (the p06/p08 counts precedent)
    n_ev = docs.agg(F.max("doc_id")).first()[0] // P09_EVAL_MOD + 1
    donors = docs.filter(F.col("doc_id") % P09_EVAL_MOD == 0).select(
        F.col("doc_id").alias("d_id"),
        F.array_join(F.slice(tokens("text"), 1, P10_NGRAM), " ").alias(
            "span"
        ),
    )
    return (
        docs.join(
            F.broadcast(donors),
            F.col("d_id")
            == F.lit(P09_EVAL_MOD) * (F.col("doc_id") % F.lit(n_ev)),
            "left",
        )
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % P10_INJ_MOD == P10_INJ_RESIDUE,
                F.concat(F.col("text"), F.lit(" "), F.col("span")),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
    )


@query("p10_decontamination_sparse", oracle=P10_ORACLE)
def p10_decontamination_sparse(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """derived sparse-contamination corpus (broadcast donor-span
    injection) → :func:`decontaminate` at production width 8 (see
    block comment)."""
    return decontaminate(
        p10_injected_corpus(spark, sf_dir), P10_NGRAM, P09_EVAL_MOD
    )


# ---------------------------------------------------------------------------
# P11 — DSIR-style importance scoring (Xie et al. 2023, "Data
# Selection for Language Models via Importance Resampling"): score
# every training document by how much more likely its hashed-n-gram
# features are under the TARGET distribution (the eval split — the
# stand-in for "high-quality target domain") than under the RAW corpus
# distribution:
#
#   score(doc) = Σ_{g ∈ feats(doc)} ln( p_tgt(bucket(g)) /
#                                        p_raw(bucket(g)) )
#
# with add-one (Laplace) smoothing over P11_DIM hashed buckets, so
# every bucket's weight is defined. Features and bucketing are t24's
# VALUES exactly (computed in a Python row kernel that is
# value-identical to uni_bigram_feats + md5_bucket — see the
# dsir_scores docstring and the pinned equality test), which is
# faithful to the paper: DSIR hashes unigrams+bigrams into a fixed
# bucket table.
#
# Plan: (1) bucket counts for raw (train split) and target (eval
# split) — ONE corpus shuffle of 256-key map-side partials (each task
# emits ≤256 rows regardless of input size; at 100 TB this exchange
# moves KBs per task); (2) the two count maps fold into a single
# 256-entry weight array via a 1×1 crossJoin — no collect, stays
# in-plan; (3) the weight row broadcasts back onto a second corpus
# scan and each doc scores MAP-SIDE via an in-row aggregate. The
# corpus is scanned twice and the only exchange is the 256-key
# partial-agg fold — the optimal shape for a
# global-statistics + per-row-score op.
#
# Determinism — exact-integer discipline (t24's): the per-bucket
# weight is quantized to NANO units, w = CAST(round(ln(ratio)·1e9)
# AS BIGINT), where the ratio is built as
# (CAST(cnt+1 AS DOUBLE) · (other_total + DIM)) on both sides so the
# float path is expression-identical; per-doc scores are then BIGINT
# sums — no float accumulation anywhere (|w| ≤ ~1.4e10 · ≤ a few
# hundred feats per doc ≪ 2⁶³, ANSI-safe).
# ---------------------------------------------------------------------------

P11_DIM = 256  # == text.T24_DIM (test-pinned); DSIR's bucket table

P11_ORACLE = f"""
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
e AS (
  SELECT doc_id,
         unnest(list_transform(feats, w ->
           ('0x' || substr(md5(w), 1, 15))::BIGINT % {P11_DIM})) AS bk
  FROM f
),
raw AS (
  SELECT bk, COUNT(*) AS cnt FROM e WHERE doc_id % {P09_EVAL_MOD} <> 0
  GROUP BY bk
),
tgt AS (
  SELECT bk, COUNT(*) AS cnt FROM e WHERE doc_id % {P09_EVAL_MOD} = 0
  GROUP BY bk
),
tot AS (
  SELECT (SELECT SUM(cnt) FROM raw) AS rtot,
         (SELECT SUM(cnt) FROM tgt) AS ttot
),
w AS (
  SELECT g.b AS bk,
         CAST(round(ln( (CAST(COALESCE(tg.cnt, 0) + 1 AS DOUBLE)
                         * (tot.rtot + {P11_DIM}))
                      / (CAST(COALESCE(rw.cnt, 0) + 1 AS DOUBLE)
                         * (tot.ttot + {P11_DIM})) ) * 1e9) AS BIGINT)
           AS w
  FROM range(0, {P11_DIM}) g(b)
  CROSS JOIN tot
  LEFT JOIN raw rw ON rw.bk = g.b
  LEFT JOIN tgt tg ON tg.bk = g.b
)
SELECT e.doc_id,
       COUNT(*) AS n_feats,
       CAST(SUM(w.w) AS BIGINT) AS score_nanos
FROM e JOIN w ON e.bk = w.bk
WHERE e.doc_id % {P09_EVAL_MOD} <> 0
GROUP BY e.doc_id
"""


def _dsir_buckets(text: str) -> list[tuple[list[int]]]:
    """p11's row kernel: the ``P11_DIM`` hash bucket of every unigram
    and bigram of ``text`` (top 60 bits of the feature's md5)."""
    toks = text.split(" ")
    feats = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
    buckets = [
        (int.from_bytes(hashlib.md5(f.encode()).digest()[:8], "big") >> 4)
        % P11_DIM
        for f in feats
    ]
    return [(buckets,)]


def dsir_scores(train: DataFrame, ev: DataFrame) -> DataFrame:
    """The p11 kernel (see block comment): DSIR importance scores for
    every ``train`` row against the ``ev`` target distribution.
    Inputs need (doc_id, text); returns (doc_id, n_feats,
    score_nanos). Factored so tests can drive synthetic corpora
    through the exact registered plan.

    Feature bucketing runs in a Python row kernel (``_dsir_buckets``
    via ``map_rows``) rather than the Catalyst expression twin
    (``text.md5_bucket`` over ``uni_bigram_feats``): the expression
    path costs ~60 µs per feature (md5 → hex string → substring →
    conv's BigInteger parse, all allocating, measured at x10), which
    p11 pays for THREE corpus passes — the kernel's hashlib.md5 +
    int.from_bytes is ~1 µs and
    value-IDENTICAL (first 15 hex chars == top 60 bits of the digest:
    int.from_bytes(digest[:8], 'big') >> 4; equality pinned in
    tests, and the oracle differential re-proves it end-to-end).
    t24 keeps the expression form — one pass over fixture-sized
    inputs is where the no-UDF property is worth its constant."""

    def bucketed(df: DataFrame) -> DataFrame:
        return map_rows(
            df.select("doc_id", "text"), _dsir_buckets, "buckets array<int>"
        )

    train, ev = bucketed(train), bucketed(ev)

    def dist(df: DataFrame, mcol: str, tcol: str) -> DataFrame:
        counts = (
            df.select(F.explode("buckets").alias("b"))
            .groupBy("b")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        return counts.groupBy().agg(
            F.map_from_entries(
                F.collect_list(F.struct("b", "cnt"))
            ).alias(mcol),
            F.sum("cnt").alias(tcol),
        )

    def smoothed(m: str, other_tot: str) -> "F.Column":
        # the lambda below closes over this builder; b is the bucket
        return lambda b: (
            (
                F.coalesce(
                    F.try_element_at(F.col(m), b.cast("long")),
                    F.lit(0).cast("long"),
                )
                + 1
            ).cast("double")
            * (F.col(other_tot) + P11_DIM)
        )

    num, den = smoothed("tm", "rtot"), smoothed("rm", "ttot")
    weights = (
        dist(train, "rm", "rtot")
        .crossJoin(dist(ev, "tm", "ttot"))
        .select(
            F.transform(
                F.sequence(F.lit(0), F.lit(P11_DIM - 1)),
                # Accepted ULP risk: java.lang.Math.log
                # and DuckDB's libm ln are each within 1 ulp of the
                # true log but not guaranteed CORRECTLY-rounded, so a
                # ratio whose ln lands within ~1 ulp of an exact
                # .5-nano boundary could round to weights differing
                # by 1 between engines. With 256 buckets of
                # counts ≤ ~10^5 the boundary-adjacent measure is
                # ~256·2^-52·1e9/1 ≈ 6e-5 per platform pair —
                # accepted, matching the repo's round-to-6 float
                # discipline elsewhere; every observed platform
                # (this box, 29 randomized seeds) agrees exactly.
                lambda b: F.round(
                    F.log(num(b) / den(b)) * F.lit(1e9)
                ).cast("long"),
            ).alias("warr")
        )
    )
    score = F.aggregate(
        F.col("buckets"),
        F.lit(0).cast("long"),
        lambda acc, b: acc + F.element_at(F.col("warr"), (b + 1).cast("int")),
    )
    return train.crossJoin(F.broadcast(weights)).select(
        "doc_id",
        F.size("buckets").cast("long").alias("n_feats"),
        score.alias("score_nanos"),
    )


@query("p11_dsir_importance", oracle=P11_ORACLE)
def p11_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11 — DSIR importance scores for every training document (see
    block comment): hashed uni+bigram log-likelihood ratio of the
    eval-split target distribution vs the raw corpus distribution,
    Laplace-smoothed over 256 buckets, nano-quantized to exact
    BIGINTs."""
    from .dedup import widen_scan

    docs = table(spark, sf_dir, "documents")
    return dsir_scores(
        widen_scan(docs.filter(F.col("doc_id") % P09_EVAL_MOD != 0)),
        docs.filter(F.col("doc_id") % P09_EVAL_MOD == 0),
    )

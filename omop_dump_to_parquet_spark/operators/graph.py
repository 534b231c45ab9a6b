"""Graph operators: connected components over near-duplicate pairs.

The dedup family (d03/d04/d05, dedup.py) emits verified PAIRS, but a
training pipeline needs CLUSTERS — "these 7 docs are one document;
keep the canonical one, drop 6". Pair→cluster is connected components
on the similarity graph, the step the reference's single-table ETL
(dump_table.py:81-111 is a straight scan) never needs but any
dedup-at-scale deployment does. [EXT] per SURVEY.md §2.3.

Algorithm: alternating large-star / small-star (Kiveris, Lattanzi,
Mirrokni, Rastogi, Vassilvitskii — "Connected Components in MapReduce
and Beyond", SoCC'14). Why not plain min-label propagation: label
propagation needs O(graph diameter) rounds, and a 100 TB corpus with
chained near-dups (A~B~C~… boilerplate drift) can have long paths;
the star algorithm provably converges in O(log² n) rounds on ANY
graph, each round two uniform-key shuffles proportional to the
CURRENT edge set (which only shrinks toward star graphs).

Scale design:
- every round is groupBy(min) + join on node ids — uniform keys,
  map-side partial aggregation, broadcast-free;
- ``localCheckpoint`` after each round truncates lineage (iterative
  plans otherwise grow exponentially and re-execute from the source);
  a production job on a flaky cluster should use a reliable
  ``checkpoint(dir)`` instead — hook provided via ``checkpoint_fn``;
- convergence is detected from an order-independent (count, hash-sum)
  fingerprint of the edge multiset — one tiny aggregate per round on
  the already-materialized checkpoint, no exceptAll shuffle.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..registry import query
from ..session import get_shuffle_partitions
from ..sources.parquet import table


def _canonical_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Orient every edge (big → small), drop self-loops, dedupe."""
    u, v = F.col(src).cast("long"), F.col(dst).cast("long")
    return (
        edges.select(
            F.greatest(u, v).alias("u"), F.least(u, v).alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(e: DataFrame) -> DataFrame:
    """For each node u, connect every STRICTLY LARGER neighbor to
    m = min(Γ(u) ∪ {u}). Halves path depth (a chain's far nodes gain
    direct edges toward the minimum)."""
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(
        F.least(F.min("v"), F.first("u")).alias("m")
    )
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """For each node u (edges oriented big→small, so Γ⁻(u) = its
    smaller neighbors), connect u and all of Γ⁻(u) to m = min(Γ⁻(u)).
    Flattens partial stars into stars centered at the minimum."""
    mins = e.groupBy("u").agg(F.min("v").alias("m"))
    to_min = e.join(mins, "u").select(
        F.col("v").alias("u"), F.col("m").alias("v")
    )
    self_edge = mins.select("u", F.col("m").alias("v"))
    return (
        to_min.union(self_edge)
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
    max_rounds: int = 50,
    checkpoint_fn: Callable[[DataFrame], DataFrame] | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """``(node, component_id)`` for every node with at least one
    NON-self-loop edge, where ``component_id`` is the smallest node id
    in the component. Nodes appearing only in self-loop edges are
    dropped with the self-loops themselves — callers that need them
    (d06 below needs every doc) coalesce missing nodes to singleton
    components on the join back, which is cheaper than scanning the
    raw edge set a second time here.

    ``max_rounds`` is a safety valve: the theoretical bound is
    O(log² n) rounds but convergence is ~log n empirically (SoCC'14
    §5), so 50 is generous for any practical graph; hitting it raises
    rather than returning a partial clustering.

    ``checkpoint_fn`` defaults to LAZY ``localCheckpoint`` — executor-
    local, right for a single job; pass ``lambda df: df.checkpoint()``
    with a configured checkpoint dir for fault-tolerant production runs.
    Lazy: the per-round convergence fingerprint is the action that
    materializes the round's checkpoint — a full count+sum aggregate
    computes every partition, so the round costs ONE Spark job instead
    of two (eager materialization + fingerprint). Measured at sf0.1
    (d06's 3-round graph): whole-CC jobs 42 → 38 (one per init/round),
    median 5.29s → 3.66s same-session paired.
    """
    if checkpoint_fn is None:
        def checkpoint_fn(df: DataFrame) -> DataFrame:
            return df.localCheckpoint(eager=False)

    e = checkpoint_fn(_canonical_edges(edges, src, dst))

    def fingerprint(df: DataFrame):
        # Order-independent multiset fingerprint: count + sum of a
        # per-edge hash folded to 32 bits, accumulated as decimal so
        # the sum cannot overflow long (and thus cannot throw under
        # ANSI mode) at any edge count.
        return df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.pmod(F.xxhash64("u", "v"), F.lit(2**32)).cast("decimal(38,0)")
            ).alias("h"),
        ).first()

    def is_star_forest(df: DataFrame) -> bool:
        # At the fixpoint every edge points member → center and no
        # node is both: u-set ∩ v-set must be empty. Guards against a
        # fingerprint collision between consecutive non-equal rounds
        # silently ending iteration on a non-star graph. A full count,
        # not limit(1): a generated limit names its counter afresh per
        # call, so each call compiled new classes; at the fixpoint the
        # intersection is empty, so the count does the same work.
        return (
            df.select("u").intersect(df.select(F.col("v").alias("u"))).count()
            == 0
        )

    prev = fingerprint(e)
    for rnd in range(max_rounds):
        e = checkpoint_fn(_small_star(_large_star(e)))
        cur = fingerprint(e)
        if cur == prev and is_star_forest(e):
            if stats is not None:
                stats["rounds"] = rnd + 1
                stats["final_edges"] = cur["n"]
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} rounds"
        )

    # Fixpoint = disjoint stars: every edge points (member → center).
    centers = e.select(F.col("v").alias("node")).distinct()
    return (
        e.select(F.col("u").alias("node"), F.col("v").alias("component_id"))
        .union(centers.select("node", F.col("node").alias("component_id")))
        .distinct()
    )


# ---------------------------------------------------------------------------
# D06 — dedup clusters: the d03 exact-Jaccard pair graph, collapsed to
# components, joined back to the corpus as a keep-list. The full
# pair→cluster→canonical pipeline a dedup deployment runs; docs in no
# pair are their own singleton cluster.
#
# Oracle: DuckDB recursive CTE — label(v) = min over all nodes that
# reach v; components are min-reachable-id, identical to the star
# fixpoint. Tractable at oracle scale (sf0.01: 910 pairs) because the
# reachability closure is bounded by Σ cluster_size²; the Spark side
# never materializes a closure.
# ---------------------------------------------------------------------------

from .dedup import (  # noqa: E402  (cycle-free: dedup imports nothing from here)
    JACCARD_THRESHOLD,
    _D03_CTES,
    _D03_SELECT,
    prefix_filter_candidates,
    verify_jaccard_pairs,
)

def _d03_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The d03 similarity graph's edge list — ONE definition for the
    four graph-side consumers (d06 clusters, g01 PageRank, g02 LPA,
    g03 triangles): blocked AllPairs prefix-filter candidates +
    exact-hash Jaccard verification at the shared threshold. One
    definition, so a threshold or blocking change cannot silently make
    the ranked graph differ from the clustered one."""
    from fractions import Fraction

    docs = table(spark, sf_dir, "documents")
    ratio = Fraction(str(JACCARD_THRESHOLD))
    candidates = prefix_filter_candidates(
        docs, ratio.numerator, ratio.denominator, "lang", "source"
    )
    return verify_jaccard_pairs(docs, candidates, JACCARD_THRESHOLD)


def _sym_src_edges(pairs: DataFrame, with_deg: bool = False) -> DataFrame:
    """Symmetrized edge list, repartitioned BY src at session width
    and checkpointed — shared by the iterative ops (g01, g02). The
    union would otherwise double the partition count (2×32) and every
    iteration would pay 64-task stages plus a per-iteration edge
    shuffle for the src join; pre-clustering on the join key makes
    every iteration read co-located edges, and the eager
    localCheckpoint truncates the candidate-generation lineage once.
    Measured at sf0.1 (g01): 1.81s → 0.92s for the PR loop.

    ``with_deg``: additionally attach each src's out-degree BEFORE the
    checkpoint. The degree table is static
    across PageRank iterations, so joining it once here (groupBy +
    join both run in-place on the src-partitioned edges — zero extra
    exchange) deletes one join per iteration from g01's unrolled
    plan; the per-edge ``pr / deg`` arithmetic is unchanged."""
    n_shuffle = get_shuffle_partitions(pairs.sparkSession)
    sym = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(
            pairs.select(
                F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
            )
        )
        .repartition(n_shuffle, "src")
    )
    if with_deg:
        deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        sym = sym.join(deg, "src")
    return sym.localCheckpoint(eager=True)


D06_ORACLE = f"""
WITH RECURSIVE {_D03_CTES},
pairs AS ({_D03_SELECT}),
sym AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
),
cc(node, label) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM sym) t
  UNION
  SELECT s.v, cc.label FROM cc JOIN sym s ON cc.node = s.u
),
comp AS (SELECT node, MIN(label) AS component_id FROM cc GROUP BY node)
SELECT d.doc_id,
       COALESCE(c.component_id, d.doc_id) AS component_id,
       COUNT(*) OVER (PARTITION BY COALESCE(c.component_id, d.doc_id))
         AS cluster_size,
       CAST(d.doc_id = COALESCE(c.component_id, d.doc_id) AS INT)
         AS is_canonical
FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
"""


#: Convergence stats of the most recent d06 run (rounds, final edge
#: count) — written by ``connected_components`` via its ``stats`` hook;
#: read by bench.py's secondary measurements and SCALING.md evidence.
LAST_CC_STATS: dict = {}


@query("d06_dedup_clusters", oracle=D06_ORACLE)
def d06_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs (d03's exact blocked Jaccard) → connected
    components → per-doc keep-list with canonical flag."""
    docs = table(spark, sf_dir, "documents")
    pairs = _d03_pairs(spark, sf_dir)
    LAST_CC_STATS.clear()
    comp = connected_components(pairs, "doc_a", "doc_b", stats=LAST_CC_STATS)

    assigned = docs.join(
        comp, docs["doc_id"] == comp["node"], "left"
    ).select(
        "doc_id",
        F.coalesce("component_id", "doc_id").alias("component_id"),
    )
    wc = W.partitionBy("component_id")
    return assigned.select(
        "doc_id",
        "component_id",
        F.count(F.lit(1)).over(wc).alias("cluster_size"),
        (F.col("doc_id") == F.col("component_id"))
        .cast("int")
        .alias("is_canonical"),
    )


# ---------------------------------------------------------------------------
# D08 — embedding near-dup CLUSTERS: s04's exact cosine-threshold pair
# graph (cogrouped block-pair GEMM, similarity.py:208) collapsed to
# connected components — the embedding-space twin of d06. Same scale
# story: pair generation is blocked (O(n·B) shuffle), clustering is
# O(log n) rounds of uniform-key shuffles on a shrinking edge set.
# ---------------------------------------------------------------------------

from ..operators.similarity import S04_ORACLE  # noqa: E402

D08_ORACLE = f"""
WITH RECURSIVE pairs AS (
  {S04_ORACLE}
),
sym AS (
  SELECT vec_a AS u, vec_b AS v FROM pairs
  UNION
  SELECT vec_b, vec_a FROM pairs
),
cc(node, label) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM sym) t
  UNION
  SELECT s.v, cc.label FROM cc JOIN sym s ON cc.node = s.u
),
comp AS (SELECT node, MIN(label) AS component_id FROM cc GROUP BY node)
SELECT e.vec_id,
       COALESCE(c.component_id, e.vec_id) AS component_id,
       COUNT(*) OVER (PARTITION BY COALESCE(c.component_id, e.vec_id))
         AS cluster_size,
       CAST(e.vec_id = COALESCE(c.component_id, e.vec_id) AS INT)
         AS is_canonical
FROM embeddings e LEFT JOIN comp c ON e.vec_id = c.node
"""


@query("d08_embedding_dedup_clusters", oracle=D08_ORACLE)
def d08_embedding_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine ≥ threshold pairs (s04's blocked GEMM) → connected
    components → per-vector keep-list with canonical flag."""
    from .similarity import s04_dedup_embedding

    emb = table(spark, sf_dir, "embeddings")
    pairs = s04_dedup_embedding(spark, sf_dir)
    comp = connected_components(pairs, "vec_a", "vec_b")

    assigned = emb.join(
        comp, emb["vec_id"] == comp["node"], "left"
    ).select(
        "vec_id",
        F.coalesce("component_id", "vec_id").alias("component_id"),
    )
    wc = W.partitionBy("component_id")
    return assigned.select(
        "vec_id",
        "component_id",
        F.count(F.lit(1)).over(wc).alias("cluster_size"),
        (F.col("vec_id") == F.col("component_id"))
        .cast("int")
        .alias("is_canonical"),
    )


# ---------------------------------------------------------------------------
# G01 — PageRank over the d03 similarity graph (iterative algorithm
# surface): score each document's centrality in the near-duplicate
# neighborhood graph — high-PR nodes are template/boilerplate hubs, a
# corpus-curation signal the pairwise ops can't give (a doc similar
# to MANY already-similar docs ranks above one in an isolated pair).
#
# Fixed PR_ITERS Jacobi iterations, damping 0.85. Each iteration is
# one join (edges × current ranks, both clustered on src) + one
# aggregation on dst — the canonical Pregel-on-DataFrames step; the
# edge table is materialized ONCE (localCheckpoint) so the expensive
# pair generation never re-runs per iteration. Determinism across
# engines AND across partitionings: per-iteration sums accumulate in
# exact DECIMAL(38,18) (dsum) and the result is rounded to 9 dp
# before feeding the next iteration — an 18th-fractional-digit
# rounding tie would require the double to be k·10⁻¹⁸ + 5·10⁻¹⁹
# exactly, which no binary rational can be, so both engines round
# identically. The oracle unrolls the same five iterations as chained
# CTEs — a differential-checked ITERATIVE op, not rows-only.
#
# Scale: iterations are linear in |edges|; rank/degree tables are
# |nodes| and broadcastable long before the edge table stops fitting
# a shuffle. A 100 TB corpus bounds iterations the same way (PR
# converges geometrically; fixed small k is the production norm).
# ---------------------------------------------------------------------------

PR_ITERS = 5
PR_DAMPING = 0.85

_PR_STEP = """{name} AS (
  SELECT e.dst AS node,
         round(0.15 + 0.85 * CAST(SUM(CAST(p.pr / d.deg AS DECIMAL(38,18)))
                                  AS DOUBLE), 9) AS pr
  FROM und e
  JOIN {prev} p ON p.node = e.src
  JOIN deg d ON d.src = e.src
  GROUP BY e.dst
)"""

G01_ORACLE = (
    f"WITH {_D03_CTES},\n"
    f"pairs AS (SELECT doc_a, doc_b FROM ({_D03_SELECT}) t),\n"
    "und AS (SELECT doc_a AS src, doc_b AS dst FROM pairs\n"
    "        UNION ALL SELECT doc_b, doc_a FROM pairs),\n"
    "deg AS (SELECT src, COUNT(*) AS deg FROM und GROUP BY src),\n"
    "pr0 AS (SELECT src AS node, 1.0 AS pr FROM deg),\n"
    + ",\n".join(
        _PR_STEP.format(name=f"pr{i + 1}", prev=f"pr{i}")
        for i in range(PR_ITERS)
    )
    + f"\nSELECT node, pr FROM pr{PR_ITERS}"
)


@query("g01_pagerank", oracle=G01_ORACLE)
def g01_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.deterministic import dsum

    pairs = _d03_pairs(spark, sf_dir).select("doc_a", "doc_b")
    # degrees are static across iterations: attach them to the
    # checkpointed edge table ONCE instead of re-joining the degree
    # table inside every unrolled iteration — one join fewer per
    # iteration, identical pr/deg arithmetic.
    und = _sym_src_edges(pairs, with_deg=True)
    pr = und.select(F.col("src").alias("node")).distinct().select(
        "node", F.lit(1.0).alias("pr")
    )
    for _ in range(PR_ITERS):
        # SHUFFLE_HASH: und is checkpointed
        # hash-partitioned on src and pr comes out of groupBy(node) at
        # the same width, so the hinted join is EXCHANGE-FREE with a
        # per-partition hash build of the small rank table — no
        # per-iteration broadcast-build job, no sort of the edge
        # table. Each iteration's only shuffle is the groupBy(dst).
        # Same-session paired A/B (loop only, pairs materialized):
        # 4.66s → 3.76s median.
        contrib = (
            und.join(pr.hint("shuffle_hash"), und["src"] == pr["node"])
            .select(
                F.col("dst").alias("n2"),
                (F.col("pr") / F.col("deg")).alias("c"),
            )
        )
        pr = contrib.groupBy(F.col("n2").alias("node")).agg(
            F.round(
                F.lit(0.15) + F.lit(PR_DAMPING) * dsum("c", 38, 18), 9
            ).alias("pr")
        )
    return pr


# ---------------------------------------------------------------------------
# G02 — synchronous label propagation (LPA, Raghavan et al. 2007)
# over the d03 similarity graph: community detection beyond d06's
# connected components — CC merges anything touching, LPA splits a
# connected blob into densely-linked communities (the template-
# family-vs-coincidental-bridge distinction a curation pipeline
# needs before bulk-dropping "one cluster").
#
# Fixed LPA_ITERS SYNCHRONOUS rounds: every node simultaneously
# adopts the most frequent label among its neighbors, ties broken to
# the SMALLEST label — fully deterministic (the classic async/random
# tie-break variant is not reproducible across engines or runs, so
# it cannot be differentially checked; synchronous min-tie-break is
# the standard determinization). A fixed iteration count sidesteps
# the known 2-cycle oscillation of sync LPA — both engines compute
# the identical k-step trajectory. Oracle: the same rounds unrolled
# as chained CTEs (per-round neighbor-label counts + row_number
# argmax), the g01 recipe with counting in place of decimal sums —
# all-integer state, so no rounding lockstep is even needed.
#
# Scale: each round is one join (edges × labels, clustered on the
# same src key g01 pins) + one (node, label) count + one argmax
# window on node — |edges|-linear, label table |nodes|-sized. The
# edge table is checkpointed ONCE and reused by all rounds.
# ---------------------------------------------------------------------------

LPA_ITERS = 4

_LPA_STEP = """c{i} AS (
  SELECT e.dst AS node, p.community AS cand, COUNT(*) AS cnt
  FROM und e JOIN l{prev} p ON p.node = e.src
  GROUP BY e.dst, p.community
),
l{i} AS (
  SELECT node, cand AS community FROM (
    SELECT node, cand,
           row_number() OVER (PARTITION BY node
                              ORDER BY cnt DESC, cand) AS rn
    FROM c{i}
  ) WHERE rn = 1
)"""

G02_ORACLE = (
    f"WITH {_D03_CTES},\n"
    f"pairs AS (SELECT doc_a, doc_b FROM ({_D03_SELECT}) t),\n"
    "und AS (SELECT doc_a AS src, doc_b AS dst FROM pairs\n"
    "        UNION ALL SELECT doc_b, doc_a FROM pairs),\n"
    "l0 AS (SELECT DISTINCT src AS node, src AS community FROM und),\n"
    + ",\n".join(
        _LPA_STEP.format(i=i + 1, prev=i) for i in range(LPA_ITERS)
    )
    + f"\nSELECT node, community FROM l{LPA_ITERS}"
)


def _lpa_argmax(votes: DataFrame) -> DataFrame:
    """Per node ``n2``, the ``community`` with the most votes ``cnt``,
    ties to the smallest: (node, community).

    A SECOND AGGREGATE instead of a row_number window: min of the
    (-cnt, community) struct picks the identical (cnt DESC, community
    ASC) winner as the oracle's unrolled SQL row_number, but the
    (n2, community) counts partial-aggregate into one exchange and the
    argmax needs no per-partition sort. Same-session paired A/B:
    3.67s → 2.44s median for g02's 4-round loop."""
    best = F.min(
        F.struct((-F.col("cnt")).alias("neg"), F.col("community"))
    ).alias("b")
    return (
        votes.groupBy(F.col("n2").alias("node"))
        .agg(best)
        .select("node", F.col("b.community").alias("community"))
    )


@query("g02_label_propagation", oracle=G02_ORACLE)
def g02_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _d03_pairs(spark, sf_dir).select("doc_a", "doc_b")
    und = _sym_src_edges(pairs)
    labels = und.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("community")
    )
    for _ in range(LPA_ITERS):
        # SHUFFLE_HASH on the co-partitioned label join (see g01)
        votes = (
            und.join(labels.hint("shuffle_hash"),
                     und["src"] == labels["node"])
            .groupBy(F.col("dst").alias("n2"), "community")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        labels = _lpa_argmax(votes)
    return labels


# ---------------------------------------------------------------------------
# G03 — exact triangle counting over the d03 similarity graph, with
# DEGREE-ORDERED ORIENTATION (the Latapy/forward-algorithm trick, and
# the MapReduce-era Suri-Vassilvitskii formulation): every undirected
# edge {u, v} is directed from the (degree, id)-SMALLER endpoint to
# the larger, turning each triangle into exactly one directed path
# pair — e(u,v), e(v,w) closed by e(u,w) — found with two self-joins.
# Per-node triangle participation is the clustering-coefficient
# numerator: inside a near-dup family it separates core boilerplate
# (every pair similar → many triangles) from chance pairwise hits
# (zero triangles), a signal the pairwise ops and even CC components
# (d06 — connectivity, not density) cannot give.
#
# Why orientation matters at 100 TB: the naive a<b-by-id orientation
# makes the join cost Σ_v out(v)·in(v), which a single high-degree
# hub with small ids blows up quadratically. Ordering by (deg, id)
# bounds every out-degree by O(√E), so the path-enumeration join is
# O(E^1.5) WORST CASE regardless of skew — the difference between a
# bounded shuffle and a hub-squared explosion on a power-law corpus.
# Both joins are equi hash joins on node keys; output is integral.
#
# Differential: the oracle reproduces the same orientation with SQL
# row-value comparison (deg, node) < (deg, node) — ids and degrees
# are integers, so orientation, paths, and counts are all exact.
# ---------------------------------------------------------------------------

G03_ORACLE = (
    f"WITH {_D03_CTES},\n"
    f"pairs AS MATERIALIZED (SELECT doc_a, doc_b FROM ({_D03_SELECT}) t),\n"
    "gdeg AS MATERIALIZED (\n"
    "  SELECT node, COUNT(*) AS deg FROM (\n"
    "    SELECT doc_a AS node FROM pairs\n"
    "    UNION ALL SELECT doc_b FROM pairs) u GROUP BY node),\n"
    "ori AS MATERIALIZED (\n"
    "  SELECT CASE WHEN (da.deg, p.doc_a) < (db.deg, p.doc_b)\n"
    "              THEN p.doc_a ELSE p.doc_b END AS src,\n"
    "         CASE WHEN (da.deg, p.doc_a) < (db.deg, p.doc_b)\n"
    "              THEN p.doc_b ELSE p.doc_a END AS dst\n"
    "  FROM pairs p\n"
    "  JOIN gdeg da ON da.node = p.doc_a\n"
    "  JOIN gdeg db ON db.node = p.doc_b),\n"
    "tri AS MATERIALIZED (\n"
    "  SELECT e1.src AS x, e1.dst AS y, e2.dst AS z\n"
    "  FROM ori e1\n"
    "  JOIN ori e2 ON e2.src = e1.dst\n"
    "  JOIN ori e3 ON e3.src = e1.src AND e3.dst = e2.dst)\n"
    "SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (\n"
    "  SELECT x AS node FROM tri\n"
    "  UNION ALL SELECT y FROM tri\n"
    "  UNION ALL SELECT z FROM tri) n GROUP BY node"
)


def triangle_counts(pairs: DataFrame) -> DataFrame:
    """``(doc_a, doc_b)`` undirected canonical edges (each unordered
    pair once) → ``(node, n_triangles)``: the degree-ordered-
    orientation core of g03, factored out so the graph-agnostic
    algorithm is property-testable against brute-force triple
    enumeration on arbitrary graphs."""
    spark = pairs.sparkSession
    deg = (
        pairs.select(F.col("doc_a").alias("node"))
        .union(pairs.select(F.col("doc_b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # orient each edge from the (deg, id)-smaller endpoint; struct
    # comparison gives the same total order as the oracle's row-value
    # comparison, and the edge table is materialized once so the two
    # path-joins below never re-run the pair generation
    n_shuffle = get_shuffle_partitions(spark)
    ori = (
        pairs.join(deg.withColumnRenamed("node", "doc_a")
                   .withColumnRenamed("deg", "deg_a"), "doc_a")
        .join(deg.withColumnRenamed("node", "doc_b")
              .withColumnRenamed("deg", "deg_b"), "doc_b")
        .select(
            F.when(
                F.struct(F.col("deg_a"), F.col("doc_a"))
                < F.struct(F.col("deg_b"), F.col("doc_b")),
                F.col("doc_a"),
            ).otherwise(F.col("doc_b")).alias("src"),
            F.when(
                F.struct(F.col("deg_a"), F.col("doc_a"))
                < F.struct(F.col("deg_b"), F.col("doc_b")),
                F.col("doc_b"),
            ).otherwise(F.col("doc_a")).alias("dst"),
        )
        .repartition(n_shuffle, "src")
        .localCheckpoint(eager=True)
    )
    e1, e2, e3 = ori.alias("e1"), ori.alias("e2"), ori.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.src") == F.col("e1.dst"))
        .join(
            e3,
            (F.col("e3.src") == F.col("e1.src"))
            & (F.col("e3.dst") == F.col("e2.dst")),
        )
        .select(
            F.col("e1.src").alias("x"),
            F.col("e1.dst").alias("y"),
            F.col("e2.dst").alias("z"),
        )
    )
    return (
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


@query("g03_triangle_count", oracle=G03_ORACLE)
def g03_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G03 — exact per-node triangle counts over the d03 similarity
    graph via degree-ordered orientation (out-degree ≤ O(√E) ⇒ the
    two path-joins are O(E^1.5) skew-proof); clustering-coefficient
    numerator separating dense boilerplate cores from chance pairs."""
    pairs = _d03_pairs(spark, sf_dir).select("doc_a", "doc_b")
    return triangle_counts(pairs)

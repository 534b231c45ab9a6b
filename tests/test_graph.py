"""Connected-components kernel tests (operators/graph.py).

The differential oracle (tests/test_parity.py + the driver) pins the
full d06 pipeline; these pin the star-algorithm kernel on adversarial
shapes the fixture graph doesn't contain — long chains (the case that
breaks plain label propagation), orientation/duplicate noise, and the
non-convergence safety valve.
"""

import pytest

from omop_dump_to_parquet_spark.operators.graph import connected_components


def _cc(spark, edges, **kw):
    df = spark.createDataFrame(edges, "u long, v long")
    rows = connected_components(df, "u", "v", **kw).collect()
    return {r.node: r.component_id for r in rows}


def test_two_components_and_star(spark):
    got = _cc(spark, [(1, 2), (2, 3), (3, 1), (10, 11)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_long_chain_converges_to_min(spark):
    # A 64-node path: diameter 63 — label propagation would need ~63
    # rounds; the star algorithm must land it well inside max_rounds.
    n = 64
    got = _cc(spark, [(i, i + 1) for i in range(1, n)], max_rounds=20)
    assert got == {i: 1 for i in range(1, n + 1)}


def test_orientation_and_duplicates_ignored(spark):
    # Same edge both ways + repeats + self-loops must not change the
    # result (canonicalization layer).
    got = _cc(spark, [(2, 1), (1, 2), (2, 1), (1, 1), (3, 2)])
    assert got == {1: 1, 2: 1, 3: 1}


def test_max_rounds_raises_not_partial(spark):
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 40)], "u long, v long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, "u", "v", max_rounds=1)


def test_random_graphs_match_union_find(spark):
    """Differential check against a driver-side union-find on a
    deterministic battery of random graph shapes (sparse, dense,
    multi-component, chain-heavy). Catches any algebraic slip in the
    large-star/small-star composition that the fixed cases miss."""
    import random

    def union_find_components(edges, nodes):
        parent = {n: n for n in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for u, v in edges:
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[max(ru, rv)] = min(ru, rv)
        # path-compress to the component MINIMUM (find after all
        # unions always reaches the root, which is the min by the
        # min-merge rule above)
        return {n: find(n) for n in nodes}

    rng = random.Random(20260813)
    for case in range(6):
        n_nodes = rng.choice([8, 20, 50])
        n_edges = rng.choice([n_nodes // 2, n_nodes, 3 * n_nodes])
        edges = [
            (rng.randrange(n_nodes), rng.randrange(n_nodes))
            for _ in range(n_edges)
        ]
        edges = [(u, v) for u, v in edges if u != v]
        if not edges:
            continue
        nodes = {x for e in edges for x in e}
        expect = union_find_components(edges, nodes)
        got = _cc(spark, [(int(u), int(v)) for u, v in edges])
        assert got == expect, f"case {case}: {sorted(edges)}"


def test_g02_lpa_separates_planted_families(spark, tmp_path):
    """Two disjoint near-duplicate families must land in two distinct
    communities with all members sharing their family's label; every
    node appears exactly once."""
    from pyspark.sql import functions as F

    from omop_dump_to_parquet_spark.operators.graph import (
        g02_label_propagation,
    )

    fam_a = "alpha beta gamma delta epsilon zeta eta theta"
    fam_b = "one two three four five six seven eight"
    rows = []
    for i, base in ((0, fam_a), (10, fam_b)):
        for j in range(3):
            # drop one word per member: pairwise Jaccard 6/8 = 0.75
            toks = base.split(" ")
            del toks[j]
            rows.append((i + j, " ".join(toks)))
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    docs = docs.withColumn("lang", F.lit("en")).withColumn(
        "source", F.lit("s")
    ).withColumn("n_chars", F.length("text"))
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    out = {r["node"]: r["community"]
           for r in g02_label_propagation(spark, str(tmp_path)).collect()}
    assert set(out) == {0, 1, 2, 10, 11, 12}
    a_labels = {out[n] for n in (0, 1, 2)}
    b_labels = {out[n] for n in (10, 11, 12)}
    assert len(a_labels) == 1 and len(b_labels) == 1
    assert a_labels != b_labels


def test_triangle_counts_matches_bruteforce_on_random_graphs(spark):
    """g03's degree-ordered-orientation core must equal brute-force
    triple enumeration on arbitrary graphs — including a hub-heavy
    one (star + clique), the shape the orientation exists to survive.
    The fixture-bound catalog id inherits this via triangle_counts."""
    import itertools
    import random

    from omop_dump_to_parquet_spark.operators.graph import triangle_counts

    def brute(edges: set[tuple[int, int]]) -> dict[int, int]:
        adj: dict[int, set[int]] = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        counts: dict[int, int] = {}
        for u, v, w in itertools.combinations(sorted(adj), 3):
            if v in adj[u] and w in adj[u] and w in adj[v]:
                for n in (u, v, w):
                    counts[n] = counts.get(n, 0) + 1
        return counts

    rng = random.Random(0xBEEF)
    cases = []
    for trial in range(4):  # Erdős–Rényi G(20, 0.25)
        edges = {
            (a, b)
            for a, b in itertools.combinations(range(20), 2)
            if rng.random() < 0.25
        }
        cases.append(edges)
    # hub-heavy adversary: node 0 connected to everything (a star
    # contributes no triangles by itself) PLUS a 6-clique among 1..6
    hub = {(0, i) for i in range(1, 16)}
    clique = {(a, b) for a, b in itertools.combinations(range(1, 7), 2)}
    cases.append(hub | clique)

    for edges in cases:
        expect = brute(edges)
        pairs = spark.createDataFrame(
            [(a, b) for a, b in sorted(edges)], "doc_a long, doc_b long"
        )
        got = {
            r["node"]: r["n_triangles"]
            for r in triangle_counts(pairs).collect()
        }
        assert got == expect, f"mismatch on {len(edges)}-edge graph"


def test_cc_lazy_default_matches_eager_checkpoint(spark, sf_small):
    """The lazy localCheckpoint default (materialized by the
    convergence fingerprint) must produce the identical component
    assignment as an eager checkpoint, on the real d03 pair graph."""
    from omop_dump_to_parquet_spark.operators.graph import _d03_pairs

    pairs = _d03_pairs(spark, sf_small).select(
        "doc_a", "doc_b"
    ).localCheckpoint(eager=True)
    lazy = sorted(
        map(tuple, connected_components(pairs, "doc_a", "doc_b").collect())
    )
    eager = sorted(
        map(
            tuple,
            connected_components(
                pairs,
                "doc_a",
                "doc_b",
                checkpoint_fn=lambda df: df.localCheckpoint(eager=True),
            ).collect(),
        )
    )
    assert lazy == eager and len(lazy) > 0


def test_g02_struct_min_argmax_matches_window_argmax(spark):
    """The LPA argmax (min of the (-cnt, community) struct) must pick
    the identical (cnt DESC, community ASC) winner as a row_number
    window — including on ties, which this synthetic vote table plants
    deliberately (equal counts → smallest community)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

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

"""Regression test for the r13 self-review finding on the shared
mixture-target arithmetic. (Its BPE findings live in test_bpe.py.)
"""

from __future__ import annotations


def test_mixture_quotas_are_capped_targets():
    """mixture_quotas must equal min(n_s, mixture_targets): the
    shared-basis refactor (r13 review) cannot change p06's values."""
    from omop_dump_to_parquet_spark.operators.pipeline import (
        mixture_quotas,
        mixture_targets,
    )

    counts = {"a": 10_000, "b": 100, "c": 1}
    tgt = mixture_targets(counts, 0.5)
    q = mixture_quotas(counts, 0.5)
    assert q == {s: min(counts[s], tgt[s]) for s in counts}
    assert sum(q.values()) <= sum(tgt.values())

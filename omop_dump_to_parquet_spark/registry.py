"""Query catalog registry.

Every operator module registers its queries here via the ``@query``
decorator; ``__spark_entry__.py`` exposes the assembled dicts to the
driver. A query is a ``(spark, sf_dir) -> DataFrame`` callable; its
optional ``oracle`` is the ANSI-SQL equivalent DuckDB runs on the same
parquet tables for the differential-correctness gate (SURVEY.md §5).

Determinism contract (cross-engine value hashing):
- every computed/aggregate column is aliased identically in the Spark
  plan and the oracle SQL;
- double *sums* are rounded at a precision where the data's decimal
  quantization makes summation-order noise unobservable (fixture
  monetary columns are 2-decimal: ``ROUND(sum, 2)`` is exact-safe),
  or routed through DECIMAL for products (exact arithmetic);
- rankings over doubles order by the ROUNDED value with an id
  tie-break, so both engines pick identical top-k sets;
- integer results derived from division go through an EXPLICIT
  floor()/round() before the integer cast on BOTH sides — a bare
  fractional→BIGINT cast truncates in Spark but rounds in DuckDB
  (off-by-one at .5+, found by w19's avg_us).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

_LOADED = False


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` under ``name``; ``oracle=None`` → rows-only check
    (genuinely non-SQL-expressible ops)."""

    def deco(fn: QueryFn) -> QueryFn:
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            from .session import apply_runtime_confs

            apply_runtime_confs(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        return wrapped

    return deco


# The driver's differential-correctness harness checks the first
# ``_WINDOW`` entries of ``queries()`` in insertion order per round;
# the catalog is larger than the window, so registration order decides
# which queries get fresh driver evidence each round.  Rather than a
# hand-curated rotation, order the catalog STALEST-EVIDENCE-FIRST,
# computed from the driver's own CORRECTNESS_r*.json artifacts:
# least-recently-checked first (never-checked ids sort before all),
# then fewest past checks, then registration order; see
# ``staleness()`` below for why last-round is the primary key.
# Properties: deterministic (pure function of committed
# artifacts), self-rotating (each round's check makes those queries
# "freshest", pushing them behind next round), bounded staleness (a
# query sits outside the window only while 50 stale-er queries exist),
# and failure-sticky (a run with a real ``err`` doesn't count as
# evidence, so a failing query stays in the window until it passes).
_WINDOW = 50

# Operators REWRITTEN since their last driver check are forced to the
# very front regardless of history — changed code must be re-verified
# before anything else is rotated in.  Clear entries once the next
# CORRECTNESS artifact shows a clean post-rewrite run.
_FORCE_IN_WINDOW: tuple[str, ...] = (
    "m03_frame_sample",
    "m09_bmp_decode_resize",
    "m10_wav_decode_features",
    "m11_png_decode_roundtrip",
    "s09_ann_pq",
)


def _artifact_root() -> str:
    """Directory holding the driver's CORRECTNESS_r*.json artifacts
    (the repo root). A function, not an inline expression, so tests
    can inject a directory without monkeypatching the process-global
    ``os.path.dirname``."""
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _driver_check_history() -> dict[str, tuple[int, int]]:
    """``name -> (times_checked, last_round_checked)`` parsed from the
    driver's ``CORRECTNESS_r*.json`` artifacts at the repo root.

    Only a clean full run (``err`` null — rows+schema+hash all
    compared) counts as evidence; any ``err`` does not, keeping
    failing queries inside the checked window.  Historic
    ``err == "no_oracle"`` rows-only runs (from before every id had a
    full oracle) are deliberately non-evidence too:
    they were weaker checks, and discounting them only rotates those
    ids in for a fresh full-oracle pass sooner.
    """
    import glob
    import json
    import re

    root = _artifact_root()
    history: dict[str, tuple[int, int]] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        match = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if match is None:
            continue
        rnd = int(match.group(1))
        try:
            with open(path) as fh:
                data = json.load(fh)
        except (OSError, ValueError):
            continue
        for name, res in data.items():
            if not isinstance(res, dict):
                continue
            if res.get("err") is not None:
                continue
            checked, last = history.get(name, (0, 0))
            history[name] = (checked + 1, max(last, rnd))
    return history


def load_catalog() -> tuple[dict[str, QueryFn], dict[str, str]]:
    """Import all operator modules (side effect: registration)."""
    global _LOADED
    if not _LOADED:
        from .operators import (  # noqa: F401
            dedup,
            graph,
            multimodal,
            pipeline,
            relational,
            similarity,
            skew,
            text,
            windows,
        )
        from .streaming import stream_queries  # noqa: F401

        history = _driver_check_history()
        reg_pos = {n: i for i, n in enumerate(QUERIES)}

        def staleness(name: str) -> tuple[int, int, int, int]:
            checked, last = history.get(name, (0, 0))
            forced = 0 if name in _FORCE_IN_WINDOW else 1
            # LAST-round-checked is the primary key (never-checked ids
            # have last=0 and still sort first): the goal is bounded
            # evidence AGE.  Ordering by times-checked first would let
            # an id checked once in a recent round cut ahead of one
            # checked twice long ago, leaving stale ids outside the
            # window indefinitely.
            return (forced, last, checked, reg_pos[name])

        ordered = sorted(QUERIES, key=staleness)
        reordered = {n: QUERIES[n] for n in ordered}
        QUERIES.clear()
        QUERIES.update(reordered)
        _LOADED = True
    return QUERIES, ORACLES

#!/usr/bin/env python
"""r13 second-decade scale evidence (r12 verdict tasks #4 and #6).

Three measurements, each merged as its own block into
SCALE_REHEARSAL.json:

1. ``d13_x100_extension`` — PassJoin linkage at x100 (the 2M-row
   part fixture ``.scale/x100/part.parquet``): the x10→x100 step
   pair extending the x30 row, with the same measured-vs-analytic
   candidate counts (PassJoin candidates should stay ~linear while
   the banded blocking scheme's analytic count is quadratic by
   construction on this fixture).

2. ``graph_heaps_extension`` — g03 triangles and d06 clusters on the
   HEAPS-vocabulary fixtures (``.scale/heaps/x{10,100}``), plus the
   d03 edge count at both scales. The r12 x100 rows put g01 at
   α 1.41 / g03 at α 1.27 on the FIXED-2000-word-vocab fixture and
   attributed the excess to the prefix-filter candidate stage (the
   Heaps sweep's measured N^1.6 artifact); g01 already has in-band
   Heaps rows (HEAPS_SWEEP.json: 9.2s→66.0s = α 0.85 x10→x100).
   This block adds the missing g03/d06 rows so the attribution is a
   measurement for the whole family, not an extrapolation from g01.

3. ``s04_d08_dispersed_x100`` — the GEMM margin-refine kernels at a
   second decade. The standing .scale fixtures are OUTPUT-quadratic
   for the embedding family by construction (10 gaussian clusters →
   ~8-10% of pairs within a cluster; s04 rows 20M→180M at x10→x30 =
   α 2.0, so an x100 leg would emit ~2×10⁹ pairs — the fixture
   artifact, not the plan). This block generates a DISPERSED fixture
   (isotropic gaussian base + 1% planted near-dup twins, output
   linear in n by construction) and measures the production kernels
   x10→x100 (20k→200k vectors):
     - cosine_pair_gemm at τ=0.72 (4.6σ above the isotropic cosine
       noise floor σ=1/√64, so the background pair count stays ~0 at
       2×10¹⁰ candidate pairs; planted twins sit at cos≈0.89) with
       the documented blocks∝n rule (B=8 at 20k, B=64 at 200k);
     - the d08 composition (pairs → connected_components keep-list).
   Wall-clock attribution: the exact all-pairs op is DEFINITIONALLY
   Θ(n²·dim) arithmetic, so the step α is reported alongside
   picoseconds-per-scored-cosine at both scales — a flat per-cosine
   constant is the "no hidden second quadratic" claim (the r11
   lesson: the refine stage must be output-sliver-sized, and here
   output is linear while scored pairs are n²/2).
"""
from __future__ import annotations

import json
import math
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

REPS = 3
DISP_SEED = 20260815
DISP_DIM = 64
DISP_TAU = 0.72
DISP_TWIN_FRACTION = 0.01
DISP_SCALES = {10: (20_000, 8), 100: (200_000, 64)}  # n -> (rows, blocks)


def _median_wall(fn, gc) -> tuple[float, list[float], int]:
    runs, n = [], None
    for _ in range(REPS):
        gc()
        t0 = time.perf_counter()
        n = fn().count()
        runs.append(round(time.perf_counter() - t0, 3))
    return round(statistics.median(runs), 3), runs, n


def _step_alpha(sec10: float, sec100: float) -> float:
    return round(math.log(sec100 / sec10) / math.log(10), 3)


def _gen_dispersed(root: str) -> None:
    """Write .scale/disp/x{10,100}/embeddings.parquet: isotropic
    gaussian vectors + a LINEAR count of planted near-dup twins
    (twin = base + 0.5·gaussian → cos ≈ 1/√1.25 ≈ 0.894). Pure
    function of DISP_SEED; files stay out of git like the rest of
    .scale/."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    for scale, (n, _) in DISP_SCALES.items():
        out = os.path.join(root, "disp", f"x{scale}")
        path = os.path.join(out, "embeddings.parquet")
        if os.path.exists(path):
            continue
        os.makedirs(out, exist_ok=True)
        rng = np.random.default_rng(DISP_SEED + scale)
        n_twin = int(n * DISP_TWIN_FRACTION)
        base = rng.normal(0.0, 1.0, size=(n - n_twin, DISP_DIM))
        src = rng.integers(0, n - n_twin, size=n_twin)
        twins = base[src] + 0.5 * rng.normal(
            0.0, 1.0, size=(n_twin, DISP_DIM)
        )
        vecs = np.vstack([base, twins]).astype(np.float32)
        order = rng.permutation(n)  # twins not contiguous on vec_id
        vecs = vecs[order]
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array(range(n), pa.int64()),
                    "embedding": pa.array(
                        [v.tolist() for v in vecs], pa.list_(pa.float32())
                    ),
                }
            ),
            path,
        )
        print(f"wrote {path} ({n} vectors)", file=sys.stderr)


def main() -> None:
    from pyspark.sql import functions as F

    from omop_dump_to_parquet_spark import load_catalog
    from omop_dump_to_parquet_spark.functions.vectors import to_double_array
    from omop_dump_to_parquet_spark.operators.graph import (
        _d03_pairs,
        connected_components,
    )
    from omop_dump_to_parquet_spark.operators.similarity import (
        cosine_pair_gemm,
    )
    from omop_dump_to_parquet_spark.session import get_spark
    from omop_dump_to_parquet_spark.sources.parquet import table
    from scale_rehearsal import _d13_candidate_counts

    queries, _ = load_catalog()
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    gc = spark.sparkContext._jvm.System.gc
    root = os.path.join(os.path.dirname(__file__), "..", ".scale")
    only = set(sys.argv[1:])  # optional: subset of block names

    out_path = os.path.join(
        os.path.dirname(__file__), "..", "SCALE_REHEARSAL.json"
    )
    results = {}
    if os.path.exists(out_path):
        with open(out_path) as fh:
            results = json.load(fh)

    def save() -> None:
        with open(out_path, "w") as fh:
            json.dump(results, fh, indent=2)

    # ---- block 3 first: cheapest x10 legs, and generation is local --
    if not only or "dispersed" in only:
        _gen_dispersed(root)
        block: dict = {
            "note": (
                "r13: GEMM kernels at the second decade on a DISPERSED "
                "fixture (isotropic base + 1% planted twins, output "
                "linear by construction — the standing .scale fixture "
                "is output-quadratic: s04 rows 20M->180M x10->x30, so "
                "its x100 leg would emit ~2e9 pairs, a fixture artifact)"
                f". tau={DISP_TAU} (4.6 sigma over the isotropic cosine "
                "noise floor), blocks per the B-scales-with-corpus rule"
            ),
            "ops": {"s04_gemm_kernel": {}, "d08_composition": {}},
        }
        for scale, (n, blocks) in sorted(DISP_SCALES.items()):
            sf_dir = os.path.join(root, "disp", f"x{scale}")
            emb = table(spark, sf_dir, "embeddings").select(
                "vec_id", to_double_array("embedding").alias("emb")
            )
            sec, runs, rows = _median_wall(
                lambda: cosine_pair_gemm(emb, DISP_TAU, blocks), gc
            )
            scored = n * (n - 1) // 2
            block["ops"]["s04_gemm_kernel"][f"x{scale}"] = {
                "n_vectors": n,
                "blocks": blocks,
                "sec": sec,
                "raw": runs,
                "rows_out": rows,
                "ps_per_scored_pair": round(sec / scored * 1e12, 1),
            }
            print(
                f"disp x{scale}: s04 kernel median {sec}s of {runs}, "
                f"{rows} pairs, {sec / scored * 1e12:.0f} ps/cosine",
                file=sys.stderr,
            )

            def d08_like():
                pairs = cosine_pair_gemm(emb, DISP_TAU, blocks)
                comp = connected_components(pairs, "vec_a", "vec_b")
                return emb.join(
                    comp, emb["vec_id"] == comp["node"], "left"
                ).select(
                    "vec_id",
                    F.coalesce("component_id", "vec_id").alias(
                        "component_id"
                    ),
                )

            sec, runs, rows = _median_wall(d08_like, gc)
            block["ops"]["d08_composition"][f"x{scale}"] = {
                "n_vectors": n,
                "blocks": blocks,
                "sec": sec,
                "raw": runs,
                "rows_out": rows,
            }
            print(
                f"disp x{scale}: d08 composition median {sec}s of {runs}",
                file=sys.stderr,
            )
        for op in block["ops"].values():
            op["step_alpha"] = _step_alpha(op["x10"]["sec"], op["x100"]["sec"])
        results["s04_d08_dispersed_x100"] = block
        save()

    # ---- block 2: graph family on the Heaps fixtures ----------------
    if not only or "graph_heaps" in only:
        block = {
            "note": (
                "r13: g03/d06 on the Heaps-vocabulary fixtures "
                "(.scale/heaps) — the fixed-vocab x100 exponents "
                "(g01 1.41, g03 1.27) are the prefix-filter candidate "
                "artifact (HEAPS_SWEEP: candidates N^1.6 on fixed "
                "vocab); with Heaps growth the same plans should sit "
                "in band like g01's existing rows (alpha 0.85)"
            ),
            "edges": {},
            "ops": {"g03_triangle_count": {}, "d06_dedup_clusters": {}},
        }
        for scale in (10, 100):
            sf_dir = os.path.join(root, "heaps", f"x{scale}")
            n_edges = _d03_pairs(spark, sf_dir).count()
            block["edges"][f"x{scale}"] = n_edges
            print(f"heaps x{scale}: edges={n_edges}", file=sys.stderr)
            for op in ("g03_triangle_count", "d06_dedup_clusters"):
                sec, runs, rows = _median_wall(
                    lambda: queries[op](spark, sf_dir), gc
                )
                block["ops"][op][f"x{scale}"] = {
                    "sec": sec,
                    "raw": runs,
                    "rows_out": rows,
                    "us_per_edge": round(sec / n_edges * 1e6, 2),
                }
                print(
                    f"heaps x{scale}: {op} median {sec}s of {runs}",
                    file=sys.stderr,
                )
        for op in block["ops"].values():
            op["step_alpha"] = _step_alpha(op["x10"]["sec"], op["x100"]["sec"])
        block["edges_step_alpha"] = _step_alpha(
            block["edges"]["x10"], block["edges"]["x100"]
        )
        results["graph_heaps_extension"] = block
        save()

    # ---- block 4: p06/p07 mixture ops at x100 ------------------------
    if not only or "mixture" in only:
        block = {
            "note": (
                "r13: the new mixture-sampling ids at the second decade "
                "(.scale x10/x100 documents, 50k->500k rows); both are "
                "one count shuffle + one source-window + (p07) a "
                "map-side explode, so the expectation is flat-to-linear"
            ),
            "ops": {},
        }
        for op in (
            "p06_temperature_mixture_sample",
            "p07_mixture_upsample",
        ):
            block["ops"][op] = {}
            for scale in (10, 100):
                sf_dir = os.path.join(root, f"x{scale}")
                sec, runs, rows = _median_wall(
                    lambda: queries[op](spark, sf_dir), gc
                )
                block["ops"][op][f"x{scale}"] = {
                    "sec": sec,
                    "raw": runs,
                    "rows_out": rows,
                }
                print(
                    f"x{scale}: {op} median {sec}s of {runs}, {rows} rows",
                    file=sys.stderr,
                )
            block["ops"][op]["step_alpha"] = _step_alpha(
                block["ops"][op]["x10"]["sec"],
                block["ops"][op]["x100"]["sec"],
            )
        results["mixture_x100_extension"] = block
        save()

    # ---- block 1: d13 at x100 ---------------------------------------
    if not only or "d13" in only:
        block = {
            "note": (
                "r13: PassJoin linkage x10->x100 step pair on the part "
                "fixture (200k->2M rows), extending the x30 row; "
                "candidate counts measured (PassJoin) vs analytic "
                "(banded/brand-only fixed-cardinality blocking)"
            ),
            "scales": {},
        }
        for scale in (10, 100):
            sf_dir = os.path.join(root, f"x{scale}")
            sec, runs, rows = _median_wall(
                lambda: queries["d13_edit_distance_linkage"](spark, sf_dir),
                gc,
            )
            block["scales"][f"x{scale}"] = {
                "sec": sec,
                "raw": runs,
                "rows_out": rows,
                "candidates": _d13_candidate_counts(spark, sf_dir),
            }
            print(
                f"x{scale}: d13 median {sec}s of {runs}, {rows} rows",
                file=sys.stderr,
            )
        s10, s100 = block["scales"]["x10"], block["scales"]["x100"]
        block["alphas"] = {
            "wall": _step_alpha(s10["sec"], s100["sec"]),
            "rows_out": _step_alpha(s10["rows_out"], s100["rows_out"]),
            "cand_passjoin": _step_alpha(
                s10["candidates"]["cand_passjoin"],
                s100["candidates"]["cand_passjoin"],
            ),
            "cand_banded_analytic": _step_alpha(
                s10["candidates"]["cand_banded_analytic"],
                s100["candidates"]["cand_banded_analytic"],
            ),
        }
        results["d13_x100_extension"] = block
        save()

    print(
        json.dumps(
            {
                k: results[k]
                for k in (
                    "s04_d08_dispersed_x100",
                    "graph_heaps_extension",
                    "mixture_x100_extension",
                    "d13_x100_extension",
                )
                if k in results
            },
            indent=2,
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()

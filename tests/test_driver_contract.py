"""The driver contract from a foreign cwd: a vanilla SparkSession whose
Python workers cannot import this package runs the kernel ids that call
module-level helpers, and each result matches its DuckDB oracle.

The queries run in a subprocess whose cwd is a temporary directory and
whose environment carries no PYTHONPATH, so the repo reaches the driver
only through ``__spark_entry__``'s own ``sys.path`` insert. Workers
succeed only if the package ships to them by value.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pandas as pd
from test_parity import ORACLES, assert_frames_match

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# kernels that call module-level helpers (map_rows, map_batches, row
# functions, decoders, demux, PQ lattice, the Arrow column helpers)
KERNEL_IDS = (
    "d05_dedup_simhash",
    "d10_semdedup",
    "d14_semdedup_kmeans",
    "d15_fuzzy_decontamination",
    "m02_decode_features",
    "m03_frame_sample",
    "m04_resize",
    "m05_image_phash_neardup",
    "m08_audio_framing",
    "m09_bmp_decode_resize",
    "m10_wav_decode_features",
    "m11_png_decode_roundtrip",
    "p11_dsir_importance",
    "s04_dedup_embedding",
    "s06_ann_int8",
    "s09_ann_pq",
    "t18_heavy_hitters",
    "t23_bpe_encode",
    "t25_html_extract",
)

DRIVER = textwrap.dedent(
    """
    import sys

    sys.path.insert(0, sys.argv[1])
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    import __spark_entry__ as entry

    queries = entry.queries()
    for name in sys.argv[4:]:
        out = f"{sys.argv[3]}/{name}.pkl"
        queries[name](spark, sys.argv[2]).toPandas().to_pickle(out)
    spark.stop()
    """
)


def test_kernel_ids_match_oracle_from_foreign_cwd(tmp_path, duck, sf_small):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", DRIVER, REPO, sf_small, str(tmp_path),
         *KERNEL_IDS],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    for name in KERNEL_IDS:
        got = pd.read_pickle(tmp_path / f"{name}.pkl")
        assert_frames_match(got, duck.sql(ORACLES[name]).df(), name)

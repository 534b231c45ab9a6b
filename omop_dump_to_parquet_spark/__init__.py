"""omop_dump_to_parquet_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the capabilities of the
reference repo ``stevenbedrick/omop-dump-to-parquet`` (a single-file
Oracle→Parquet ETL, ``dump_table.py``), generalized into:

- ``sources/``   — partitioned ingestion (JDBC, Parquet) with pinned
  schemas (reference ``dump_table.py:81-148``).
- ``sinks/``     — sized, sharded Parquet output
  (reference ``dump_table.py:156-233``).
- ``verify``     — count-conservation / schema-stability read-back
  checks (reference ``dump_table.py:235-248``).
- ``plans/``     — end-to-end pipelines (the reference's ``main``).
- ``operators/`` — the analytical query surface over the resulting
  lake: relational (joins/aggs/windows/sorts/set-ops), dedup (exact,
  MinHash-LSH, SimHash, n-gram Jaccard, embedding-cosine), similarity
  search, text analysis, multimodal columns.
- ``functions/`` — reusable column-expression helpers (vector math,
  text metrics, deterministic-rounding utilities) and the kernel
  wrappers ``map_rows`` and ``map_batches``.
- ``streaming/`` — Structured Streaming variants (windowed and
  session aggregation).

Everything is DataFrame/Catalyst-first: logical plans are declared with
the public PySpark API and physical strategy is left to Catalyst +
Tungsten + AQE. Python UDFs appear only where built-ins genuinely
cannot express the semantics (multimodal decode), and then only over
Arrow batches: per-row kernels through ``functions.kernels.map_rows``,
batch-vectorized NumPy kernels through ``map_batches``, and three
grouped NumPy kernels through ``applyInArrow``.
"""

__version__ = "0.1.0"

import sys

from pyspark import cloudpickle

# Python workers may not have this package on sys.path, so kernels and
# the module-level helpers they call are pickled by value.
cloudpickle.register_pickle_by_value(sys.modules[__name__])

from .registry import ORACLES, QUERIES, load_catalog  # noqa: E402, F401

"""The benchmark's workloads.

A workload sets up its inputs from a seed, runs one checked pass (the
warm-up, whose outputs are verified against an independent reference)
and then repeats passes of its operations. An operation is timed from
its first call into the package until its result is back in the
driver; checks of its output run after the pass, outside the timing.
"""

from __future__ import annotations

import glob
import importlib.util
import os
import shutil
import sys
import time
import traceback

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import inputs
from spans import plan_stats

from omop_dump_to_parquet_spark import load_catalog
from omop_dump_to_parquet_spark.force import contains_map
from omop_dump_to_parquet_spark.plans import dump_table
from omop_dump_to_parquet_spark.sinks import write_parquet
from omop_dump_to_parquet_spark.sources.jdbc import read_jdbc_table, write_jdbc_table

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

NOTE_DDL = (
    "CREATE TABLE NOTE (NOTE_ID BIGINT PRIMARY KEY, PERSON_ID INT, PROVIDER_ID INT, "
    "NOTE_DATE DATE, NOTE_TYPE_CONCEPT_ID INT, NOTE_TEXT CLOB)"
)
# Parquet files each JDBC partition lands as.
FILES_PER_PARTITION = 4

RELATIONAL_IDS = [
    "q01_pricing_summary",
    "q03_join_inner",
    "q07_star_broadcast",
    "q13_topk",
    "q25_shipping_priority",
    "q30_local_supplier_volume",
    "w02_window_running",
    "w04_sessionization",
    "w05_asof_join",
    "q29_lateral_explode",
    # Over the lake's documents: Arrow mapInPandas kernels (both), and
    # t23 learns its BPE merges with jobs while its plan is built.
    "t23_bpe_encode",
    "m02_decode_features",
]


def forced(df):
    """``force.forced_count``'s recipe (every output column hashed),
    returning the aggregate's DataFrame, the row count and the hash."""
    cols = [F.to_json(f.name) if contains_map(f.dataType) else F.col(f.name) for f in df.schema.fields]
    agg = df.agg(F.count(F.lit(1)).alias("n"), F.sum(F.hash(*cols).cast("long")).alias("h"))
    row = agg.collect()[0]
    return agg, row["n"], row["h"]


def parquet_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "*.parquet")))


def parquet_layout(path: str) -> dict[str, int]:
    """Bytes, files, row groups and the largest file's rows under ``path``."""
    metas = [pq.ParquetFile(f).metadata for f in parquet_files(path)]
    return {
        "bytes": sum(os.path.getsize(f) for f in parquet_files(path)),
        "files": len(metas),
        "row_groups": sum(m.num_row_groups for m in metas),
        "max_file_rows": max((m.num_rows for m in metas), default=0),
    }


def _parity_module():
    """``tests/test_parity.py``, loaded by path (``tests`` is not a package)."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_parity", os.path.join(ROOT, "tests", "test_parity.py")
    )
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


class DumpNotesJdbc:
    """An OMOP ``NOTE`` table in embedded Derby, dumped to a verified
    Parquet lake: the reference program."""

    name = "dump-notes-jdbc"
    ops = ["dump"]
    warmup_passes = 3
    warmup_seconds = 6.0

    def __init__(self, spark, cores: int, scale: float, duck):
        self.spark, self.cores, self.scale, self.duck = spark, cores, scale, duck
        self._outputs = 0

    def setup(self, seed: int, rep_dir: str) -> dict:
        notes = inputs.notes_table(seed, self.scale)
        manifest = inputs.write_raw({"notes": notes}, os.path.join(rep_dir, "raw"))
        self.url = f"jdbc:derby:{rep_dir}/derby"
        conn = self.spark._jvm.java.sql.DriverManager.getConnection(self.url + ";create=true")
        try:
            conn.createStatement().executeUpdate(NOTE_DDL)
        finally:
            conn.close()
        write_jdbc_table(
            self.spark.read.parquet(os.path.join(rep_dir, "raw", "notes.parquet")),
            self.url, "NOTE", mode="append", num_partitions=self.cores,
        )
        self.fingerprint = inputs.notes_fingerprint(notes)
        self.rows = notes.num_rows
        self.source_bytes = manifest["notes"]["arrow_bytes"]
        self.file_rows = max(1, -(-self.rows // (self.cores * FILES_PER_PARTITION)))
        self.out_root = os.path.join(rep_dir, "out")
        return manifest

    def source(self):
        return read_jdbc_table(
            self.spark, self.url, "NOTE", partition_column="NOTE_ID",
            lower_bound=0, upper_bound=self.rows, num_partitions=self.cores,
        )

    def run_op(self, name: str, tracer, op: str):
        out = os.path.join(self.out_root, str(self._outputs))
        self._outputs += 1
        with tracer.span("sources.jdbc.read", op):
            src = self.source()
        with tracer.span("plans.dump", op):
            result = dump_table(
                self.spark, src, out, casts={"PROVIDER_ID": "long"}, max_records_per_file=self.file_rows
            )
        return result, out

    def check(self, name: str, value) -> tuple[bool, dict]:
        """``DumpResult.ok`` plus a DuckDB fingerprint of the landed
        files equal to the generator's; the output is then removed."""
        result, out = value
        try:
            layout = parquet_layout(out)
            rows, nulls, id_sum, text_len = self.duck.sql(
                "SELECT count(*), count(*) - count(PROVIDER_ID), sum(NOTE_ID), "
                f"sum(length(NOTE_TEXT)) FROM read_parquet('{out}/*.parquet')"
            ).fetchone()
            landed = {"rows": rows, "null_provider": nulls, "sum_note_id": int(id_sum),
                      "sum_text_len": int(text_len)}
            ok = result.ok and result.rows_written == self.rows and landed == self.fingerprint
            self.output_bytes = layout["bytes"]
            if not ok:
                print(f"# dump check failed: ok={result.ok} rows={result.rows_written} "
                      f"landed={landed} expected={self.fingerprint}", file=sys.stderr)
            return ok, layout
        finally:
            shutil.rmtree(out, ignore_errors=True)

    def checked_pass(self, tracer) -> tuple[float, int]:
        """One dump, timed as warm-up; returns (seconds, failures)."""
        t0 = time.perf_counter()
        value = self.run_op("dump", tracer, "check/dump")
        seconds = time.perf_counter() - t0
        return seconds, 0 if self.check("dump", value)[0] else 1

    def probe(self, tracer, op: str) -> dict[str, float]:
        """Traced runs only: fetch the whole source once, on its own, so
        the JDBC layer's time is measured apart from the write it
        streams into."""
        with tracer.span("sources.jdbc.fetch", op):
            _, n, _ = forced(self.source())
        return {"sources.jdbc.rows": n}

    def trace_patches(self, tracer, stack) -> None:
        from omop_dump_to_parquet_spark.plans import dump as dump_module

        stack.enter_context(tracer.patched(dump_module, "write_parquet", "sinks.parquet_sink.write"))
        stack.enter_context(tracer.patched(dump_module, "verify_parquet", "verify.full"))


class LakeRelational:
    """A seeded TPC-H-shaped lake plus events and documents, landed
    through the repo's sink and served by catalog ids: JVM-only scans,
    exchanges and codegen in the relational and window operators, and
    two ids with Python kernels over the documents."""

    name = "lake-relational"
    ops = RELATIONAL_IDS
    make_tables = staticmethod(inputs.relational_tables)
    warmup_passes = 0
    warmup_seconds = 0.0

    def __init__(self, spark, cores: int, scale: float, duck):
        self.spark, self.cores, self.scale, self.duck = spark, cores, scale, duck
        self.queries, self.oracles = load_catalog()
        self.reference: dict[str, tuple] = {}

    def setup(self, seed: int, rep_dir: str) -> dict:
        tables = self.make_tables(seed, self.scale)
        raw = os.path.join(rep_dir, "raw")
        manifest = inputs.write_raw(tables, raw)
        self.lake = os.path.join(rep_dir, "lake")
        for name in tables:
            write_parquet(
                self.spark.read.parquet(os.path.join(raw, f"{name}.parquet")),
                os.path.join(self.lake, f"{name}.parquet"),
            )
        self.rows = sum(t.num_rows for t in tables.values())
        self.source_bytes = sum(m["arrow_bytes"] for m in manifest.values())
        self.output_bytes = sum(
            parquet_layout(os.path.join(self.lake, f"{n}.parquet"))["bytes"] for n in tables
        )
        for name in tables:
            self.duck.sql(
                f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM "
                f"read_parquet('{self.lake}/{name}.parquet/*.parquet')"
            )
        return manifest

    def _run(self, name: str, tracer, op: str):
        with tracer.span("operators.build", op):
            df = self.queries[name](self.spark, self.lake)
        with tracer.span("force", op):
            agg, n, h = forced(df)
        if tracer.active:
            tracer.count(op, plan_stats(agg._jdf))
        return df, (n, h)

    def run_op(self, name: str, tracer, op: str):
        return self._run(name, tracer, op)[1]

    def check(self, name: str, value) -> tuple[bool, dict]:
        return value == self.reference[name], {}

    def checked_pass(self, tracer) -> tuple[float, int]:
        """Every id once: the (rows, hash) it yields becomes the
        reference for the timed passes, and its rows are compared with
        the id's DuckDB oracle (untimed). Returns (seconds, failures)."""
        parity = _parity_module()
        seconds, failures = 0.0, 0
        for name in self.ops:
            t0 = time.perf_counter()
            df, self.reference[name] = self._run(name, tracer, f"check/{name}")
            seconds += time.perf_counter() - t0
            try:
                parity.assert_frames_match(df.toPandas(), self.duck.sql(self.oracles[name]).df(), name)
            except AssertionError:
                traceback.print_exc()
                failures += 1
        return seconds, failures

    def probe(self, tracer, op: str) -> dict[str, float]:
        return {}

    def trace_patches(self, tracer, stack) -> None:
        pass


WORKLOADS = {w.name: w for w in (DumpNotesJdbc, LakeRelational)}

"""Tests of the benchmark itself. Run from the repository root:

    python3 -m pytest perfbench/tests -q

The smoke tests start Spark and take a few minutes in all.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import inputs  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from spans import Span, self_times  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def _manifest():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _raw_bytes(tables, out_dir):
    inputs.write_raw(tables, out_dir)
    return {n: open(os.path.join(out_dir, f"{n}.parquet"), "rb").read() for n in tables}


@pytest.mark.parametrize(
    "make",
    [
        lambda s: {"notes": inputs.notes_table(s, 0.05)},
        lambda s: inputs.relational_tables(s, 0.05),
    ],
)
def test_inputs_are_a_function_of_the_seed(make, tmp_path):
    first = _raw_bytes(make(7), tmp_path / "a")
    assert first == _raw_bytes(make(7), tmp_path / "b")
    assert first != _raw_bytes(make(8), tmp_path / "c")


def test_notes_fingerprint_counts_nulls():
    notes = inputs.notes_table(5, 0.05)
    fp = inputs.notes_fingerprint(notes)
    assert fp["rows"] == notes.num_rows
    assert 0 < fp["null_provider"] < notes.num_rows / 4


def test_metric_names_and_units_match_the_manifest():
    manifest = _manifest()
    e2e = {m["name"]: m["unit"] for m in manifest["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in manifest["per_layer"]}
    assert e2e == run.E2E_UNITS
    assert layer == run.LAYER_UNITS
    assert tuple(w["name"] for w in manifest["workloads"]) == run.WORKLOAD_NAMES
    assert set(workloads.WORKLOADS) == set(run.WORKLOAD_NAMES)
    for name in [*e2e, *layer, *run.WORKLOAD_NAMES]:
        assert NAME.fullmatch(name), name


def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span("root", "p", None, 0.0, 10.0),
        Span("a", "p", 0, 1.0, 3.0),
        Span("b", "p", 0, 2.0, 5.0),  # overlaps a
        Span("c", "p", 0, 8.0, 12.0),  # runs past its parent's end
        Span("a.child", "p", 1, 1.0, 2.0),
    ]
    assert self_times(spans) == pytest.approx([4.0, 1.0, 3.0, 4.0, 1.0])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", run.WORKLOAD_NAMES)
def test_smoke_run_prints_every_metric(workload, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", "0.05"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    *_, provenance, last = proc.stdout.strip().splitlines()
    assert json.loads(provenance.removeprefix("# provenance "))["error_rate"] == 0
    result = json.loads(last)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    units = run.LAYER_UNITS if trace else run.E2E_UNITS
    assert {k: v["unit"] for k, v in result["metrics"].items()} == units
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())

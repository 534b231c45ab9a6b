"""Spans, self time and Spark-side counters for the traced run.

The benchmark traces from outside the package: it opens a span around
each call it makes into a layer (and, while tracing, around the two
functions ``plans.dump.dump_table`` calls, by swapping them on that
module). Each span runs under its own Spark job group, so
``statusTracker`` names the jobs it launched; the per-task and per-SQL
numbers come from the uncompressed event log, joined to spans by job id.
Spans stay in memory until the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import json
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field

# SQL metric display names of Spark's Python-UDF nodes (PythonSQLMetrics).
PY_BOOT = "time to start Python workers"
PY_TOTAL = "time to run Python workers"


@dataclass
class Span:
    name: str
    op: str
    parent: int | None
    start: float = 0.0
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the union of its children's intervals
    (clipped to the span), so overlapping children are not subtracted
    twice."""
    children: dict[int, list[int]] = defaultdict(list)
    for i, s in enumerate(spans):
        if s.parent is not None:
            children[s.parent].append(i)
    out = []
    for i, s in enumerate(spans):
        covered, lo, hi = 0.0, None, None
        for c_lo, c_hi in sorted(
            (max(spans[c].start, s.start), min(spans[c].end, s.end)) for c in children[i]
        ):
            if c_hi <= c_lo:
                continue
            if hi is None or c_lo > hi:
                if hi is not None:
                    covered += hi - lo
                lo, hi = c_lo, c_hi
            else:
                hi = max(hi, c_hi)
        if hi is not None:
            covered += hi - lo
        out.append(s.end - s.start - covered)
    return out


class NullTracer:
    """Stands in for ``Tracer`` when the run is not traced."""

    active = False

    def span(self, name: str, op: str | None = None):
        return contextlib.nullcontext()

    def count(self, op: str, values: dict[str, float]) -> None:
        pass


class Tracer:
    """Records spans; each span's Spark jobs are those of its job group."""

    active = True

    def __init__(self, sc):
        self._sc = sc
        self._tracker = sc.statusTracker()
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.counts: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))

    def count(self, op: str, values: dict[str, float]) -> None:
        """Add counters measured outside any span to operation ``op``."""
        for name, value in values.items():
            self.counts[op][name] += value

    def _set_group(self, idx: int | None) -> None:
        self._sc.setLocalProperty(
            "spark.jobGroup.id", None if idx is None else f"perfbench-span-{idx}"
        )

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        parent = self._stack[-1] if self._stack else None
        if op is None:
            op = self.spans[parent].op if parent is not None else ""
        idx = len(self.spans)
        span = Span(name, op, parent)
        self.spans.append(span)
        self._stack.append(idx)
        self._set_group(idx)
        span.start = time.perf_counter()
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            span.jobs = list(self._tracker.getJobIdsForGroup(f"perfbench-span-{idx}"))
            self._stack.pop()
            self._set_group(parent)

    @contextlib.contextmanager
    def patched(self, module, attr: str, name: str):
        """Run every call to ``module.attr`` inside a span named ``name``."""
        original = getattr(module, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        setattr(module, attr, traced)
        try:
            yield
        finally:
            setattr(module, attr, original)

    def dump(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as fh:
            json.dump(
                [dict(vars(s), self_s=t) for s, t in zip(self.spans, selfs)], fh
            )


@dataclass
class Task:
    job: int
    stage: int
    run_s: float
    cpu_s: float
    gc_s: float
    delay_s: float
    result_bytes: int
    input_bytes: int
    input_rows: int
    shuffle_write_bytes: int
    shuffle_read_bytes: int
    py_boot_s: float
    py_total_s: float


def read_event_log(path: str) -> list[Task]:
    """Per-task metrics from an uncompressed Spark event log."""
    job_of_stage: dict[int, int] = {}
    tasks = []
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                for sid in ev["Stage IDs"]:
                    job_of_stage.setdefault(sid, ev["Job ID"])
            elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                m, info = ev["Task Metrics"], ev["Task Info"]
                acc = {a.get("Name"): a.get("Update") for a in info.get("Accumulables", [])}
                run_ms = m["Executor Run Time"]
                getting = (
                    info["Finish Time"] - info["Getting Result Time"]
                    if info.get("Getting Result Time")
                    else 0
                )
                delay_ms = max(
                    0,
                    info["Finish Time"] - info["Launch Time"] - run_ms
                    - m["Executor Deserialize Time"] - m["Result Serialization Time"] - getting,
                )
                sr, sw, inp = m["Shuffle Read Metrics"], m["Shuffle Write Metrics"], m["Input Metrics"]
                tasks.append(
                    Task(
                        job=job_of_stage.get(ev["Stage ID"], -1),
                        stage=ev["Stage ID"],
                        run_s=run_ms / 1e3,
                        cpu_s=m["Executor CPU Time"] / 1e9,
                        gc_s=m["JVM GC Time"] / 1e3,
                        delay_s=delay_ms / 1e3,
                        result_bytes=m["Result Size"],
                        input_bytes=inp["Bytes Read"],
                        input_rows=inp["Records Read"],
                        shuffle_write_bytes=sw["Shuffle Bytes Written"],
                        shuffle_read_bytes=sr["Remote Bytes Read"] + sr["Local Bytes Read"],
                        py_boot_s=float(acc.get(PY_BOOT) or 0) / 1e3,
                        py_total_s=float(acc.get(PY_TOTAL) or 0) / 1e3,
                    )
                )
    return tasks


def plan_stats(jdf) -> dict[str, int]:
    """Shuffle partitions (and how many came out empty) and broadcast
    bytes in an executed query's final adaptive plan."""
    stats = {"partitions": 0, "empty_partitions": 0, "broadcast_bytes": 0}
    stack = [jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):  # a leaf whose stage plan is plan()
            if kind == "ShuffleQueryStageExec" and node.mapStats().isDefined():
                sizes = list(node.mapStats().get().bytesByPartitionId())
                stats["partitions"] += len(sizes)
                stats["empty_partitions"] += sum(1 for b in sizes if b == 0)
            stack.append(node.plan())
            continue
        if kind == "BroadcastExchangeExec":
            stats["broadcast_bytes"] += int(node.metrics().apply("dataSize").value())
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return stats


def layer_metrics(
    spans: list[Span], selfs: list[float], tasks: list[Task], pass_wall_s: float, cores: int
) -> dict[str, float]:
    """Per-layer totals for the spans of one pass; ``selfs`` are their
    self times (``self_times`` over the whole span tree)."""
    by_job = defaultdict(list)
    for t in tasks:
        by_job[t.job].append(t)

    def span_tasks(names):
        return [t for s in spans if s.name in names for j in s.jobs for t in by_job[j]]

    def self_s(name):
        return sum(t for s, t in zip(spans, selfs) if s.name == name)

    # The fetch probe runs after the pass; keep its tasks out of the pass totals.
    all_tasks = [t for s in spans if s.name != "sources.jdbc.fetch" for j in s.jobs for t in by_job[j]]
    lake_tasks = span_tasks({"operators.build", "force"})
    force_tasks = span_tasks({"force"})
    fetch_tasks = span_tasks({"sources.jdbc.fetch"})
    # The fetch probe's scan stage is its widest one: one task per JDBC partition.
    fetch_stage = defaultdict(list)
    for t in fetch_tasks:
        fetch_stage[t.stage].append(t.run_s)
    widest = max(fetch_stage.values(), key=len, default=[])
    run_s = sum(t.run_s for t in all_tasks)
    return {
        "sources.jdbc.fetch_s": self_s("sources.jdbc.fetch"),
        "sources.jdbc.task_max_over_median": (
            max(widest) / statistics.median(widest) if widest and statistics.median(widest) else 0.0
        ),
        "sinks.parquet_sink.write_s": self_s("sinks.parquet_sink.write"),
        "verify.full_s": self_s("verify.full"),
        "verify.rows_read": sum(t.input_rows for t in span_tasks({"verify.full"})),
        "plans.dump.self_s": self_s("plans.dump"),
        "sources.parquet.scan_bytes": sum(t.input_bytes for t in lake_tasks),
        "sources.parquet.scan_rows": sum(t.input_rows for t in lake_tasks),
        "operators.build_s": self_s("operators.build"),
        "operators.build_jobs": sum(len(s.jobs) for s in spans if s.name == "operators.build"),
        "force.exec_s": self_s("force"),
        "force.jobs": sum(len(s.jobs) for s in spans if s.name == "force"),
        "force.stages": len({t.stage for t in force_tasks}),
        "force.tasks": len(force_tasks),
        "spark.exchange.write_bytes": sum(t.shuffle_write_bytes for t in all_tasks),
        "spark.exchange.read_bytes": sum(t.shuffle_read_bytes for t in all_tasks),
        "kernels.python_boot_s": sum(t.py_boot_s for t in all_tasks),
        "kernels.python_total_s": sum(t.py_total_s for t in all_tasks),
        "spark.tasks.run_s": run_s,
        "spark.tasks.cpu_s": sum(t.cpu_s for t in all_tasks),
        "spark.tasks.gc_s": sum(t.gc_s for t in all_tasks),
        "spark.tasks.scheduler_delay_s": sum(t.delay_s for t in all_tasks),
        "spark.tasks.core_util": run_s / (pass_wall_s * cores) if pass_wall_s else 0.0,
        "driver.result_bytes": sum(t.result_bytes for t in all_tasks),
    }

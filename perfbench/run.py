#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the repository root. The workload's inputs are generated
from ``--seed``; then passes over the workload's operations repeat,
one operation at a time on half the CPUs, until ``--seconds`` have
elapsed. Every output is checked. Standard output ends with a
provenance line and one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics, or with
``--trace 1`` the per-layer ones). The exit code is 0 only when every
check passed. All files go under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import platform
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
PACKAGE = "omop_dump_to_parquet_spark"
DRIVER_MEMORY = "2g"
WORKLOAD_NAMES = ("dump-notes-jdbc", "lake-relational")

E2E_UNITS = {
    "setup_s": "s",
    "wall_ref": "ref",
    "op_p50_ref": "ref",
    "op_p90_ref": "ref",
    "rows_per_ref": "rows/ref",
    "bytes_per_source_byte": "ratio",
    "peak_rss_mb": "MB",
}
LAYER_UNITS = {
    "session.get_spark_s": "s",
    "sources.jdbc.fetch_s": "s",
    "sources.jdbc.rows": "count",
    "sources.jdbc.task_max_over_median": "ratio",
    "sinks.parquet_sink.write_s": "s",
    "sinks.parquet_sink.bytes": "bytes",
    "sinks.parquet_sink.files": "count",
    "sinks.parquet_sink.row_groups": "count",
    "sinks.parquet_sink.max_file_rows": "count",
    "verify.full_s": "s",
    "verify.rows_read": "count",
    "plans.dump.self_s": "s",
    "sources.parquet.scan_bytes": "bytes",
    "sources.parquet.scan_rows": "count",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "force.exec_s": "s",
    "force.jobs": "count",
    "force.stages": "count",
    "force.tasks": "count",
    "spark.exchange.write_bytes": "bytes",
    "spark.exchange.read_bytes": "bytes",
    "spark.exchange.partitions": "count",
    "spark.exchange.empty_partitions": "count",
    "kernels.python_boot_s": "s",
    "kernels.python_total_s": "s",
    "spark.tasks.run_s": "s",
    "spark.tasks.cpu_s": "s",
    "spark.tasks.gc_s": "s",
    "spark.tasks.scheduler_delay_s": "s",
    "spark.tasks.core_util": "ratio",
    "driver.result_bytes": "bytes",
    "broadcast.bytes": "bytes",
    "trace.overhead_s": "s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0, help="input size multiplier (tests use < 1)")
    return p.parse_args(argv)


def configure_environment(run_dir: str, trace: bool) -> None:
    """Keep every file Spark, Derby and Python write inside ``run_dir``;
    must run before the JVM starts."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if trace:
        os.makedirs(os.path.join(run_dir, "eventlog"))
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    # A fixed, pre-touched heap keeps the JVM's RSS from depending on
    # when G1 chooses to grow the heap, which moved peak_rss_mb up to
    # 2x between runs.
    java_opts = (
        f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={tmp} "
        f"-Dderby.stream.error.file={os.path.join(run_dir, 'derby.log')}"
    )
    args = ["--driver-java-options", java_opts]
    for k, v in confs.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in args + ["pyspark-shell"])


def processes() -> dict[int, tuple[int, str]]:
    """Live (non-zombie) processes: pid -> (parent pid, command name)."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                head, tail = fh.read().rsplit(")", 1)
        except OSError:
            continue
        fields = tail.split()
        if fields[0] != "Z":
            out[int(entry)] = (int(fields[1]), head.split("(", 1)[1])
    return out


def descendants(root: int, procs: dict[int, tuple[int, str]] | None = None) -> list[int]:
    """Live descendant pids of ``root``."""
    children = defaultdict(list)
    for pid, (ppid, _) in (procs or processes()).items():
        children[ppid].append(pid)
    out, stack = [], [root]
    while stack:
        kids = children.get(stack.pop(), [])
        out += kids
        stack += kids
    return out


def tree_rss_bytes(root: int) -> int:
    """Summed RSS of ``root``'s descendants. Of the JVM's own children
    only the Python workers count: a helper it spawns (Hadoop forks
    ``chmod`` when its native library is missing) shares the JVM's
    memory until it execs, so counting it counted the JVM twice."""
    procs = processes()
    total = 0
    for pid in descendants(root, procs):
        ppid, comm = procs[pid]
        if procs.get(ppid, (0, ""))[1] == "java" and not comm.startswith("python"):
            continue
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except OSError:
            pass
    return total


class PeakRss(threading.Thread):
    """Samples the RSS of this process's descendants (the JVM and its
    Python workers) every ``interval`` seconds and keeps the peak."""

    def __init__(self, interval: float = 0.25):
        super().__init__(daemon=True)
        self.interval, self.peak = interval, 0
        self._done = threading.Event()

    def run(self) -> None:
        while not self._done.wait(self.interval):
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))

    def stop(self) -> int:
        self._done.set()
        self.join(10)
        return self.peak


def stop_spark(spark) -> None:
    """Stop the session and the JVM, then wait until every process they
    started has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, signal.SIGKILL)
    while descendants(os.getpid()):
        time.sleep(0.1)


def run_passes(
    wl, spark, seconds: float, tracer, first: int, probe: bool = False, count: int = 1
) -> list[dict]:
    """Whole passes over the workload's operations until ``seconds``
    have elapsed and at least ``count`` passes ran. The reference job
    runs before each operation. Checks run after each pass, untimed."""
    passes = []
    deadline = time.perf_counter() + seconds
    while len(passes) < count or time.perf_counter() < deadline:
        index = first + len(passes)
        spark.sparkContext._jvm.System.gc()
        ops, values = [], []
        for name in wl.ops:
            op = f"{index}/{name}"
            reference = reference_s(spark)
            t = time.perf_counter()
            try:
                values.append(wl.run_op(name, tracer, op))
            except Exception:
                traceback.print_exc()
                values.append(None)
            ops.append({"name": name, "op": op, "seconds": time.perf_counter() - t, "reference_s": reference})
        wall = sum(o["seconds"] for o in ops)
        extra = wl.probe(tracer, f"{index}/probe") if probe else {}
        for o, value in zip(ops, values):
            o["ok"], o["layout"] = False, {}
            if value is not None:
                try:
                    o["ok"], o["layout"] = wl.check(o["name"], value)
                except Exception:
                    traceback.print_exc()
        passes.append({"index": index, "wall_s": wall, "ops": ops, "extra": extra})
        print(
            f"# pass {index}: {wall:.3f}s "
            + " ".join(f"{o['name']}={o['seconds']:.3f}{'' if o['ok'] else '!'}" for o in ops),
            file=sys.stderr,
        )
    return passes


def reference_s(spark) -> float:
    """Seconds for a fixed Spark job in which no package code takes
    part: a hash sum over a 6M-row range. On a shared host, other
    tenants' load slows it and the operations alike: over runs of the
    same code, a dump's seconds spread by 42% (quartile distance over
    median) and its ratio to this job by 3%."""
    t = time.perf_counter()
    spark.range(0, 6_000_000, numPartitions=spark.sparkContext.defaultParallelism).selectExpr(
        "sum(hash(id))"
    ).collect()
    return time.perf_counter() - t


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile; a failed operation is +inf."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo, hi = math.floor(pos), math.ceil(pos)
    if xs[hi] == math.inf:
        return math.inf
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def end_to_end(wl, passes, setup_s: float, peak_rss: int) -> tuple[dict[str, float], dict[str, float]]:
    """The compared metrics, with each latency in units of the
    reference job timed just before it, and the latencies in seconds."""
    ops = [o for p in passes for o in p["ops"]]

    def summary(latency) -> dict[str, float]:
        values = [latency(o) if o["ok"] else math.inf for o in ops]
        # One pass as the sum of each operation's median latency:
        # steadier than the median pass when a run holds few passes.
        wall = sum(
            statistics.median(v for o, v in zip(ops, values) if o["name"] == name) for name in wl.ops
        )
        return {"wall": wall, "p50": quantile(values, 0.5), "p90": quantile(values, 0.9), "rows": wl.rows / wall}

    ref = summary(lambda o: o["seconds"] / o["reference_s"])
    sec = summary(lambda o: o["seconds"])
    seconds = {
        "reference_s": statistics.median(o["reference_s"] for o in ops),
        "wall_s": sec["wall"],
        "op_p50_s": sec["p50"],
        "op_p90_s": sec["p90"],
        "rows_per_s": sec["rows"],
    }
    metrics = {
        "setup_s": setup_s,
        "wall_ref": ref["wall"],
        "op_p50_ref": ref["p50"],
        "op_p90_ref": ref["p90"],
        "rows_per_ref": ref["rows"],
        "bytes_per_source_byte": wl.output_bytes / wl.source_bytes,
        "peak_rss_mb": peak_rss / 2**20,
    }
    return metrics, seconds


def per_layer(tracer, traced, untraced, event_log: str, cores: int, session_s: float) -> dict[str, float]:
    import spans

    tasks = spans.read_event_log(event_log)
    selfs = spans.self_times(tracer.spans)
    rows = []
    for p in traced:
        prefix = f"{p['index']}/"
        mine = [i for i, s in enumerate(tracer.spans) if s.op.startswith(prefix)]
        m = spans.layer_metrics(
            [tracer.spans[i] for i in mine], [selfs[i] for i in mine], tasks, p["wall_s"], cores
        )
        m.update(p["extra"])
        counts = defaultdict(float)
        for op, values in tracer.counts.items():
            if op.startswith(prefix):
                for k, v in values.items():
                    counts[k] += v
        m["spark.exchange.partitions"] = counts["partitions"]
        m["spark.exchange.empty_partitions"] = counts["empty_partitions"]
        m["broadcast.bytes"] = counts["broadcast_bytes"]
        layout = defaultdict(float)
        for o in p["ops"]:
            for k, v in o["layout"].items():
                layout[k] += v
        for k in ("bytes", "files", "row_groups", "max_file_rows"):
            m[f"sinks.parquet_sink.{k}"] = layout[k]
        rows.append(m)
    out = {k: statistics.median(r.get(k, 0.0) for r in rows) for k in LAYER_UNITS}
    out["session.get_spark_s"] = session_s
    out["trace.overhead_s"] = statistics.median(p["wall_s"] for p in traced) - statistics.median(
        p["wall_s"] for p in untraced
    )
    return out


def git_commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    proc = subprocess.run(
        ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=30
    )
    return proc.stdout.strip() or None


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def mem_total_kb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def run(args, run_dir: str, cores: int) -> int:
    provenance = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "scale": args.scale,
        "nproc": os.cpu_count(),
        "cores_passed": cores,
        "driver_memory_passed": DRIVER_MEMORY,
        "mem_total_kb": mem_total_kb(),
        "loadavg_before": loadavg(),
        "git_commit": git_commit(),
        "python": platform.python_version(),
    }
    steal_before = cpu_steal_s()
    sys.path[:0] = [ROOT, HERE]
    import duckdb
    import pyspark

    import spans
    import workloads
    from omop_dump_to_parquet_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cores=cores)
    session_s = time.perf_counter() - t0
    duck = duckdb.connect(
        config={"threads": cores, "memory_limit": "1GB", "temp_directory": os.path.join(run_dir, "duckdb")}
    )
    duck.execute("SET enable_progress_bar = false")
    failures = attempted = 0
    try:
        wl = workloads.WORKLOADS[args.workload](spark, cores, args.scale, duck)
        t = time.perf_counter()
        provenance["inputs"] = wl.setup(args.seed, os.path.join(run_dir, "inputs"))
        inputs_s = time.perf_counter() - t
        t = time.perf_counter()
        warm_s, check_failures = wl.checked_pass(spans.NullTracer())
        provenance["checked_pass_wall_s"] = time.perf_counter() - t
        # JIT compilation goes on for several more passes after the first.
        warmup = run_passes(wl, spark, wl.warmup_seconds, spans.NullTracer(), 0, count=wl.warmup_passes)
        warm_s += sum(p["wall_s"] for p in warmup)
        attempted += len(wl.ops) * (1 + len(warmup))
        failures += check_failures + sum(not o["ok"] for p in warmup for o in p["ops"])
        setup_s = session_s + inputs_s + warm_s
        provenance.update(session_s=session_s, inputs_s=inputs_s, warmup_s=warm_s)
        rss = PeakRss()
        rss.start()
        first = len(warmup)
        if args.trace:
            untraced = run_passes(wl, spark, args.seconds / 2, spans.NullTracer(), first)
            tracer = spans.Tracer(spark.sparkContext)
            with contextlib.ExitStack() as stack:
                wl.trace_patches(tracer, stack)
                traced = run_passes(wl, spark, args.seconds / 2, tracer, first + len(untraced), probe=True)
            passes = untraced + traced
        else:
            # Two passes at least, so that each operation has a median.
            passes = run_passes(wl, spark, args.seconds, spans.NullTracer(), first, count=2)
        attempted += sum(len(p["ops"]) for p in passes)
        failures += sum(not o["ok"] for p in passes for o in p["ops"])
        provenance.update(
            java=spark.sparkContext._jvm.System.getProperty("java.version"),
            pyspark=pyspark.__version__,
            passes=len(passes),
            op_seconds={
                name: [o["seconds"] for p in passes for o in p["ops"] if o["name"] == name]
                for name in wl.ops
            },
            op_reference_s={
                name: [o["reference_s"] for p in passes for o in p["ops"] if o["name"] == name]
                for name in wl.ops
            },
        )
        peak_rss = rss.stop()
    finally:
        duck.close()
        stop_spark(spark)
    if args.trace:
        (log,) = os.listdir(os.path.join(run_dir, "eventlog"))
        metrics = per_layer(tracer, traced, untraced, os.path.join(run_dir, "eventlog", log), cores, session_s)
        tracer.dump(os.path.join(WORK, f"spans-{args.workload}.json"))
        units = LAYER_UNITS
    else:
        metrics, seconds = end_to_end(wl, passes, setup_s, peak_rss)
        provenance.update(seconds)
        units = E2E_UNITS
    provenance.update(
        loadavg_after=loadavg(), cpu_steal_s=cpu_steal_s() - steal_before, error_rate=failures / attempted
    )
    print("# provenance " + json.dumps(provenance, sort_keys=True))
    print(
        json.dumps(
            {
                "correct": failures == 0,
                "attempted": attempted,
                "failed": failures,
                "metrics": {
                    k: {"value": metrics[k] if math.isfinite(metrics[k]) else None, "unit": units[k]}
                    for k in units
                },
            }
        )
    )
    return 0 if failures == 0 else 1


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE} package next to {HERE}; run from a full checkout", file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        configure_environment(run_dir, bool(args.trace))
        # Half the CPUs: the operations are floored by job count, not by
        # parallelism (as fast on local[2] as on local[4] with 4 CPUs),
        # and the other half absorbs the JVM's own threads, the Python
        # driver and other tenants, which otherwise stall each job's
        # last task.
        return run(args, run_dir, max(1, len(os.sched_getaffinity(0)) // 2))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())

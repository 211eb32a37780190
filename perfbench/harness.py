"""Shared pieces of the benchmark workloads: the engine session, the timed
action, latency statistics, host accounting and memory readings."""

from __future__ import annotations

import math
import os
import statistics
import subprocess
import sys
import time

from spans import Tracer, gc_seconds, job_counts, plan_metrics


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> str:
    with open("/proc/loadavg") as fh:
        return " ".join(fh.read().split()[:3])


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set size of a process, from ``/proc``."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cpu_times() -> list[int]:
    """Aggregate CPU tick counters of the host, from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    :func:`cpu_times` readings."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d), 1)


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants
    (the engine JVM and its Python workers), from ``/proc``."""
    kids: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process exited while we looked
            continue
        kids.setdefault(int(f[1]), []).append(int(d))
        ticks[int(d)] = sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    total, stack = 0, [os.getpid()]
    while stack:
        pid = stack.pop()
        total += ticks.get(pid, 0)
        stack += kids.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


def tail(samples: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it:
    ``(value, percentile, n)``.  With ten samples or fewer no percentile
    qualifies and the maximum is returned as percentile 100."""
    xs = sorted(samples)
    n = len(xs)
    i = n - 1 if n <= 10 else n - 11
    return xs[i], 100.0 * (i + 1) / n, n


def checksum(df):
    """The timed action: a full-width count + sum(xxhash64) aggregate.
    Unlike a bare ``count()``, Catalyst cannot prune any output column."""
    from pyspark.sql import functions as F

    return df.select(F.count(F.lit(1)).alias("n"),
                     F.sum(F.xxhash64(*df.columns)).alias("h"))


class Engine:
    """The engine session plus the per-op tracing the traced run adds.

    With ``trace`` off, :meth:`action` just runs the checksum; with it on,
    the op gets its own job group and the counters listed in
    ``BENCHMARK.json``'s ``per_layer`` section are accumulated.  Counters
    are read in :meth:`op_end`, after the op's latency has been taken."""

    def __init__(self, workdir: str, trace: bool):
        self.workdir = workdir
        self.tracer = Tracer(trace)
        self.counters: dict[str, float] = {}
        self.spark = None
        self._aggs: list = []

    def start(self, cpus: int):
        from real_estate_project1_etl_spark.session import get_spark

        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(
                "perfbench", cpus=cpus, shuffle_partitions=cpus,
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    "spark.sql.warehouse.dir": os.path.join(self.workdir, "warehouse"),
                },
            )
            self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def peak_rss_mb(self) -> float:
        return vm_hwm_mb("self") + vm_hwm_mb(self.jvm_pid())

    def add(self, key: str, value: float) -> None:
        self.counters[key] = self.counters.get(key, 0.0) + value

    # -- per-op bookkeeping (traced run only) -----------------------------
    def op_begin(self, op_id: str) -> None:
        self.tracer.op_id = op_id
        if self.tracer.enabled:
            self.spark.sparkContext.setJobGroup(op_id, op_id)
            self._gc0 = gc_seconds(self.spark)

    def op_end(self, op_id: str, extra_groups: tuple[str, ...] = ()) -> None:
        """Reads the op's counters: its job groups (``op_id`` plus
        ``extra_groups``, e.g. a streaming run's id), its GC time, and the
        plan metrics of the aggregates its actions ran."""
        if not self.tracer.enabled:
            return
        sc = self.spark.sparkContext
        for g in (op_id, *extra_groups):
            for k, v in job_counts(sc, g).items():
                self.add(f"exec.{k}", v)
        self.add("exec.gc_s", gc_seconds(self.spark) - self._gc0)
        for agg in self._aggs:
            for k, v in plan_metrics(agg._jdf).items():
                self.add(k, v)
        self._aggs.clear()
        sc.setLocalProperty("spark.jobGroup.id", None)
        self.tracer.op_id = None

    def action(self, df):
        """Run the checksum of ``df``; returns ``(n_rows, hash_sum)``."""
        agg = checksum(df)
        if self.tracer.enabled:
            with self.tracer.span("plans.optimize"):
                agg._jdf.queryExecution().executedPlan()
        with self.tracer.span("exec.action"):
            row = agg.collect()[0]
        if self.tracer.enabled:
            self._aggs.append(agg)
            self.add("rows_out", int(row["n"]))
        return int(row["n"]), row["h"]

    def stop(self) -> None:
        """Stop the session and the engine's JVM, and wait for the JVM to
        exit (it exits when its stdin closes)."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if proc is not None:
            gw.shutdown()
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
            SparkContext._gateway = SparkContext._jvm = None


def p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else math.nan


def fmt_line(workload: str, name: str, value, unit: str, note: str = "") -> str:
    v = f"{value:.6g}" if isinstance(value, float) else str(value)
    return f"{workload} {name} = {v} {unit}{('  (' + note + ')') if note else ''}"


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def now() -> float:
    return time.perf_counter()

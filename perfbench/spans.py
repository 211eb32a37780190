"""Spans and engine counters for the traced benchmark run.

Spans are recorded by the benchmark around its calls into the engine's
public functions (no span lives inside the engine).  Each span has a
name, start, end, parent and op id; all spans are kept in memory and
written out once, when the run ends.  A span's self time is its duration
minus the part of it that its child spans cover.

The counters read Spark's own bookkeeping: job/stage/task counts through
``statusTracker`` for a per-op job group, JVM GC time through the GC
MXBeans, and SQL metrics of the final physical plan after the action.
"""

from __future__ import annotations

import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder.  ``enabled=False`` makes every call a
    no-op, so the untraced run pays nothing but a method call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self.op_id: str | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            idx = len(self.spans)
            self.spans.append({"name": name, "op": self.op_id, "parent": parent,
                               "start": time.perf_counter(), "end": None})
            main = threading.current_thread() is threading.main_thread()
            if main:
                self._stack.append(idx)
        try:
            yield
        finally:
            with self._lock:
                self.spans[idx]["end"] = time.perf_counter()
                if main:
                    self._stack.pop()

    def self_times(self, ops) -> dict[str, float]:
        """Total self time per span name, over the spans of ``ops``."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            if s["end"] is None or s["op"] not in ops:
                continue
            covered, cur_end = 0.0, s["start"]
            for a, b in sorted(children.get(i, [])):
                a, b = max(a, cur_end), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cur_end = b
            out[s["name"]] += (s["end"] - s["start"]) - covered
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def gc_seconds(spark) -> float:
    """Cumulative GC time of the engine JVM (which runs every task in
    ``local[N]`` mode)."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def job_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages, tasks and failed tasks run under one job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = failed = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for sid in info.stageIds:
            s = st.getStageInfo(sid)
            if s is None:
                continue
            stages += 1
            tasks += s.numTasks
            failed += s.numFailedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "tasks_failed": failed}


def _metric_values(node) -> dict[str, int]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = int(kv._2().value())
    return out


def plan_metrics(jdf) -> dict[str, float]:
    """Exchange, scan and spill totals from the SQL metrics of ``jdf``'s
    final physical plan (call after its action has run)."""
    plan = jdf.queryExecution().executedPlan()
    tot = defaultdict(float)
    stack, seen = [plan], set()
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if node.id() in seen:  # a reused subquery appears more than once
            continue
        seen.add(node.id())
        m = _metric_values(node)
        if cls == "ShuffleExchangeExec":
            tot["exchange.count"] += 1
            tot["exchange.bytes"] += m.get("dataSize", 0)
            tot["exchange.records"] += m.get("shuffleRecordsWritten", 0)
        elif cls == "FileSourceScanExec":
            tot["sources.files_read"] += m.get("numFiles", 0)
            tot["sources.rows_scanned"] += m.get("numOutputRows", 0)
            tot["sources.scan_s"] += (m.get("scanTime", 0) + m.get("metadataTime", 0)) / 1000.0
        for k, v in m.items():
            if "spill" in k.lower():
                tot["exec.spill_bytes"] += v
        kids = node.children().iterator()
        while kids.hasNext():
            stack.append(kids.next())
        subs = node.subqueries().iterator()
        while subs.hasNext():
            stack.append(subs.next())
    return dict(tot)

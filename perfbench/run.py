"""Benchmark entry point.

    python3 perfbench/run.py --workload {daily_ingest,corpus_curation}
                             --seed N --seconds S --trace {0,1}

Run from the root of a checkout of the repository.  The run makes its
inputs from ``--seed`` under ``perfbench/_work/``, starts the engine on
``local[N]`` with N = the CPUs this process may use, runs untimed warm
passes (or days), measures for ``--seconds`` seconds with a single
closed-loop client, checks the outputs, and prints as its last stdout line one JSON
object ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are its per-layer metrics and
the spans are written to ``perfbench/_work/spans-<workload>-<seed>.json``.
Exit code 0 iff every correctness check passed.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")

#: end-to-end metrics of the untraced run's JSON line, with their units.
#: ``ops_ok_ratio`` (completed over attempted ops) stands for the failure
#: ratio in the JSON line because a bounded metric must never be 0.
END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "ops_per_min": "1/min",
    "rows_per_s": "rows/s",
    "cpu_s_per_op": "s",
    "peak_rss_mb": "MB",
    "ops_ok_ratio": "ratio",
}

#: per-layer metrics of the traced run's JSON line, with their units; per-op
#: means unless listed in GAUGES (value at the end of the run)
PER_LAYER = {
    "plans.build_s": "s", "plans.optimize_s": "s",
    "plans.session_cache.hits": "count", "plans.session_cache.misses": "count",
    "plans.rollup.update_s": "s", "plans.rollup.read_s": "s",
    "exec.action_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.tasks_failed": "count", "exec.gc_s": "s",
    "exec.spill_bytes": "bytes",
    "exchange.count": "count", "exchange.bytes": "bytes", "exchange.records": "count",
    "sources.files_read": "count", "sources.rows_scanned": "count",
    "sources.scan_s": "s", "sources.rows_scanned_per_row_out": "ratio",
    "streaming.trigger_s": "s", "streaming.add_batch_s": "s",
    "streaming.planning_s": "s", "streaming.wal_commit_s": "s",
    "streaming.state_rows": "count", "streaming.state_bytes": "bytes",
    "sinks.commit_s": "s", "sinks.files_live": "count", "sinks.bytes_written": "bytes",
    "sinks.manifest_bytes": "bytes", "sinks.read_s": "s",
    "sinks.files_pruned_ratio": "ratio",
    "self.session_s": "s", "self.sources_s": "s", "self.plans_s": "s",
    "self.exec_s": "s", "self.streaming_s": "s", "self.sinks_s": "s",
    "self.bench_s": "s",
    "trace.op_p50_s": "s", "trace.spans": "count",
}
GAUGES = {
    "streaming.state_rows", "streaming.state_bytes", "sinks.files_live",
    "sinks.manifest_bytes", "sinks.files_pruned_ratio",
    "sources.rows_scanned_per_row_out", "self.session_s", "trace.op_p50_s",
    "trace.spans",
}
#: span name -> per-op metric holding its total time
SPAN_METRICS = {
    "plans.build": "plans.build_s", "plans.optimize": "plans.optimize_s",
    "plans.rollup.update": "plans.rollup.update_s",
    "plans.rollup.read": "plans.rollup.read_s",
    "exec.action": "exec.action_s", "streaming.trigger": "streaming.trigger_s",
    "sinks.commit": "sinks.commit_s", "sinks.read": "sinks.read_s",
}
#: span name prefixes that name an engine layer; every other span (the
#: ``op`` root, the read wrappers) is the benchmark's own glue, ``bench``
LAYERS = ("session", "sources", "plans", "exec", "streaming", "sinks")


def _program_present() -> bool:
    return (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(ROOT, "real_estate_project1_etl_spark")))


def _load_entry():
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(ROOT, "__spark_entry__.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _finite(x: float) -> float:
    # a failed op has infinite latency; JSON has no infinity
    return x if math.isfinite(x) else 1e9


def _layer_metrics(eng, wl, n_ops: int, timed_from: int) -> dict[str, float]:
    from harness import p50

    spans = eng.tracer.spans
    timed = [s for s in spans[timed_from:] if s["op"] is not None]
    self_t = eng.tracer.self_times({s["op"] for s in timed})
    out = {k: 0.0 for k in PER_LAYER}
    for k, v in eng.counters.items():
        out[k] = v
    for s in timed:
        key = SPAN_METRICS.get(s["name"])
        if key:
            out[key] += s["end"] - s["start"]
    for name, t in self_t.items():
        layer = name.split(".")[0]
        out[f"self.{layer if layer in LAYERS else 'bench'}_s"] += t
    for k in out:
        if k not in GAUGES:
            out[k] /= max(n_ops, 1)
    out["self.session_s"] = sum(
        s["end"] - s["start"] for s in spans if s["name"] == "session.get_spark")
    out["sources.rows_scanned_per_row_out"] = (
        eng.counters.get("sources.rows_scanned", 0.0)
        / max(eng.counters.get("rows_out", 0.0), 1.0))
    out["trace.op_p50_s"] = _finite(p50(wl.samples))
    out["trace.spans"] = float(len(spans))
    out.update(wl.gauges)
    return out


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["daily_ingest", "corpus_curation"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not _program_present():
        print(f"perfbench: the engine sources are not under {ROOT}; run from "
              "the root of a checkout of the repository", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    from harness import (Engine, cpu_times, fmt_line, loadavg, log, now, nproc, p50,
                         steal_share, tail)

    cpus = nproc()
    print(f"seed={args.seed} nproc={cpus} master=local[{cpus}] "
          f"workload={args.workload} seconds={args.seconds:g} trace={args.trace} "
          f"loadavg_start={loadavg()}", flush=True)
    workdir = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # keep every scratch file of the JVMs (native-library extraction,
    # perf data) and of Python inside the run's directory
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"

    entry = _load_entry()
    if args.workload == "daily_ingest":
        from ingest import Ingest as Workload
    else:
        from curation import Curation as Workload
    wl = Workload(args.seed, workdir, entry)
    eng = Engine(workdir, trace=bool(args.trace))
    try:
        wl.generate()
        eng.start(cpus)
        if args.trace:
            wl.instrument(eng)
        wl.warm(eng)
        setup_s = now() - T_START - wl.gen_s
        eng.counters.clear()
        timed_from = len(eng.tracer.spans)
        log(f"setup done in {setup_s:.2f}s; measuring for {args.seconds:g}s")

        host0 = cpu_times()
        wall = wl.run(eng, args.seconds)
        steal = steal_share(host0, cpu_times())
        t = now()
        wl.check(eng)
        log(f"checks done in {now() - t:.2f}s")
        failed = sum(1 for x in wl.samples if not math.isfinite(x))
        attempted = len(wl.samples)
        ok = [x for x in wl.samples if math.isfinite(x)]
        e2e = {
            "setup_s": setup_s,
            "op_p50_s": p50(wl.samples),
            "ops_per_min": 60.0 * len(ok) / wall,
            "rows_per_s": wl.input_rows / sum(ok) if ok else 0.0,
            "cpu_s_per_op": sum(c for c in wl.cpu_samples if math.isfinite(c)) / max(len(ok), 1),
            "peak_rss_mb": eng.peak_rss_mb(),
            "ops_ok_ratio": len(ok) / max(attempted, 1),
        }
        w = args.workload
        for k, v in e2e.items():
            print(fmt_line(w, k, v, END_TO_END[k]))
        print(fmt_line(w, "ops_failed_ratio", failed / max(attempted, 1), "ratio",
                       f"{failed} of {attempted}"))
        # with the few ops a run holds this is the max or at most p55 (see baseline.json)
        t_val, t_pct, t_n = tail(wl.samples)
        print(fmt_line(w, "op_tail_s", t_val, "s", f"p{t_pct:.1f} of n={t_n}"))
        for k, (v, unit, note) in wl.extra_metrics(eng).items():
            print(fmt_line(w, k, v, unit, note))
        print(f"timed_wall_s={wall:.3f} generate_s={wl.gen_s:.3f} "
              f"cpu_steal_share={steal:.4f} loadavg_end={loadavg()}")
        for n in wl.notes:
            print(f"note: {n}")
        for e in wl.errors:
            print(f"op error: {e}")
        for f in wl.failures:
            print(f"CHECK FAILED: {f}")

        if args.trace:
            metrics, units = _layer_metrics(eng, wl, attempted, timed_from), PER_LAYER
            eng.tracer.write(os.path.join(WORK, f"spans-{w}-{args.seed}.json"))
        else:
            metrics, units = e2e, END_TO_END
        correct = not wl.failures
        print(json.dumps({
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": _finite(float(metrics[k])), "unit": u}
                        for k, u in units.items()},
        }), flush=True)
        return 0 if correct else 1
    finally:
        eng.stop()
        shutil.rmtree(workdir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

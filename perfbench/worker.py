"""One benchmark run, in its own process and working directory.

Started by ``run.py``; prints a human-readable report and, as its last
line, the result JSON. See ``run.py`` for the arguments.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import time
from collections import defaultdict
from dataclasses import replace

import numpy as np

import tracing
from steal import cpu_ticks, unstolen_share
from workloads import WORKLOADS, compare

# name -> (unit, better); every run prints all of them
END_TO_END = {
    "setup_s": ("s", "lower"),
    "op_p50_s": ("s", "lower"),
    "op_tail_s": ("s", "lower"),
    "pass_s": ("s", "lower"),
}

PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "session.warmup_s": ("s", "lower"),
    "session.peak_rss_mb": ("MB", "lower"),
    "sources.scans": ("count", "lower"),
    "sources.input_bytes": ("bytes", "lower"),
    "sources.stream_files": ("count", "higher"),
    "operators.construct_s": ("s", "lower"),
    "operators.eager_jobs": ("count", "lower"),
    "operators.eager_s": ("s", "lower"),
    "catalyst.analysis_ms": ("ms", "lower"),
    "catalyst.optimization_ms": ("ms", "lower"),
    "catalyst.planning_ms": ("ms", "lower"),
    "exec.action_s": ("s", "lower"),
    "exec.jobs": ("count", "lower"),
    "exec.stages": ("count", "lower"),
    "exec.tasks": ("count", "lower"),
    "exec.task_run_s": ("s", "lower"),
    "exec.task_cpu_s": ("s", "lower"),
    "exec.gc_s": ("s", "lower"),
    "exec.shuffle_read_bytes": ("bytes", "lower"),
    "exec.shuffle_write_bytes": ("bytes", "lower"),
    "exec.spill_bytes": ("bytes", "lower"),
    "exec.failed_tasks": ("count", "lower"),
    "exec.core_busy_ratio": ("ratio", "higher"),
    "python.worker_run_s": ("s", "lower"),
    "python.worker_start_s": ("s", "lower"),
    "python.bytes_sent": ("bytes", "lower"),
    "python.bytes_returned": ("bytes", "lower"),
    "cache.build_s": ("s", "lower"),
    "cache.bytes": ("bytes", "lower"),
    "cache.parquet_scans_per_cycle": ("count", "lower"),
    "stream.batches": ("count", "higher"),
    "stream.input_rows": ("rows", "higher"),
    "stream.latest_offset_ms": ("ms", "lower"),
    "stream.get_batch_ms": ("ms", "lower"),
    "stream.query_planning_ms": ("ms", "lower"),
    "stream.add_batch_ms": ("ms", "lower"),
    "stream.wal_commit_ms": ("ms", "lower"),
    "stream.commit_offsets_ms": ("ms", "lower"),
    "stream.state_rows": ("rows", "lower"),
    "stream.state_memory_bytes": ("bytes", "lower"),
    "sink.bytes_written": ("bytes", "lower"),
    "sink.write_amplification": ("ratio", "lower"),
    "trace.op_p50_s": ("s", "lower"),
    "trace.overhead_pct": ("%", "lower"),
    "trace.closure_ratio": ("ratio", "higher"),
}


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the Spark JVM; Python workers are not included."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def tail_mean(samples: list[float]) -> float:
    """Mean of the slowest quarter of the samples. Requests of a mix
    cluster by kind, so a single high percentile jumps between
    clusters from run to run; the mean beyond p75 moves smoothly."""
    ranked = sorted(samples, reverse=True)
    return statistics.fmean(ranked[: max(1, math.ceil(len(ranked) / 4))])


def end_to_end(ops, unit_s: list[float], setup_s: float) -> tuple[dict, dict]:
    samples = [s for o in ops for s in o.samples]
    e2e = {
        "setup_s": setup_s,
        "op_p50_s": statistics.median(samples),
        "op_tail_s": tail_mean(samples),
        "pass_s": statistics.median(unit_s),
    }
    return e2e, {"samples": len(samples), "units": len(unit_s)}


def overhead_pct(ops) -> float:
    """Traced vs untraced latency over operation names run both ways."""
    by = defaultdict(lambda: ([], []))
    for o in ops:
        by[o.name][0 if o.traced else 1].append(o.latency)
    both = [(np.mean(t), np.mean(u)) for t, u in by.values() if t and u]
    if not both:
        return 0.0
    return 100.0 * (sum(t for t, _ in both) / sum(u for _, u in both) - 1.0)


def layer_metrics(wl, tracer, ops, cores: int) -> dict[str, float]:
    """Per-layer counters, averaged over traced operations."""
    tracer.harvest()
    traced = [o for o in ops if o.traced and o.error is None]
    acc: dict[str, float] = defaultdict(float)
    cnt: dict[str, int] = defaultdict(int)
    for op in traced:
        w = op.windows
        m = {
            "operators.construct_s": sum(b - a for a, b in w["construct"]),
            "exec.action_s": sum(b - a for a, b in w["action"]),
            "_latency": op.latency,
        }
        m.update(tracing.eager_counters(tracer, w["construct"]))
        m.update(tracing.exec_counters(tracer, w["action"], cores))
        m.update(tracing.source_counters(tracer, w["op"]))
        for phase in tracing.PhaseListener.PHASES:
            m[f"catalyst.{phase}_ms"] = sum(p[phase] for p in op.phases)
        m.update(op.extras)
        m.update(wl.layer_extras(tracer, op))
        for k, v in m.items():
            acc[k] += v
            cnt[k] += 1
    # each counter is a mean over the traced operations that report it
    out = {k: 0.0 for k in PER_LAYER}
    out.update({k: acc[k] / cnt[k] for k in acc if k in PER_LAYER})
    if acc["_exec.busy_capacity_s"]:
        out["exec.core_busy_ratio"] = acc["exec.task_run_s"] / acc["_exec.busy_capacity_s"]
    if acc["_latency"]:
        out["trace.closure_ratio"] = (acc["operators.construct_s"] + acc["exec.action_s"]) / acc["_latency"]
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spawned", type=float, required=True, help="epoch time the process was started")
    ap.add_argument("--spawned-ticks", required=True, help="cpu_ticks() when the process was started, as BUSY,STOLEN")
    ap.add_argument("--sf", type=float, default=None, help="input scale factor (default: the workload's)")
    args = ap.parse_args(argv)

    wl = WORKLOADS[args.workload](os.getcwd(), args.seed, args.sf)
    inputs = wl.generate()

    t = time.time()
    from real_time_database_monitoring_system_spark.session import get_local_spark

    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    spark = get_local_spark(cores)
    spark.sparkContext.setLogLevel("ERROR")
    wl.start(spark)
    start_s = time.time() - t
    tracer = tracing.Tracer(spark) if args.trace else None

    t = time.time()
    warm = wl.warmup(tracer)
    warmup_s = time.time() - t

    spawned_ticks = tuple(int(x) for x in args.spawned_ticks.split(","))
    setup_s = (time.time() - args.spawned) * unstolen_share(spawned_ticks, cpu_ticks())
    # a fixed number of whole units, sized from --seconds, so every run
    # of a workload times the same work
    units = max(2, math.ceil(args.seconds / wl.nominal_unit_s))
    # `ops` as measured; `timed` with each unit's stolen share removed
    ops, timed, unit_s = [], [], []
    t0, ticks0 = time.perf_counter(), cpu_ticks()
    for k in range(units):
        before = cpu_ticks()
        unit_ops = wl.unit(k, bool(args.trace), tracer)
        keep = unstolen_share(before, cpu_ticks())
        ops += unit_ops
        timed += [replace(o, latency=o.latency * keep, samples=[x * keep for x in o.samples]) for o in unit_ops]
        unit_s.append(sum(o.latency for o in unit_ops) * keep)
    measured_s = time.perf_counter() - t0
    stolen = 1.0 - unstolen_share(ticks0, cpu_ticks())

    expected = wl.expected()
    failures = [f for f in (o.error or compare(o.name, o.digest, expected) for o in warm + ops) if f]
    rss_mb = jvm_peak_rss_mb(spark)
    ok = [o for o in timed if o.error is None]
    e2e, n = end_to_end(ok, unit_s, setup_s)

    if args.trace:
        layers = layer_metrics(wl, tracer, ops, cores)
        layers["session.start_s"] = start_s
        layers["session.warmup_s"] = warmup_s
        layers["session.peak_rss_mb"] = rss_mb
        layers["trace.op_p50_s"] = statistics.median(s for o in ok if o.traced for s in o.samples)
        layers["trace.overhead_pct"] = overhead_pct(ok)
        metrics = {k: {"value": layers[k], "unit": u} for k, (u, _) in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, (u, _) in END_TO_END.items()}

    attempted = len(warm) + len(ops)
    print(f"# {wl.name} seed={args.seed} trace={args.trace}: {units} x {wl.unit_label}, "
          f"{len(ops)} ops in {measured_s:.1f} s, inputs {int(inputs['rows'])} rows, "
          f"{100 * stolen:.1f} % of busy CPU time stolen (removed from the times below)")
    named = {"setup_s": (setup_s, "s"), **wl.human(timed, e2e, n)}
    named["error_rate"] = (len(failures) / attempted, "ratio")
    named["peak_rss_mb (Spark JVM only, Python workers excluded)"] = (rss_mb, "MB")
    for k, (v, u) in named.items():
        print(f"#   {k} = {v:.4f} {u}")
    if args.trace:
        print(f"#   tracing overhead = {layers['trace.overhead_pct']:.2f} % "
              f"(traced vs untraced operations of this run)")
    for f in failures[:10]:
        print(f"# FAILED {f}")
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    code = main()
    sys.stdout.flush()
    # run.py kills the JVM and the Python workers; skipping the
    # interpreter's teardown (a graceful Spark and py4j shutdown) saves
    # seconds of every run
    os._exit(code)

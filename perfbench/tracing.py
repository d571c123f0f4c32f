"""Per-layer counters for the traced run.

Everything here reads Spark's own surfaces from outside the package:

- the local UI REST API (``/jobs``, ``/stages``, ``/sql?details=true``,
  ``/storage/rdd``), harvested once when the run ends;
- a ``QueryExecutionListener`` (py4j callback) for the Catalyst phase
  times of every SQL execution that ran;
- the streaming progress events the workload's listener already keeps.

Jobs are attributed to an operation by time window, not by job group:
the client is serial, and job groups do not follow the thread pools
some operators use. A window is ``(start, end)`` in epoch seconds.
"""

from __future__ import annotations

import json
import math
import re
import urllib.request
from datetime import datetime, timezone

_UNITS = {
    "B": 1,
    "KiB": 1024,
    "MiB": 1024**2,
    "GiB": 1024**3,
    "TiB": 1024**4,
    "ns": 1e-9,
    "ms": 1e-3,
    "s": 1.0,
    "m": 60.0,
    "h": 3600.0,
}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")

PYTHON_METRICS = {
    "time to run Python workers": "python.worker_run_s",
    "time to start Python workers": "python.worker_start_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
}


def parse_metric(text: str) -> float:
    """Total of one SQL UI metric, in bytes, seconds or a plain count.

    Accepts ``"10,000"``, ``"214.0 KiB"``, ``"387 ms"`` and the
    per-task form ``"total (min, med, max ...)\\n2.3 s (...)"``."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _VALUE.match(text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def parse_time(text: str | None) -> float | None:
    """REST timestamp (``2026-01-01T00:00:00.123GMT``) to epoch seconds."""
    if not text:
        return None
    dt = datetime.strptime(text[:23], "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


def in_windows(t: float | None, windows) -> bool:
    """REST times carry whole milliseconds; widen each window to match."""
    if t is None:
        return False
    return any(math.floor(a * 1000) / 1000 <= t <= math.ceil(b * 1000) / 1000 for a, b in windows)


def union_seconds(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class PhaseListener:
    """py4j ``QueryExecutionListener``: Catalyst phase times per SQL
    execution, read from the execution that actually ran."""

    PHASES = ("analysis", "optimization", "planning")

    def __init__(self):
        self.phases: list[dict[str, float]] = []

    def onSuccess(self, func_name, qe, duration_ns):
        summary = qe.tracker().phases()
        out = {}
        for name in self.PHASES:
            opt = summary.get(name)
            out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
        self.phases.append(out)

    def onFailure(self, func_name, qe, exception):
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    """Switches the phase listener on around traced operations and
    harvests the REST API once at the end of the run."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.sc = spark.sparkContext
        ensure_callback_server_started(self.sc._gateway)
        self.listener = PhaseListener()
        self._manager = spark._jsparkSession.listenerManager()
        self.jobs: list[dict] = []
        self.stages: dict[int, list[dict]] = {}
        self.sql: list[dict] = []

    def begin(self) -> None:
        self.listener.phases.clear()
        self._manager.register(self.listener)

    def end(self) -> list[dict[str, float]]:
        """Stop listening; return the phases of the executions since
        `begin`. The listener bus is drained first so none is lost."""
        self.drain()
        self._manager.unregister(self.listener)
        out = list(self.listener.phases)
        self.listener.phases.clear()
        return out

    def drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def rest(self, path: str):
        url = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=60) as resp:
            return json.load(resp)

    def cached_bytes(self) -> float:
        return float(sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0) for r in self.rest("storage/rdd")))

    def harvest(self) -> None:
        self.drain()
        self.jobs = self.rest("jobs")
        self.stages = {}
        for s in self.rest("stages"):
            self.stages.setdefault(s["stageId"], []).append(s)
        self.sql = self.rest("sql?details=true&planDescription=false&offset=0&length=1000000")

    def jobs_in(self, windows) -> list[dict]:
        return [j for j in self.jobs if in_windows(parse_time(j.get("submissionTime")), windows)]

    def stages_of(self, jobs) -> list[dict]:
        """Stage attempts that ran (skipped stages are not counted)."""
        ids = {sid for j in jobs for sid in j.get("stageIds", [])}
        return [
            s
            for sid in sorted(ids)
            for s in self.stages.get(sid, [])
            if s.get("status") in ("COMPLETE", "FAILED")
        ]

    def sql_in(self, windows) -> list[dict]:
        return [e for e in self.sql if in_windows(parse_time(e.get("submissionTime")), windows)]


def job_interval(job: dict) -> tuple[float, float]:
    a = parse_time(job.get("submissionTime"))
    b = parse_time(job.get("completionTime")) or a
    return a, b


def exec_counters(tracer: Tracer, windows, cores: int) -> dict[str, float]:
    """The `exec` layer over the jobs submitted inside `windows`."""
    jobs = tracer.jobs_in(windows)
    stages = tracer.stages_of(jobs)
    wall = sum(b - a for a, b in windows)
    run_s = sum(s.get("executorRunTime", 0) for s in stages) / 1e3
    return {
        "exec.jobs": float(len(jobs)),
        "exec.stages": float(len(stages)),
        "exec.tasks": float(sum(s.get("numCompleteTasks", 0) + s.get("numFailedTasks", 0) for s in stages)),
        "exec.task_run_s": run_s,
        "exec.task_cpu_s": sum(s.get("executorCpuTime", 0) for s in stages) / 1e9,
        "exec.gc_s": sum(s.get("jvmGcTime", 0) for s in stages) / 1e3,
        "exec.shuffle_read_bytes": float(sum(s.get("shuffleReadBytes", 0) for s in stages)),
        "exec.shuffle_write_bytes": float(sum(s.get("shuffleWriteBytes", 0) for s in stages)),
        "exec.spill_bytes": float(
            sum(s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0) for s in stages)
        ),
        "exec.failed_tasks": float(sum(s.get("numFailedTasks", 0) for s in stages)),
        "_exec.busy_capacity_s": wall * cores,
    }


def source_counters(tracer: Tracer, windows) -> dict[str, float]:
    """The `sources` and `python` layers over the SQL executions and
    jobs inside `windows`."""
    out = {"sources.scans": 0.0, **{v: 0.0 for v in PYTHON_METRICS.values()}}
    for e in tracer.sql_in(windows):
        for node in e.get("nodes", []):
            if node.get("nodeName", "").startswith("Scan parquet"):
                out["sources.scans"] += 1
            for m in node.get("metrics", []):
                key = PYTHON_METRICS.get(m.get("name"))
                if key:
                    out[key] += parse_metric(m.get("value", ""))
    stages = tracer.stages_of(tracer.jobs_in(windows))
    out["sources.input_bytes"] = float(sum(s.get("inputBytes", 0) for s in stages))
    return out


def eager_counters(tracer: Tracer, windows) -> dict[str, float]:
    """Jobs that ran while an operation was being built (the eager
    `materialize()` calls), as a count and as busy wall time."""
    jobs = tracer.jobs_in(windows)
    return {
        "operators.eager_jobs": float(len(jobs)),
        "operators.eager_s": union_seconds(job_interval(j) for j in jobs),
    }


def output_bytes(tracer: Tracer, windows) -> float:
    return float(sum(s.get("outputBytes", 0) for s in tracer.stages_of(tracer.jobs_in(windows))))

"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Workloads: ``interactive_mix`` and
``stream_replay`` (see ``BENCHMARK.json`` and ``workloads.py``). The
run generates its inputs from ``--seed``, starts ``local[4]`` Spark
through the engine's own session factory in a fresh working directory
under ``.perfbench_work/``, warms up, times a fixed number of whole
workload units sized from ``--seconds``, checks every output against
the DuckDB oracle, and prints one JSON object as the last line of
standard output: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. The working directory and every
process the run started are gone when it returns; a run that fails
exits non-zero without printing a result.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

from steal import cpu_ticks

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TIMEOUT_S = 170
DRIVER_MEM = "3g"
SPARK_CONF = {"spark.ui.showConsoleProgress": "false"}
# the UI's REST API is the traced run's window on jobs, stages and SQL
# executions, so retention is high enough that the harvest sees every
# one of the run; untraced runs do without the UI and its per-job cost
UNTRACED_CONF = {"spark.ui.enabled": "false"}
TRACE_CONF = {
    "spark.ui.retainedJobs": "1000000",
    "spark.ui.retainedStages": "1000000",
    "spark.sql.ui.retainedExecutions": "1000000",
}


def worker_env(workdir: str, trace: bool) -> dict[str, str]:
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    spark_conf = {**SPARK_CONF, **(TRACE_CONF if trace else UNTRACED_CONF)}
    conf = " ".join(f"--conf {k}={v}" for k, v in spark_conf.items())
    env = dict(os.environ)
    env.update(
        {
            "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
            # local[4], or fewer where fewer cores are available
            "SPARK_GRAFT_CPUS": str(min(len(os.sched_getaffinity(0)), 4)),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": tmp,
            "TMPDIR": tmp,
            # every JVM of the run, the spark-submit launcher included,
            # keeps its temporary files in the working directory
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "PYSPARK_SUBMIT_ARGS": f"{conf} pyspark-shell",
        }
    )
    return env


def stop_group(pgid: int) -> None:
    """Kill the worker's process group (the JVM and Python workers
    included) and wait until none of it is left. Nothing in it needs
    a graceful stop: the working directory is deleted next."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.time() + 10.0
    while time.time() < deadline:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None, help="input scale factor (self-test only)")
    args = ap.parse_args()

    program = ("__spark_entry__.py", "real_time_database_monitoring_system_spark")
    missing = [p for p in program if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: the program is not in {ROOT} (missing {', '.join(missing)})", file=sys.stderr)
        return 2

    workdir = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(workdir)
    cmd = [
        sys.executable,
        os.path.join(HERE, "worker.py"),
        f"--workload={args.workload}",
        f"--seed={args.seed}",
        f"--seconds={args.seconds}",
        f"--trace={args.trace}",
        f"--spawned={time.time()}",
        "--spawned-ticks=%d,%d" % cpu_ticks(),
    ]
    if args.sf:
        cmd.append(f"--sf={args.sf}")
    proc = subprocess.Popen(
        cmd,
        cwd=workdir,
        env=worker_env(workdir, bool(args.trace)),
        stdout=subprocess.PIPE,
        text=True,
        start_new_session=True,
    )
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {TIMEOUT_S} s", file=sys.stderr)
        out = None
    finally:
        stop_group(proc.pid)
        proc.wait()
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))
        except OSError:
            pass
    if out is None or proc.returncode != 0:
        sys.stderr.write(out or "")
        print(f"perfbench: worker failed (exit {proc.returncode})", file=sys.stderr)
        return 1
    sys.stdout.write(out)
    return 0


if __name__ == "__main__":
    sys.exit(main())

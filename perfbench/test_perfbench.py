"""Self-test of the benchmark.

    python3 -m pytest perfbench/test_perfbench.py -q

The fast tests check the input generator, the metric parsers and that
``BENCHMARK.json`` names exactly what the runs print. The slow tests
run every workload at sf0.001, untraced and traced (a few minutes on
4 cores), and check that each completes without a failed operation
and prints every named metric.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import steal  # noqa: E402
import tracing  # noqa: E402
from worker import END_TO_END, PER_LAYER, tail_mean  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_matches_the_runs():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == PER_LAYER
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])


def test_same_seed_same_inputs():
    a = datagen.build_tables(0.001, 5)
    b = datagen.build_tables(0.001, 5)
    c = datagen.build_tables(0.001, 6)
    assert all(a[t].equals(b[t]) for t in datagen.ALL_TABLES)
    assert not a["events"].equals(c["events"])
    # asking for one table does not change it
    assert datagen.build_tables(0.001, 5, ["documents"])["documents"].equals(a["documents"])


def test_events_are_time_ordered():
    ev = datagen.build_tables(0.001, 3, ["events"])["events"].to_pandas()
    assert ev["ts"].is_monotonic_increasing and ev["ts"].is_unique
    assert ev["value"].min() >= 0.01


def test_parse_metric():
    assert tracing.parse_metric("10,000") == 10000
    assert tracing.parse_metric("214.0 KiB") == 214.0 * 1024
    assert tracing.parse_metric("387 ms") == pytest.approx(0.387)
    assert tracing.parse_metric("total (min, med, max (stageId: taskId))\n2.3 s (1 s, 1 s, 1 s)") == 2.3


def test_union_seconds_merges_overlaps():
    assert tracing.union_seconds([(0, 2), (1, 3), (5, 6)]) == 4


def test_tail_mean_is_the_mean_of_the_slowest_quarter():
    assert tail_mean([5, 1, 8, 2, 7, 3, 6, 4]) == 7.5
    assert tail_mean([3.0]) == 3.0


def test_unstolen_share():
    assert steal.unstolen_share((100, 10), (190, 20)) == 0.9
    assert steal.unstolen_share((5, 5), (5, 5)) == 1.0
    busy, stolen = steal.cpu_ticks()
    assert busy > 0 and stolen >= 0


def _run(cwd, workload, trace, extra=()):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), *extra],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_workload_at_sf0001(workload, trace):
    p = _run(ROOT, workload, trace, ["--sf", "0.001"])
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    names = PER_LAYER if trace else END_TO_END
    assert set(result["metrics"]) == set(names)
    for name, m in result["metrics"].items():
        assert m["unit"] == names[name][0]
        assert isinstance(m["value"], float)
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())
    assert "error_rate = 0.0000" in p.stdout
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_work"))


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(tmp_path, list(WORKLOADS)[0], 0)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout

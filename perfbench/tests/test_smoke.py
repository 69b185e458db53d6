"""An sf0.001 run of each workload prints every metric BENCHMARK.json names.

Each case starts a Spark session, so these are marked slow:
``python3 -m pytest perfbench/tests -m slow``.
"""

import json
import os
import subprocess
import sys

import pytest

from metrics import END_TO_END_UNITS, PER_LAYER_UNITS
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def test_benchmark_json_matches_the_code():
    assert [w["name"] for w in BENCH["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == PER_LAYER_UNITS


@pytest.mark.slow
@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_smoke_run_prints_every_metric(workload, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace),
         "--sf", "sf0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    last = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] and last["failed"] == 0 and last["attempted"] > 0
    names = END_TO_END_UNITS if trace == 0 else PER_LAYER_UNITS
    assert set(last["metrics"]) == set(names)
    for name, m in last["metrics"].items():
        assert m["unit"] == names[name]
        assert isinstance(m["value"], (int, float))


def test_run_fails_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, the run exits non-zero
    without printing a result."""
    import shutil

    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".runs", ".cache", "out"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "curation", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout

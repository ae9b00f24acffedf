"""Smoke runs of the benchmark CLI at the ``-smoke`` sizes.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

Each test starts ``perfbench/run.py`` the way the benchmark is run
(from the repository root) and checks the contract of its last stdout
line. The smoke inputs are a few thousand pings or documents; a test's
time is mostly Spark start-up and the program's per-job overhead.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(workload: str, trace: int, cwd: str = ROOT) -> tuple[int, dict | None, str]:
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=170,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"})
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, json.loads(lines[-1]) if lines else None, proc.stderr


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]] + ["dense_corridor"])
def test_smoke_end_to_end(workload):
    code, out, err = run(f"{workload}-smoke", 0)
    assert code == 0, err[-2000:]
    assert out["correct"] is True, err[-2000:]
    assert out["attempted"] >= 1 and out["failed"] == 0
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_smoke_traced_reports_every_layer_metric():
    code, out, err = run("fleet_day-smoke", 1)
    assert code == 0 and out["correct"] is True, err[-2000:]
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert out["metrics"]["chain.input_scans"]["value"] >= 1
    assert out["metrics"]["plans.trajectory_clustering.jobs"]["value"] > 0


def test_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the command exits
    non-zero without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("out", "__pycache__"))
    code, out, _ = run("fleet_day", 0, cwd=str(tmp_path))
    assert code != 0 and out is None

"""Smoke tests of the benchmark itself: every workload, traced, at smoke
size (output checks, event-log parse, metric printout), and the failure
path where the program under test is missing.

    python3 -m pytest perfbench/test_smoke.py -q
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

from workloads import WORKLOADS  # noqa: E402


def run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "5", "--seconds", "1",
         *args], cwd=cwd, env=env, capture_output=True, text=True,
        timeout=600)


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_traced_smoke_run(workload):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    proc = run(ROOT, "--workload", workload, "--trace", "1",
               "--size", "smoke")
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert res["correct"] and res["failed"] == 0, proc.stderr[-3000:]
    assert res["attempted"] >= 3
    metrics = res["metrics"]
    assert [m["name"] for m in spec["per_layer"]] == list(metrics)
    assert all(metrics[m["name"]]["unit"] == m["unit"]
               for m in spec["per_layer"])
    assert metrics["spark_util.session_s"]["value"] > 0
    assert metrics["spark.jobs"]["value"] > 0
    assert 0.5 < metrics["layer_walls_ratio"]["value"] <= 1.0


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = run(str(tmp_path), "--workload", "kg_dedup", "--trace", "0")
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""

"""Smoke tests for the benchmark itself (not part of the engine's test suite).

    python3 -m pytest cdcbench/tests -q

Each workload runs once at the tiny "smoke" size with tracing on, which
prints every per-layer metric on the result line and every end-to-end metric
in the detail line; both sets must match BENCHMARK.json by name and unit and
every check must pass. The runs take about a minute each.
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(cwd: str, workload: str, *extra: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "cdcbench", "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_metric_prints(workload):
    p = _run(ROOT, workload, "--trace", "1", "--size", "smoke")
    assert p.returncode == 0, p.stderr[-3000:]
    *_, detail_line, result_line = p.stdout.strip().splitlines()
    result = json.loads(result_line)
    detail = json.loads(detail_line)["detail"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, detail["problems"]
    assert result["attempted"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in SPEC["per_layer"]
    }
    assert set(detail["end_to_end"]) == {m["name"] for m in SPEC["end_to_end"]}
    assert all(v > 0 for v in detail["end_to_end"].values()), detail["end_to_end"]


def test_refuses_without_engine(tmp_path):
    """With only BENCHMARK.json and the benchmark's files there is nothing
    to measure: the run must fail and print no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "cdcbench", ignore=shutil.ignore_patterns(".work", "__pycache__"))
    p = _run(str(tmp_path), SPEC["workloads"][0]["name"])
    assert p.returncode != 0
    assert p.stdout.strip() == ""

"""Tiny-size smoke pass of every workload, untraced and traced, through the
benchmark command; and BENCHMARK.json agrees with the code. The smoke runs
start Spark (about a minute each)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench.harness import E2E, all_layer_metrics
from perfbench.run import WORKLOAD_NAMES

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_benchmark_json_matches_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOAD_NAMES)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == E2E
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == all_layer_metrics()


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOAD_NAMES)
def test_tiny_run(workload, trace):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = all_layer_metrics() if trace else E2E
    assert {k: m["unit"] for k, m in result["metrics"].items()} == want
    for m in result["metrics"].values():
        assert isinstance(m["value"], float) and m["value"] == m["value"]  # not NaN


def test_refuses_to_run_without_the_engine(tmp_path):
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    out = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "warehouse_sql",
                          "--seed", "1", "--seconds", "1", "--trace", "0"],
                         cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert out.returncode != 0 and out.stdout == ""

"""Smoke test of the benchmark: every workload on tiny inputs, untraced and
traced, must finish with no failed operation and print every metric that
BENCHMARK.json names.

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench.workloads import QUERY_WORKLOADS, WORKLOADS, metric_names

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_emits_every_metric(workload, trace):
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    assert result["failed"] == 0 and result["correct"], proc.stderr[-3000:]
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    for m in spec:
        assert result["metrics"][m["name"]]["unit"] == m["unit"], m["name"]
    if trace:
        assert result["metrics"]["failed_frac"]["value"] == 0
    else:
        assert set(result["metrics"]) == {m["name"] for m in spec}


def test_benchmark_json_lists_the_emitted_per_layer_names():
    listed = [w["name"] for w in SPEC["workloads"]]
    assert set(listed) <= set(WORKLOADS)
    queries = [q for w in listed if w in QUERY_WORKLOADS for q in QUERY_WORKLOADS[w][0]]
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == metric_names(queries)


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), "pivot_etl", 0)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout

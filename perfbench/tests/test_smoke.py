"""Smoke test of the benchmark itself at sf0.001.

Each workload runs for one pass; the test checks that every metric
``BENCHMARK.json`` names prints with its unit, that no op failed, and
that no ``pts_*`` scratch dir outlives the run.  About five minutes on
4 cores (one JVM per run):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
TMP = os.path.join(WORK, "tmp")
sys.path.insert(0, BENCH_DIR)

import fixtures  # noqa: E402

SMOKE_SF = 0.001

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(workload: str, trace: int) -> dict:
    sf_dir = fixtures.ensure(os.path.join(WORK, "fixtures"), SMOKE_SF)
    cmd = [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--sf-dir", sf_dir]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _check(result: dict, metric_specs: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["attempted"] >= 1
    assert result["failed"] == 0  # ops_failed_ratio = failed / attempted = 0
    printed = result["metrics"]
    assert set(printed) == {m["name"] for m in metric_specs}
    for m in metric_specs:
        assert printed[m["name"]]["unit"] == m["unit"]
        assert isinstance(printed[m["name"]]["value"], (int, float))
    assert not glob.glob(os.path.join(TMP, "pts_*")), "a pts_* scratch dir outlived the run"


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_end_to_end_metrics(workload):
    result = _run(workload, trace=0)
    _check(result, SPEC["end_to_end"])
    for m in SPEC["end_to_end"]:
        assert result["metrics"][m["name"]]["value"] > 0, m["name"]


# A counter each workload's traced run must show non-zero.
_LAYER_SIGNS = {
    "telemetry_stream": ("state.instances", "harness.addBatch_ms", "baseline.local1_rows_per_s"),
    "batch_mix": ("plan.agg_ms", "plan.scan_ms", "plan.tasks", "plan.python_rows",
                  "query.sim_knn_ivf_kmeans.build_s"),
}


@pytest.mark.parametrize("workload", sorted(_LAYER_SIGNS))
def test_traced_run_prints_every_layer_metric(workload):
    result = _run(workload, trace=1)
    _check(result, SPEC["per_layer"])
    metrics = {k: v["value"] for k, v in result["metrics"].items()}
    assert metrics["state.rows_dropped_by_watermark"] == 0
    for name in _LAYER_SIGNS[workload]:
        assert metrics[name] > 0, name

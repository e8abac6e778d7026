"""Smoke tests of the benchmark: every workload at tiny size, untraced
and traced, must pass its output checks and emit every metric it
declares, with its unit.

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def smoke(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    return out["metrics"]


def test_spec_matches_code():
    assert [w["name"] for w in SPEC["workloads"]] == list(run.LISTED)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END
    units = {}
    for workload in run.LISTED:
        units.update(run.layer_units(workload))
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == units


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_end_to_end_metrics(workload):
    metrics = smoke(workload, 0)
    assert {k: v["unit"] for k, v in metrics.items()} == run.END_TO_END
    assert all(v["value"] > 0 for v in metrics.values()), metrics


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_per_layer_metrics(workload):
    metrics = smoke(workload, 1)
    assert {k: v["unit"] for k, v in metrics.items()} == run.layer_units(workload)
    # the exact counts: every traced layer was reached
    counts = ("spark.jobs_per_chat", "suite.build_jobs", "stream.text.admitted", "stream.emb.admitted")
    assert all(metrics[k]["value"] > 0 for k in counts if k in __import__(workload).LAYER_METRICS), metrics

"""Smoke mode of every workload end to end: the tiny input sizes, one
fresh Spark process per run, every output check must pass.  About a
minute per workload (cold JVM + warm-up dominate)."""

import json
import os
import subprocess
import sys

import pytest

from perfbench import eventlog, run
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def _run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace),
         "--smoke", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stdout[-2000:] + out.stderr[-4000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_untraced(workload):
    res = _run(workload, 0)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    assert set(res["metrics"]) == set(run.E2E_UNITS)
    assert all(m["value"] > 0 for m in res["metrics"].values())


def test_smoke_traced():
    res = _run("extract_interleaved", 1)
    assert res["correct"]
    assert set(res["metrics"]) == set(eventlog.PER_LAYER)
    assert res["metrics"]["layer.unattributed_frac"]["value"] <= 0.10

"""BENCHMARK.json agrees with the metrics and workloads the code emits."""

import json
import os

from perfbench import eventlog, run
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_end_to_end_and_per_layer_match_the_code():
    b = _bench()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: (m["unit"], m["better"]) for m in b["per_layer"]} \
        == eventlog.PER_LAYER
    assert {w["name"] for w in b["workloads"]} <= set(WORKLOADS)

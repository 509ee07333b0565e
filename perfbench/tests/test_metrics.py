"""``BENCHMARK.json`` names exactly the metrics the command prints."""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

from metrics import END_TO_END, LAYERS_BY_WORKLOAD, PER_LAYER  # noqa: E402
from run import WORKLOADS  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def test_end_to_end_metrics_match():
    got = {m["name"]: (m["unit"], m["better"], m["bound"]) for m in SPEC["end_to_end"]}
    assert got == END_TO_END


def test_setup_time_has_the_largest_bound():
    bounds = {m["name"]: m["bound"] for m in SPEC["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25


def test_per_layer_metrics_match():
    assert {m["name"]: (m["unit"], m["better"]) for m in SPEC["per_layer"]} == PER_LAYER


def test_workloads_match():
    assert tuple(w["name"] for w in SPEC["workloads"]) == WORKLOADS
    assert set(LAYERS_BY_WORKLOAD) == set(WORKLOADS)

"""BENCHMARK.json names exactly what run.py prints.

    python3 -m pytest perfbench/test_contract.py -q
"""

from __future__ import annotations

import json
import os

import run


def _spec() -> dict:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_workloads_match():
    assert [w["name"] for w in _spec()["workloads"]] == list(run.WORKLOADS)


def test_end_to_end_metrics_match():
    assert {m["name"]: m["unit"] for m in _spec()["end_to_end"]} == run.E2E


def test_per_layer_metrics_match():
    got = {m["name"]: (m["unit"], m["better"]) for m in _spec()["per_layer"]}
    assert got == run.layer_metrics()

"""BENCHMARK.json names exactly the metrics run.py prints.

    python3 -m pytest perfbench/test_contract.py -q
"""

from __future__ import annotations

import json

import run


def _spec() -> dict:
    return json.loads((run.ROOT / "BENCHMARK.json").read_text())


def test_end_to_end_metrics_match():
    spec = _spec()["end_to_end"]
    assert [m["name"] for m in spec] == list(run.END_TO_END)
    assert {m["name"]: m["unit"] for m in spec} == run.UNITS


def test_per_layer_metrics_match():
    spec = _spec()["per_layer"]
    assert [m["name"] for m in spec] == list(run.LAYER_UNITS)
    assert {m["name"]: m["unit"] for m in spec} == run.LAYER_UNITS


def test_workloads_are_runnable():
    assert {w["name"] for w in _spec()["workloads"]} <= set(run.WORKLOADS)

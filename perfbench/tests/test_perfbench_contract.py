"""BENCHMARK.json names exactly what the runner prints."""

import json
import os

import pytest

import run
import tracing
from workloads import WORKLOADS

SPEC = os.path.join(os.path.dirname(__file__), "..", "..", "BENCHMARK.json")


@pytest.fixture(scope="module")
def spec():
    if not os.path.exists(SPEC):
        pytest.skip("no BENCHMARK.json beside the benchmark")
    with open(SPEC) as f:
        return json.load(f)


def test_end_to_end_metrics_match_runner(spec):
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])


def test_per_layer_metrics_match_tracer(spec):
    names = [m["name"] for m in spec["per_layer"]]
    assert names == tracing.per_layer_names()
    assert all(m["unit"] == run._layer_unit(m["name"]) for m in spec["per_layer"])


def test_workloads_exist(spec):
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)

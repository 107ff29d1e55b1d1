"""Every metric and workload the runner prints is declared in BENCHMARK.json."""

import json
import os

import metrics

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_end_to_end_metrics_match():
    declared = {m["name"]: m["unit"] for m in _bench()["end_to_end"]}
    assert declared == metrics.E2E


def test_per_layer_metrics_match():
    declared = {m["name"]: m["unit"] for m in _bench()["per_layer"]}
    assert declared == metrics.PER_LAYER


def test_declared_workloads_exist():
    with open(os.path.join(HERE, "workloads.json")) as fh:
        params = json.load(fh)
    assert {w["name"] for w in _bench()["workloads"]} <= set(params)

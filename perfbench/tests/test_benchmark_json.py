"""BENCHMARK.json names exactly what the benchmark prints (no Spark).

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
PERFBENCH = os.path.dirname(HERE)
sys.path.insert(0, PERFBENCH)

import trace_layers  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def load_benchmark() -> dict:
    with open(os.path.join(os.path.dirname(PERFBENCH), "BENCHMARK.json")) as f:
        return json.load(f)


def test_per_layer_metrics_match_the_traced_run():
    bench = load_benchmark()
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == [
        tuple(x) for x in trace_layers.PER_LAYER
    ]


def test_end_to_end_metrics_match_the_timed_run():
    bench = load_benchmark()
    names = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    assert names == {"setup_s": "s", "items_per_s": "1/s", "peak_rss_mb": "MiB"}
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values())


def test_listed_workloads_exist():
    bench = load_benchmark()
    for w in bench["workloads"]:
        assert w["name"] in WORKLOADS

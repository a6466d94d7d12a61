"""BENCHMARK.json names exactly the metrics run.py prints."""

import json
import os

import run

BENCH_JSON = os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")


def test_metric_names_match_the_runner():
    with open(BENCH_JSON) as f:
        bench = json.load(f)
    assert [m["name"] for m in bench["end_to_end"]] == list(run.GATED)
    units = run.per_layer_units()
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == units
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS)

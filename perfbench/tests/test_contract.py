"""BENCHMARK.json names exactly the metrics the benchmark prints."""

import json
import os
import types

from perfbench import layers, trace

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_per_layer_names_and_units_match_the_traced_output():
    usage = {"py": 0.0, "jvm": 0.0}
    per_op = [{"u0": usage, "u1": usage, "live_rdds": 0}]
    wl = types.SimpleNamespace(stats={})
    got = layers.layer_metrics(wl, trace.Tracer(None), per_op, [1.0], 1.0, 1.0, 2)
    want = {m["name"]: m["unit"] for m in _spec()["per_layer"]}
    assert {k: u for k, (_v, u) in got.items()} == want


def test_workloads_are_the_ones_the_runner_knows():
    from perfbench.workloads import WORKLOADS

    assert [w["name"] for w in _spec()["workloads"]] == list(WORKLOADS)

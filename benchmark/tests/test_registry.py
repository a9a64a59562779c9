"""BENCHMARK.json and the workload module name the same metrics."""

import json
import os

import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_lists_match():
    b = _bench()
    assert [(m["name"], m["unit"]) for m in b["end_to_end"]] == workloads.END_TO_END
    assert [(m["name"], m["unit"]) for m in b["per_layer"]] == workloads.PER_LAYER


def test_workloads_match():
    import run

    names = [w["name"] for w in _bench()["workloads"]]
    assert names == sorted(workloads.WORKLOADS) == sorted(run.WORKLOADS)


def test_window_open_rule():
    t0 = workloads.pc() - 9.5
    assert workloads.window_open(t0, 10.0, [])
    assert workloads.window_open(t0, 10.0, [0.2, 0.4, 0.3])
    assert not workloads.window_open(t0, 10.0, [0.6, 0.9, 0.7])

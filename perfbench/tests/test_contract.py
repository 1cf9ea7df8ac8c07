"""BENCHMARK.json and the metrics the run prints stay in step."""

import importlib.util
import json
import os

from perfbench import layers

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))


def _run_module():
    spec = importlib.util.spec_from_file_location("perfbench_run", os.path.join(ROOT, "perfbench", "run.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_benchmark_json_lists_exactly_the_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    run = _run_module()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert [m["name"] for m in bench["per_layer"]] == layers.metric_names()
    assert all(m["unit"] == run.unit_of(m["name"]) for m in bench["per_layer"])
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS)

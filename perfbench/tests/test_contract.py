"""BENCHMARK.json names exactly the metrics and workloads run.py emits.

    python3 -m pytest perfbench/tests -q
"""

import importlib.util
import json
import os

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run_module():
    spec = importlib.util.spec_from_file_location("perfbench_run", os.path.join(HERE, "run.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _benchmark():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_and_units_match():
    run, bench = _run_module(), _benchmark()
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.per_layer_units()
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == list(run.END_TO_END)


def test_listed_workloads_exist():
    run, bench = _run_module(), _benchmark()
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOAD_NAMES)

"""BENCHMARK.json, metrics.json and run.py must name the same metrics.

    python3 -m pytest perfbench -q
"""

import json
import os

import run

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_mirrors_catalog():
    bench, cat = _bench(), run.load_catalog()
    assert [w["name"] for w in bench["workloads"]] == list(cat["workloads"])
    assert [w["why"] for w in bench["workloads"]] == [w["why"] for w in cat["workloads"].values()]
    for kind, keys in (("end_to_end", ("name", "unit", "better", "bound")),
                       ("per_layer", ("name", "unit", "better"))):
        assert bench[kind] == [{k: m[k] for k in keys} for m in cat[kind]]
    assert bench["command"] == ["python3", "perfbench/run.py"]


def test_every_workload_has_a_runner():
    import workloads

    assert set(workloads.WORKLOADS) == set(run.load_catalog()["workloads"])


def test_end_to_end_names_match_the_computation():
    class Ctx:
        setup_times = [1.0, 2.0, 3.0]

    res = {k: 1.0 for k in run.FIGURES}
    names = [m["name"] for m in run.load_catalog()["end_to_end"]]
    assert set(names) <= set(run.figures(Ctx, res))


def test_self_time_layers_are_in_the_catalog():
    names = {m["name"] for m in run.load_catalog()["per_layer"]}
    assert {f"self_s_per_op.{layer}" for layer in run.LAYERS} <= names


def test_bounds_within_contract():
    for m in _bench()["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    setup = [m for m in _bench()["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["bound"] == max(m["bound"] for m in _bench()["end_to_end"])

"""BENCHMARK.json names exactly what run.py prints, within the limits
the file format allows."""

import json
import os
import re

from perfbench import oracle, run

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_workloads_match():
    assert [w["name"] for w in _spec()["workloads"]] == list(run.WORKLOADS)


def test_end_to_end_metrics_match():
    spec = _spec()["end_to_end"]
    assert [(m["name"], m["unit"]) for m in spec] == list(run.END_TO_END)
    bounds = {m["name"]: m["bound"] for m in spec}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())


def test_per_layer_metrics_match():
    spec = _spec()["per_layer"]
    assert [(m["name"], m["unit"], m["better"]) for m in spec] == run.per_layer_metrics()


def test_names_and_units_are_well_formed():
    spec = _spec()
    metrics = spec["end_to_end"] + spec["per_layer"]
    names = [m["name"] for m in metrics] + [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert all(UNIT.match(m["unit"]) for m in metrics)
    assert len(spec["per_layer"]) <= 128


def test_mix_runs_recorded_headline_queries():
    from bend_archiver_spark.queries import REGISTRY

    assert run.mix_queries() == sorted(oracle.MIX)
    assert all(REGISTRY[n].headline for n in oracle.MIX)
    assert oracle.load()["sf"] == oracle.MIX_SF

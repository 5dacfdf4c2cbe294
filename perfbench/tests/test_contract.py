"""BENCHMARK.json agrees with what run.py reports and stays in its limits."""

import json
import os
import re

from perfbench import run, trace

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _bench():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_lists_match_the_harness():
    b = _bench()
    assert [(m["name"], m["unit"]) for m in b["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in b["per_layer"]] == [
        (n, u) for n, u in trace.PER_LAYER]
    assert {w["name"] for w in b["workloads"]} <= set(run.WORKLOADS)


def test_names_units_and_bounds_are_within_limits():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads",
                      "end_to_end", "per_layer"}
    assert 2 <= len(b["workloads"]) <= 8
    assert 1 <= b["run_seconds"] <= 60
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer")
             for m in b[k]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    for m in b["end_to_end"] + b["per_layer"]:
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
    bounds = {m["name"]: m["bound"] for m in b["end_to_end"]}
    assert all(0 < v <= 0.25 for v in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"]
               for w in b["workloads"])

"""BENCHMARK.json: the shape run.py and the workloads rely on."""

import json
import os
import re

from workloads import GROUPS

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def bench():
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_every_metric_has_a_unit_and_a_valid_name():
    b = bench()
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    names += [w["name"] for w in b["workloads"]]
    assert len(names) == len(set(names))
    for m in b["end_to_end"] + b["per_layer"]:
        assert NAME.match(m["name"]), m
        assert UNIT.match(m["unit"]), m
        assert m["better"] in ("lower", "higher"), m


def test_end_to_end_bounds_and_setup_metric():
    b = bench()
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    setup = {m["name"]: m for m in b["end_to_end"]}["setup_s"]
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])


def test_workloads_and_group_metrics_match_the_code():
    b = bench()
    assert [w["name"] for w in b["workloads"]] == ["operators", "pipeline_cache"]
    assert all(0 < len(w["why"]) <= 200 for w in b["workloads"])
    per_layer = {m["name"] for m in b["per_layer"]}
    for g in GROUPS:
        assert {f"group.{g}_s", f"group.{g}.python_bytes"} <= per_layer
    assert b["command"] == ["python3", "perfbench/run.py"]
    assert b["paths"] == ["perfbench"]

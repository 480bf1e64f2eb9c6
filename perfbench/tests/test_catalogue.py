"""BENCHMARK.json agrees with the metric catalogue and the contract's
limits, so metric names later changes quote stay stable."""

import json
import os
import re

from perfbench.metrics import END_TO_END, PER_LAYER
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_keys_and_names():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads",
                      "end_to_end", "per_layer"}
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer")
             for m in b[k]]
    assert all(NAME.match(n) for n in names)
    assert len(names) == len(set(names))
    assert 1 <= len(b["per_layer"]) <= 128
    assert 2 <= len(b["workloads"]) <= 8
    for w in b["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
        assert w["name"] in WORKLOADS


def test_metrics_match_catalogue():
    b = _bench()
    assert {m["name"]: (m["unit"], m["better"]) for m in b["end_to_end"]} \
        == END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in b["per_layer"]} \
        == {k: v[:2] for k, v in PER_LAYER.items()}
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25 and UNIT.match(m["unit"])
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])


def test_every_layer_metric_names_what_it_moves():
    assert all(len(v) == 3 and v[2] for v in PER_LAYER.values())

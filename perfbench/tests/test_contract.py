"""BENCHMARK.json must name exactly the metrics and workloads the code emits.

Run from the repository root: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re

from perfbench.layers import PER_LAYER
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_workloads_match():
    bench = _bench()
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    for w in bench["workloads"]:
        assert w["why"] == WORKLOADS[w["name"]].why
        assert len(w["why"]) <= 200 and "\n" not in w["why"]


def test_per_layer_matches_code():
    bench = _bench()
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == list(PER_LAYER)


def test_end_to_end_matches_code():
    from perfbench.run import end_to_end

    result = {
        "ops": [{"kind": "job", "rep": 0, "ok": True, "wall_s": 2.0}],
        "spans": [
            {"name": "setup", "start": 0.0, "end": 1.0},
            {"name": "kept_write", "start": 1.0, "end": 2.0},
        ],
    }
    emitted = end_to_end(result, rows=10, rss_kb=1024, attempted=1, failed=0)
    bench = _bench()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == {
        name: unit for name, (_value, unit) in emitted.items()
    }
    setup = [m for m in bench["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["bound"] == max(m["bound"] for m in bench["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])


def test_names_follow_the_contract():
    bench = _bench()
    names = [m["name"] for k in ("end_to_end", "per_layer") for m in bench[k]]
    names += [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)

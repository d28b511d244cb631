"""BENCHMARK.json schema and metric-name syntax."""

import json
import os
import re

import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
PATH = re.compile(r"^[A-Za-z0-9_.\-/]{1,200}$")


def test_top_level_keys():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert os.path.getsize(os.path.join(ROOT, "BENCHMARK.json")) <= 64 * 1024


def test_command_and_paths():
    cmd = SPEC["command"]
    assert 1 <= len(cmd) <= 32 and all(isinstance(c, str) and len(c) <= 200 for c in cmd)
    assert 1 <= len(SPEC["paths"]) <= 16
    for p in SPEC["paths"]:
        assert PATH.match(p) and not p.startswith("/") and ".." not in p.split("/")
        assert os.path.isdir(os.path.join(ROOT, p))
    for arg in cmd[1:]:
        if "/" in arg:
            assert any(arg.startswith(p.rstrip("/") + "/") for p in SPEC["paths"])


def test_run_seconds_and_workloads():
    assert isinstance(SPEC["run_seconds"], int) and 1 <= SPEC["run_seconds"] <= 60
    wls = SPEC["workloads"]
    assert 2 <= len(wls) <= 8
    for w in wls:
        assert set(w) == {"name", "why"}
        assert NAME.match(w["name"]) and "\n" not in w["why"] and len(w["why"]) <= 200
    assert {w["name"] for w in wls} == set(workloads.WORKLOADS)


def test_metrics():
    e2e, layer = SPEC["end_to_end"], SPEC["per_layer"]
    assert 1 <= len(e2e) <= 16 and 1 <= len(layer) <= 128
    names = [m["name"] for m in e2e + layer]
    assert len(names) == len(set(names))
    for m in e2e:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in layer:
        assert set(m) == {"name", "unit", "better"}
    for m in e2e + layer:
        assert NAME.match(m["name"]), m["name"]
        assert UNIT.match(m["unit"]), m["unit"]
        assert m["better"] in ("lower", "higher")
    setup = next(m for m in e2e if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in e2e)


def test_per_layer_names_match_the_runner():
    assert [m["name"] for m in SPEC["per_layer"]] == list(workloads.LAYER_KEYS)


def test_layer_prefixes():
    prefixes = {"session", "registry", "sources", "operators", "spark", "python",
                "streaming", "bucketed", "dedup", "process", "trace_overhead_frac"}
    for name in workloads.LAYER_KEYS:
        assert name.split(".")[0] in prefixes, name

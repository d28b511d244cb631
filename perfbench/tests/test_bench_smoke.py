"""A tiny end-to-end run of every workload (sf0.001-sized inputs)."""

import json

import pytest

import run
import workloads


@pytest.fixture
def tiny(monkeypatch):
    monkeypatch.setattr(workloads, "QUERY_SF", 0.001)
    monkeypatch.setattr(workloads, "QUERY_DOCS", 300)
    monkeypatch.setattr(workloads, "QUERY_VECS", 200)
    monkeypatch.setattr(workloads, "LSH_BASE_DOCS", 300)
    monkeypatch.setattr(workloads, "LSH_BATCH_DOCS", 100)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_smoke(tiny, capsys, workload, trace):
    assert run.main(["--workload", workload, "--seed", "7", "--seconds", "0",
                     "--trace", str(trace)]) == 0
    lines = capsys.readouterr().out.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    spec = json.load(open(f"{run.ROOT}/BENCHMARK.json"))
    expected = spec["per_layer"] if trace else spec["end_to_end"]
    assert list(result["metrics"]) == [m["name"] for m in expected]
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())
    stamp = json.loads(lines[-2])
    assert stamp["seed"] == 7 and stamp["cpus"] == workloads.CPUS

"""Tiny-size runs of every workload, timed and traced: each prints every
named metric with its unit, passes every correctness check and exits 0.
All runs share one test process (and so one JVM); expect several
minutes."""

from __future__ import annotations

import json
import os

import pytest

from perfbench import run, workloads

TINY = {
    workloads.TrafficLog: {"warmup_size": 10, "drop_size": 80},
    workloads.DimChangelog: {"warmup_size": 10, "drop_size": 60},
    workloads.DocIngest: {"warmup_size": 10, "drop_size": 40},
    workloads.WarehouseQueries: {"n_orders": 1_500},
}


@pytest.fixture(autouse=True)
def tiny_sizes(monkeypatch):
    for cls, attrs in TINY.items():
        for name, value in attrs.items():
            monkeypatch.setattr(cls, name, value)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_smoke(workload, trace, capsys):
    code = run.main(["--workload", workload, "--seed", "3", "--seconds", "1", "--trace", str(trace)])
    lines = capsys.readouterr().out.splitlines()
    result = json.loads(lines[-1])
    checks = [ln for ln in lines if ln.startswith("check ")]
    assert code == 0, lines
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= len(checks) + 2
    assert checks and all(" PASS " in ln for ln in checks)
    if trace:
        assert set(result["metrics"]) == set(run.RESULT_PER_LAYER)
        printed = {ln.split()[1] for ln in lines if ln.startswith("layer ")}
        assert "trace.overhead_ratio" in printed
        assert "engine.jobs_per_batch" in printed
        if workload == "traffic_log":
            assert {"state.st1_update_ms", "state.st1_only_batch_ms", "baseline.local1_batch_s"} <= printed
        if workload == "warehouse_queries":
            assert {f"query.{n}_s" for n in workloads.QUERY_MIX} <= printed
    else:
        assert set(result["metrics"]) == set(run.RESULT_END_TO_END)
        for name, unit in run.END_TO_END.items():
            assert any(ln.startswith(f"metric {name} ") and ln.endswith(f" {unit}") for ln in lines), name
    for name, m in result["metrics"].items():
        want = run.END_TO_END.get(name) or run.RESULT_PER_LAYER[name]
        assert m["unit"] == want and isinstance(m["value"], (int, float)), name


def test_benchmark_json_matches_the_result_line():
    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == {
        k: run.END_TO_END[k] for k in run.RESULT_END_TO_END
    }
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.RESULT_PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)

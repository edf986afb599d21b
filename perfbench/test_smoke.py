"""Smoke test for the benchmark itself, at tiny input sizes.

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload to its end, untraced and traced, and checks the
result line against BENCHMARK.json: every end-to-end metric present and
> 0, no failed operation, every per-layer metric present in the traced
run. Takes a few minutes (each run starts its own Spark session).
"""

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(workload: str, trace: int) -> dict:
    cmd = SPEC["command"] + ["--workload", workload, "--seed", "7", "--seconds", "1",
                             "--trace", str(trace), "--tiny"]
    cmd[0] = sys.executable if cmd[0] == "python3" else cmd[0]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_untraced_run_reports_every_end_to_end_metric(workload):
    res = _run(workload, 0)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True
    assert res["failed"] == 0 and res["attempted"] >= 1
    for m in SPEC["end_to_end"]:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert got["value"] > 0, m["name"]


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_traced_run_reports_every_layer_metric(workload):
    res = _run(workload, 1)
    assert res["correct"] is True and res["failed"] == 0
    names = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert set(res["metrics"]) == set(names)
    for name, unit in names.items():
        assert res["metrics"][name]["unit"] == unit, name
        assert res["metrics"][name]["value"] >= 0, name
    assert res["metrics"]["trace.ops_per_s"]["value"] > 0
    assert res["metrics"]["spark.jobs"]["value"] > 0
    assert res["metrics"]["py4j.calls"]["value"] > 0

"""Smoke test of the benchmark itself: a minimal-length run of every
workload at scale 0.001, untraced and traced.

    python -m pytest perfbench/test_smoke.py -q

Each run must exit 0, pass its correctness checks, and emit every
metric BENCHMARK.json names for that mode, with its unit.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_emits_every_metric(workload, trace):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--scale", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-3000:]
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1

    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], float), m["name"]
    assert set(result["metrics"]) == {m["name"] for m in spec}
    if not trace:
        assert all(result["metrics"][m["name"]]["value"] > 0 for m in spec)

    checks = json.loads(next(ln for ln in lines if ln.startswith("checks "))[7:])
    if workload == "txn":
        assert checks and all(checks.values()), checks
    else:
        assert checks["oracle_checked"] == checks["oracle_matches"] > 0, checks

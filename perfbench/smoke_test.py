"""Smoke test of the benchmark itself: every workload once at the tiny
scale on two seeds, one end-to-end run and one traced run. Asserts that
the last stdout line is the result object, that every metric named in
BENCHMARK.json (and every per-layer metric the traced run defines) is
printed with its unit, and that no run failed.

    python3 perfbench/smoke_test.py          # about three minutes on 4 cores
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEEDS = (0, 1)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(workload: str, seed: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--scale", "tiny"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check(result: dict, expected_units: dict) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert result["correct"] is True and result["failed"] == 0, result
    assert result["attempted"] >= 1
    for name, unit in expected_units.items():
        got = result["metrics"][name]
        assert got["unit"] == unit, (name, got)
        assert isinstance(got["value"], (int, float)), (name, got)
    assert set(result["metrics"]) == set(expected_units)


def test_every_workload_two_seeds():
    sys.path.insert(0, ROOT)
    from perfbench.run import WORKLOAD_NAMES, units

    spec = _spec()
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == units(False)
    assert per_layer == units(True)
    for workload in WORKLOAD_NAMES:
        for seed, trace in zip(SEEDS, (0, 1)):
            result = run_once(workload, seed, trace)
            check(result, per_layer if trace else e2e)
            if not trace:
                assert result["metrics"]["success_rate"]["value"] == 1.0
            print(f"ok {workload} seed={seed} trace={trace}", flush=True)


if __name__ == "__main__":
    test_every_workload_two_seeds()

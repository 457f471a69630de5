#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at tiny size (synth scale 1; two
queries on sf 0.001 tables).

Checks that every metric named in BENCHMARK.json is printed with its unit,
and that a forced output mismatch is counted as a failed operation.  Takes
about four minutes on a 4-core host.

    python3 perfbench/smoke_test.py        # or: python3 -m pytest perfbench/smoke_test.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(workload: str, trace: int, corrupt: bool = False) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "42", "--seconds", "0", "--trace", str(trace),
           "--size", "tiny"] + (["--corrupt"] if corrupt else [])
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=300)
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["attempted"] >= 1
    key = "per_layer" if trace else "end_to_end"
    want = {m["name"]: m["unit"] for m in spec()[key]}
    got = {k: v["unit"] for k, v in out["metrics"].items()}
    assert got == want, (sorted(set(got) ^ set(want)), workload, trace)
    return out


def test_workloads_clean():
    for w in spec()["workloads"]:
        out = run(w["name"], 0)
        assert out["correct"] and out["failed"] == 0, out
        assert all(v["value"] > 0 for v in out["metrics"].values()), out


def test_forced_mismatch_counts_as_failed():
    for w in spec()["workloads"]:
        out = run(w["name"], 1, corrupt=True)
        assert not out["correct"] and out["failed"] > 0, out
        ratio = out["metrics"]["checks.failed_ops_ratio"]["value"]
        assert ratio == out["failed"] / out["attempted"] > 0, out


if __name__ == "__main__":
    test_workloads_clean()
    test_forced_mismatch_counts_as_failed()
    print("smoke test passed")

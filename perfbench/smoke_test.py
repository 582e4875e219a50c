#!/usr/bin/env python3
"""Smoke test of the benchmark itself.

Runs every workload of BENCHMARK.json briefly on tiny inputs (the
sf0.001 fixtures, a seeded 160k-row ORC table), untraced and traced, and
asserts that each run is correct and prints exactly the result keys and
every metric of BENCHMARK.json with its unit.

    python3 perfbench/smoke_test.py        # from the repository root
"""
import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
           "--seconds", "0.1", "--trace", str(trace), "--sf", "0.001", "--orc-rows", "160000"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, f"{workload} trace={trace} exited {p.returncode}:\n{p.stderr[-3000:]}"
    return json.loads(p.stdout.strip().split("\n")[-1])


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    for w in spec["workloads"]:
        for trace, wanted in [(0, spec["end_to_end"]), (1, spec["per_layer"])]:
            r = run(w["name"], trace)
            assert set(r) == {"correct", "attempted", "failed", "metrics"}, r.keys()
            assert r["correct"] is True and r["failed"] == 0 and r["attempted"] >= 1, r
            want = {m["name"]: m["unit"] for m in wanted}
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            assert got == want, f"{w['name']} trace={trace}: metrics differ: {set(got) ^ set(want)}"
            assert all(isinstance(v["value"], (int, float)) for v in r["metrics"].values())
            print(f"ok {w['name']} trace={trace}: {r['attempted']} ops, {len(got)} metrics")
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Smoke self-test of the graft benchmark.

Runs one short pass of every workload of BENCHMARK.json on small generated
inputs (--scale 0.2), untraced and traced, and asserts that each run passes
its output checks and prints exactly the metrics BENCHMARK.json names, each
with its unit.

    python3 perfbench/smoke.py
"""
import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    failures = []
    for w in spec["workloads"]:
        for trace in (0, 1):
            cmd = [*spec["command"], "--workload", w["name"], "--seed", "7",
                   "--seconds", "1", "--trace", str(trace), "--scale", "0.2"]
            proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
            label = f"{w['name']} trace={trace}"
            before = len(failures)
            if proc.returncode != 0:
                failures.append(f"{label}: exit code {proc.returncode}")
                continue
            result = json.loads(proc.stdout.splitlines()[-1])
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if set(result) != {"correct", "attempted", "failed", "metrics"}:
                failures.append(f"{label}: result keys {sorted(result)}")
            if not result["correct"] or result["failed"] or result["attempted"] < 1:
                failures.append(f"{label}: checks failed ({result['failed']}/{result['attempted']})")
            if got != want[trace]:
                diff = set(got.items()) ^ set(want[trace].items())
                failures.append(f"{label}: metrics differ from BENCHMARK.json: {sorted(diff)[:5]}")
            print(f"{label}: {'ok' if len(failures) == before else 'FAIL'}", flush=True)
    for f in failures:
        print("FAIL", f)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()

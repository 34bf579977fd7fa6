"""Smoke check of the benchmark itself.

    python3 perfbench/smoke.py

Runs each workload at sf0.001 with its usual warm-up and the minimum of
timed passes, untraced and traced, and asserts that each run is correct
and emits exactly the metrics BENCHMARK.json names, each with its unit.
Takes about five minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    wanted = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    problems = []
    for wl in (w["name"] for w in bench["workloads"]):
        for trace in (0, 1):
            cmd = bench["command"] + [
                "--workload", wl, "--seed", "1", "--seconds", "0", "--trace", str(trace),
                "--sf", "0.001",
            ]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
            tag = f"{wl} trace={trace}"
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                problems.append(f"{tag}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
                continue
            res = json.loads(lines[-1])
            if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
                problems.append(f"{tag}: result keys {sorted(res)}")
            if not (res["correct"] and res["failed"] == 0 and res["attempted"] >= 1):
                problems.append(f"{tag}: not correct: {lines[-2] if len(lines) > 1 else res}")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != wanted[trace]:
                missing = sorted(set(wanted[trace]) - set(got))
                extra = sorted(set(got) - set(wanted[trace]))
                wrong = sorted(k for k in got if k in wanted[trace] and got[k] != wanted[trace][k])
                problems.append(f"{tag}: missing {missing} extra {extra} wrong unit {wrong}")
            bad = [k for k, v in res["metrics"].items() if not isinstance(v["value"], (int, float))]
            if bad:
                problems.append(f"{tag}: non-numeric values {bad}")
            print(f"{tag}: {len(got)} metrics, attempted {res['attempted']}", flush=True)
    for p in problems:
        print("FAIL", p, file=sys.stderr)
    print("smoke ok" if not problems else f"smoke FAILED ({len(problems)})")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())

"""Self-test of the benchmark harness at a small data scale.

    python3 perfbench/selftest.py

Runs each workload untraced and traced at scale 0.1 (sf0.001 row
counts) and checks that every metric BENCHMARK.json names is printed
with its unit and that the current tree's results are all correct.  A
last run corrupts its first result and must count it as a failed
operation and exit non-zero.  Takes a few minutes: every run starts its
own Spark session.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def bench(workload: str, trace: int, *extra: str) -> tuple[int, dict]:
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "0.1", *extra]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if not lines:
        raise AssertionError(f"{cmd}: no output\n{proc.stderr[-2000:]}")
    return proc.returncode, json.loads(lines[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            code, result = bench(w["name"], trace)
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            label = f"{w['name']} trace={trace}"
            if code != 0 or not result["correct"] or result["failed"]:
                problems.append(f"{label}: exit {code}, {result['failed']} failed")
            if got != want:
                problems.append(f"{label}: metrics differ from BENCHMARK.json: "
                                f"missing {sorted(set(want) - set(got))}, "
                                f"extra {sorted(set(got) - set(want))}, "
                                f"units {[k for k in want if k in got and got[k] != want[k]]}")
            print(f"{label}: exit {code}, {result['attempted']} attempted, "
                  f"{result['failed']} failed, {len(got)} metrics", flush=True)
    code, result = bench(spec["workloads"][0]["name"], 0, "--corrupt-first")
    print(f"corrupted run: exit {code}, {result['failed']} failed", flush=True)
    if code == 0 or result["failed"] < 1 or result["correct"]:
        problems.append("a corrupted result was not counted as a failed operation")
    for p in problems:
        print(f"FAIL {p}")
    print("selftest ok" if not problems else f"selftest: {len(problems)} problems")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())

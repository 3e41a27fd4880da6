#!/usr/bin/env python3
"""Smoke check of the benchmark itself, at toy size.

    python3 perfbench/smoke.py

For every workload run.py knows (the hand-run ones included), an untraced and a
traced run must print every metric BENCHMARK.json names for that mode, each
with its unit, and check clean. Then a run with every expected value
deliberately shifted must report failures. Takes a few minutes.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TOY = ["--series", "16", "--seconds", "3"]


def run(workload, trace, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--trace", str(trace)] + TOY + list(extra)
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines:
        sys.exit(f"FAIL {' '.join(cmd)}: exit {out.returncode}\n{out.stderr[-2000:]}")
    return json.loads(lines[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    sys.path.insert(0, HERE)
    from run import WORKLOADS
    problems = []
    for workload in WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = run(workload, trace)
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v.get("unit") for k, v in res["metrics"].items()}
            if got != want:
                problems.append(f"{workload} trace={trace}: metrics {sorted(set(got.items()) ^ set(want.items()))}")
            if not res["correct"] or res["attempted"] < 1:
                problems.append(f"{workload} trace={trace}: correct={res['correct']} attempted={res['attempted']}")
            print(f"ran {workload} trace={trace}: {len(got)} metrics, "
                  f"attempted {res['attempted']}, failed {res['failed']}", flush=True)
    res = run("dashboard", 0, "--wrong-expect", "1")
    if res["failed"] == 0 or res["correct"]:
        problems.append(f"wrong expectations went unnoticed: {res['failed']} failed, correct={res['correct']}")
    else:
        print(f"ok wrong expectations: {res['failed']} of {res['attempted']} failed, correct=false")
    if problems:
        sys.exit("FAIL\n" + "\n".join(problems))
    print("smoke OK")


if __name__ == "__main__":
    main()

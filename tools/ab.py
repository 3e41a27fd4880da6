#!/usr/bin/env python3
"""A/B comparison of two checkouts on the served-path benchmark.

    python3 tools/ab.py <parent-checkout> <change-checkout> --workload W --pairs N
        [--seed0 S] [--seconds 24]

Runs `perfbench/run.py` in each checkout, alternating which side goes first
in each pair (ABBA order) so that a drift in the machine's speed falls on
both sides. Pair i uses seed S+i on both sides. Prints, per end-to-end
metric of the change checkout's BENCHMARK.json: each side's median and
interquartile range, how many pairs the change won, and PASS or FAIL
against the metric's bound (the change's median may be worse than the
parent's by at most `bound`, as a fraction). A claimed gain is "better on
at least 9 of 10 pairs, and the medians apart by more than the parent's
IQR": the `gain` column says whether the metric meets that. Exits 1 when a
metric fails its bound or a side failed operations the other did not.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run_one(checkout, workload, seed, seconds):
    """One benchmark run; returns the parsed result JSON (last stdout line)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.exit(f"ab: {' '.join(cmd)} in {checkout} failed (rc {p.returncode})")
    return json.loads(lines[-1])


def metric(result, name):
    """A metric's value from a result (`{"value": v, "unit": u}`), or None."""
    m = result["metrics"].get(name)
    return m["value"] if isinstance(m, dict) else m


def quartiles(xs):
    """(q1, median, q3); a single value is its own quartiles."""
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=24)
    args = ap.parse_args()

    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    sides = {"parent": args.parent, "change": args.change}
    results = {"parent": [], "change": []}
    for i in range(args.pairs):
        seed = args.seed0 + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            r = run_one(sides[side], args.workload, seed, args.seconds)
            results[side].append(r)
            print(f"pair {i + 1} seed {seed} {side}: " + " ".join(
                f"{m['name']}={metric(r, m['name']):.4g}" for m in metrics
                if metric(r, m['name']) is not None),
                flush=True)

    ok = True
    print(f"\n{args.workload}, {args.pairs} pairs")
    print(f"{'metric':24} {'parent med (IQR)':>22} {'change med (IQR)':>22}"
          f" {'delta':>8} {'won':>6} {'bound':>6}  gain")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        pairs = [(metric(p, name), metric(c, name))
                 for p, c in zip(results["parent"], results["change"])]
        pairs = [(p, c) for p, c in pairs if p is not None and c is not None]
        if not pairs:
            continue
        pq, cq = quartiles([p for p, _ in pairs]), quartiles([c for _, c in pairs])
        won = sum(1 for p, c in pairs if (c < p if lower else c > p))
        delta = (cq[1] - pq[1]) / pq[1] if pq[1] else 0.0
        worse = delta if lower else -delta
        passed = worse <= m["bound"]
        gain = (won >= 0.9 * len(pairs) and
                (pq[1] - cq[1] if lower else cq[1] - pq[1]) > pq[2] - pq[0])
        ok &= passed
        print(f"{name:24} {pq[1]:>10.4g} ({pq[2] - pq[0]:>8.3g}) "
              f"{cq[1]:>10.4g} ({cq[2] - cq[0]:>8.3g}) {delta:>+8.1%} "
              f"{won:>3}/{len(pairs):<2} {'PASS' if passed else 'FAIL':>6}  "
              f"{'yes' if gain else 'no'}")
    for side in ("parent", "change"):
        failed = sum(r.get("failed", 0) for r in results[side])
        attempted = sum(r.get("attempted", 0) for r in results[side])
        print(f"{side}: {failed} of {attempted} operations failed")
    if (sum(r.get("failed", 0) for r in results["change"]) >
            sum(r.get("failed", 0) for r in results["parent"])):
        ok = False
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()

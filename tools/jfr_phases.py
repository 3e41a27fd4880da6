#!/usr/bin/env python3
"""Where a JFR recording's CPU samples went, by query phase.

    python3 tools/jfr_phases.py <recording.jfr> [--thread REGEX]

Runs the JDK's `jfr print --json --stack-depth 1024 --events
jdk.ExecutionSample` (`jfr print` shows 5 frames unless told more) on the
recording and prints, for the samples of the threads whose name matches
REGEX (default: every thread), each phase's count and share. A sample
belongs to the innermost frame that marks a phase:

    build             graft.engine.Engine.rangeQuery (the DataFrame build)
    analyzer          Catalyst's analyzer and analysis checks
    optimizer         Catalyst's optimizer
    physical planning the query planner and execution preparation
    AQE               adaptive query execution
    explain string    plan-to-string rendering
    store read        graft.sources.PointsStore reads
    other             none of the above

Record with a deep stack, or the outer frames that name a phase are cut:
JFR keeps 64 frames by default, and a Catalyst rule sits deeper than that.
For a served run (build the benchmark first: every JVM the variable reaches
writes the same file, and a built run.py starts one JVM), e.g.:

    JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=/tmp/rec.jfr,settings=profile \\
      -XX:FlightRecorderOptions=stackdepth=512" \\
      python3 perfbench/run.py --workload dashboard --seed 12 --seconds 24 --trace 0
    python3 tools/jfr_phases.py /tmp/rec.jfr --thread graft-http
"""
import argparse
import json
import re
import subprocess
import sys

# (phase, predicate on "class.method"); the innermost matching frame wins
PHASES = [
    ("explain string", lambda f: re.search(
        r"\.(explainString|treeString|generateTreeString|simpleString|verboseString)$", f)),
    ("AQE", lambda f: f.startswith("org.apache.spark.sql.execution.adaptive.")),
    ("analyzer", lambda f: f.startswith("org.apache.spark.sql.catalyst.analysis.")),
    ("optimizer", lambda f: f.startswith("org.apache.spark.sql.catalyst.optimizer.")
        or f.startswith("org.apache.spark.sql.execution.SparkOptimizer")),
    ("physical planning", lambda f: f.startswith("org.apache.spark.sql.catalyst.planning.")
        or f.startswith("org.apache.spark.sql.execution.SparkStrategies")
        or f.startswith("org.apache.spark.sql.execution.SparkPlanner")
        or re.search(r"QueryExecution\$?\.(createSparkPlan|prepareForExecution|"
                     r"prepareExecutedPlan)$", f)),
    ("store read", lambda f: f.startswith("graft.sources.PointsStore")),
    ("build", lambda f: f.startswith("graft.engine.Engine") and ".rangeQuery" in f),
]
ORDER = ["build", "analyzer", "optimizer", "physical planning", "AQE",
         "explain string", "store read", "other"]


def frame_name(frame):
    """`pkg.Class.method` of one JFR stack frame."""
    m = frame.get("method", {})
    cls = (m.get("type") or {}).get("name", "?").replace("/", ".")
    return f"{cls}.{m.get('name', '?')}"


def phase_of(frames):
    """The phase of the innermost frame that marks one (frames run inner first)."""
    for f in frames:
        name = frame_name(f)
        for phase, hit in PHASES:
            if hit(name):
                return phase
    return "other"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("recording")
    ap.add_argument("--thread", default=".", help="regex on the sampled thread's name")
    args = ap.parse_args()
    p = subprocess.run(["jfr", "print", "--json", "--stack-depth", "1024",
                        "--events", "jdk.ExecutionSample", args.recording],
                       stdout=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.exit(f"jfr_phases: jfr print failed (rc {p.returncode})")
    events = json.loads(p.stdout)["recording"]["events"]
    thread = re.compile(args.thread)
    counts = {k: 0 for k in ORDER}
    truncated = 0
    for e in events:
        v = e["values"]
        name = (v.get("sampledThread") or {}).get("javaName") or ""
        if not thread.search(name):
            continue
        stack = v.get("stackTrace") or {}
        truncated += bool(stack.get("truncated"))
        counts[phase_of(stack.get("frames") or [])] += 1
    total = sum(counts.values())
    if total == 0:
        sys.exit(f"jfr_phases: no samples on threads matching {args.thread!r}")
    print(f"{total} samples on threads matching {args.thread!r}"
          f" ({truncated} with truncated stacks)")
    for k in ORDER:
        print(f"  {k:<18} {counts[k]:>7}  {100.0 * counts[k] / total:5.1f} %")
    if truncated:
        print("jfr_phases: some stacks were truncated; record with "
              "-XX:FlightRecorderOptions=stackdepth=512", file=sys.stderr)


if __name__ == "__main__":
    main()

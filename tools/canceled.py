#!/usr/bin/env python3
"""List the tests a tier-1 sbt run CANCELED and compare them with the
checked-in list of known cancellations (tools/expected_canceled.txt).

sbt prints "All tests passed" and its JUnit XML records canceled tests as
passed, so a suite whose `assume` starts failing goes silent. This reads
the sbt log instead: every `- <test> !!! CANCELED !!!` line, keyed by the
suite header above it, as `<Suite>::<test>`.

Usage: python3 tools/canceled.py TIER1_LOG [EXPECTED_LIST]
Exit status: 0 when every canceled test is a known one; 1 when any other
test was canceled (or the log's summary count disagrees with the lines
found); 2 when the log holds no test summary at all.
"""
import os, re, sys

ANSI = re.compile(r"\x1b\[[0-9;]*m")
SUITE = re.compile(r"^\[info\] ([A-Za-z_][A-Za-z0-9_.$]*):\s*$")
CANCELED = re.compile(r"^\[info\] - (.*) !!! CANCELED !!!\s*$")
SUMMARY = re.compile(r"^\[info\] Tests: succeeded \d+, failed \d+, canceled (\d+),")


def canceled_tests(lines):
    """(suite::test names in log order, summed canceled count or None)."""
    suite, found, total = "?", [], None
    for raw in lines:
        line = ANSI.sub("", raw.rstrip("\n"))
        m = SUITE.match(line)
        if m:
            suite = m.group(1)
            continue
        m = CANCELED.match(line)
        if m:
            found.append(f"{suite}::{m.group(1)}")
            continue
        m = SUMMARY.match(line)
        if m:
            total = (total or 0) + int(m.group(1))
    return found, total


def main(argv):
    if len(argv) not in (2, 3):
        print(__doc__.strip(), file=sys.stderr)
        return 2
    expected_path = argv[2] if len(argv) == 3 else os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "expected_canceled.txt")
    with open(argv[1], errors="replace") as f:
        found, total = canceled_tests(f)
    with open(expected_path) as f:
        expected = {l.strip() for l in f if l.strip() and not l.startswith("#")}
    if total is None:
        print(f"{argv[1]}: no 'Tests:' summary line — not a finished sbt test log")
        return 2
    unexpected = [t for t in found if t not in expected]
    gone = sorted(expected - set(found))
    print(f"canceled: {len(found)} (summary: {total}), known: {len(found) - len(unexpected)}, "
          f"unexpected: {len(unexpected)}")
    for t in unexpected:
        print(f"UNEXPECTED CANCEL  {t}")
    for t in gone:
        print(f"no longer canceled {t}")
    return 1 if unexpected or total != len(found) else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))

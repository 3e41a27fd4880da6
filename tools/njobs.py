#!/usr/bin/env python3
"""Compare the per-gate Spark job counts of two `graft.Bench` runs.

    python3 tools/njobs.py <parent-fullmap> <change-fullmap>

Each argument is a file holding a `graft.Bench` full-map line (the line
with "all_queries", "njobs" and "nactions"; a file holding the whole Bench
output works too: the last such line is used). Prints every gate whose
`njobs` fell, then every gate whose `njobs` rose, and the gates present on
one side only. Exits 1 when any gate's `njobs` rose, 2 when a file holds no
full-map line, else 0.
"""
import json
import sys


def njobs(path):
    """The `njobs` map of the last full-map line in `path`, or None."""
    found = None
    with open(path, encoding="utf-8") as f:
        for line in f:
            line = line.strip()
            if line.startswith("{") and '"njobs"' in line:
                try:
                    found = json.loads(line)["njobs"]
                except (ValueError, KeyError):
                    pass
    return found


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    parent, change = njobs(argv[1]), njobs(argv[2])
    for path, m in ((argv[1], parent), (argv[2], change)):
        if m is None:
            print(f"njobs: no graft.Bench full-map line in {path}", file=sys.stderr)
            return 2
    both = sorted(parent.keys() & change.keys())
    fell = [(g, parent[g], change[g]) for g in both if change[g] < parent[g]]
    rose = [(g, parent[g], change[g]) for g in both if change[g] > parent[g]]
    for title, rows in (("fell", fell), ("rose", rose)):
        print(f"njobs {title}: {len(rows)} gate(s)")
        for g, a, b in rows:
            print(f"  {g}: {a} -> {b}")
    for side, keys in (("parent", parent.keys() - change.keys()),
                       ("change", change.keys() - parent.keys())):
        if keys:
            print(f"only in {side}: {', '.join(sorted(keys))}")
    print(f"{len(both)} gates compared, {len(both) - len(fell) - len(rose)} unchanged")
    return 1 if rose else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))

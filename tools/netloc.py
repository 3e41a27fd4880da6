#!/usr/bin/env python3
"""Net lines of code per source package directory between two commits.

Prints, for every directory under src/main and src/test that a change
touches, the lines added, removed and net, then one total line for each of
src/main and src/test.

Usage: python3 tools/netloc.py BASE [HEAD]
  BASE, HEAD  any git revision; without HEAD the working tree is compared
              with BASE, untracked (not ignored) files counting as added.
"""
import collections, os, subprocess, sys

ROOTS = ("src/main/", "src/test/")


def git(*args):
    return subprocess.run(("git",) + args, check=True, capture_output=True,
                          text=True).stdout


def changes(base, head):
    """(path, added, removed) for every text file the diff touches."""
    rev = (base, head) if head else (base,)
    for line in git("diff", "--numstat", "--no-renames", *rev).splitlines():
        added, removed, path = line.split("\t", 2)
        if added != "-":  # binary files have no line counts
            yield path, int(added), int(removed)
    if not head:
        for path in git("ls-files", "--others", "--exclude-standard").splitlines():
            try:
                with open(path, encoding="utf-8") as f:
                    yield path, sum(1 for _ in f), 0
            except (UnicodeDecodeError, OSError):
                pass


def resolves(rev):
    return subprocess.run(("git", "rev-parse", "--verify", "--quiet", rev + "^{commit}"),
                          capture_output=True).returncode == 0


def main(argv):
    if len(argv) not in (2, 3) or argv[1] in ("-h", "--help"):
        sys.exit(__doc__.strip())
    bad = [rev for rev in argv[1:] if not resolves(rev)]
    if bad:
        sys.exit(f"not a revision: {' '.join(bad)}\n\n{__doc__.strip()}")
    per_dir = collections.defaultdict(lambda: [0, 0])
    for path, added, removed in changes(argv[1], argv[2] if len(argv) == 3 else None):
        if path.startswith(ROOTS):
            counts = per_dir[os.path.dirname(path)]
            counts[0] += added
            counts[1] += removed
    print(f"{'added':>7} {'removed':>7} {'net':>7}  directory")
    for root in ROOTS:
        total = [0, 0]
        for d in sorted(k for k in per_dir if (k + "/").startswith(root)):
            a, r = per_dir[d]
            total[0] += a
            total[1] += r
            print(f"{a:>7} {r:>7} {a - r:>+7}  {d}")
        print(f"{total[0]:>7} {total[1]:>7} {total[0] - total[1]:>+7}  {root.rstrip('/')} (total)")


if __name__ == "__main__":
    main(sys.argv)

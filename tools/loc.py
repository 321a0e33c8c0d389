#!/usr/bin/env python3
"""Added, removed and net CODE lines of the .scala files changed between two
revisions, read straight from git objects (no checkout needed).

    python3 tools/loc.py <rev-a> <rev-b> <path>...

A code line is non-blank and not a comment: a line whose first non-space
characters are `//`, `/*`, `*` or `*/` is a comment. Each changed file's
lines are counted as a multiset, so a moved line counts neither as added
nor as removed. Standard library only.
"""
import collections
import subprocess
import sys

COMMENT = ("//", "/*", "*", "*/")


def git(*args):
    return subprocess.run(("git",) + args, check=True, capture_output=True,
                          text=True).stdout


def code_lines(rev, path):
    try:
        blob = git("show", f"{rev}:{path}")
    except subprocess.CalledProcessError:  # absent at this revision
        return collections.Counter()
    stripped = (line.strip() for line in blob.splitlines())
    return collections.Counter(
        s for s in stripped if s and not s.startswith(COMMENT))


def main(argv):
    if len(argv) < 4:
        sys.exit(__doc__)
    a, b, paths = argv[1], argv[2], argv[3:]
    changed = git("diff", "--name-only", a, b, "--", *paths).split()
    total_add = total_rm = 0
    for path in sorted(p for p in changed if p.endswith(".scala")):
        old, new = code_lines(a, path), code_lines(b, path)
        add = sum((new - old).values())
        rm = sum((old - new).values())
        total_add += add
        total_rm += rm
        print(f"{path}: +{add} -{rm} net {add - rm:+d}")
    print(f"total: +{total_add} -{total_rm} net {total_add - total_rm:+d}")


if __name__ == "__main__":
    main(sys.argv)

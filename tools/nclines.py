#!/usr/bin/env python3
"""Per-file non-comment line counts of src/main/scala and src/test/scala,
at a git revision and in the working tree, with totals. Files whose count
did not change are left out of the per-file lines, not the totals.

A line counts unless it is blank or starts (after whitespace) with `//`,
`/*` or `*` -- the rule of `grep -cvE '^\\s*(//|/\\*|\\*|$)'`.

Usage: python3 tools/nclines.py <rev>     (run from the repository root)
"""
import re
import subprocess
import sys
from pathlib import Path

ROOTS = ("src/main/scala", "src/test/scala")
COMMENT_OR_BLANK = re.compile(r"^\s*(//|/\*|\*|$)")


def count(text):
    return sum(1 for line in text.splitlines() if not COMMENT_OR_BLANK.match(line))


def at_rev(rev, root):
    names = subprocess.run(["git", "ls-tree", "-r", "--name-only", rev, "--", root],
                           check=True, capture_output=True, text=True).stdout.split()
    return {n: count(subprocess.run(["git", "show", f"{rev}:{n}"], check=True,
                                    capture_output=True, text=True).stdout)
            for n in names if n.endswith(".scala")}


def in_tree(root):
    return {str(p): count(p.read_text(encoding="utf-8"))
            for p in sorted(Path(root).rglob("*.scala"))}


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    rev = sys.argv[1]
    for root in ROOTS:
        old, new = at_rev(rev, root), in_tree(root)
        print(f"{root}: {rev} -> working tree")
        for name in sorted(old.keys() | new.keys()):
            a, b = old.get(name), new.get(name)
            if a != b:
                print(f"  {name}: {'-' if a is None else a} -> {'-' if b is None else b}"
                      f" ({(b or 0) - (a or 0):+d})")
        ta, tb = sum(old.values()), sum(new.values())
        print(f"  total: {ta} -> {tb} ({tb - ta:+d})")


if __name__ == "__main__":
    main()

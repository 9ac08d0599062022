#!/usr/bin/env python3
"""Copied-code scan: blocks of 6 consecutive non-comment lines, at least 150
characters together, that occur in two or more places.

Usage: python3 tools/dup_scan.py <dir> [<dir> ...]

Each argument is scanned on its own: every `.scala` file under it is reduced
to its non-blank, non-comment lines with the indentation stripped, and every
run of 6 consecutive such lines whose text totals at least 150 characters is
a block. A block found at two or more places within the scanned directory
(the same file included) marks its lines as copied. The scan prints, per
directory, the copied lines of each file that has any, and their total.
"""
import collections
import os
import sys

WINDOW = 6
MIN_CHARS = 150


def code_lines(path):
    """(line number, stripped text) of every non-blank, non-comment line."""
    out, in_block = [], False
    with open(path, encoding="utf-8") as f:
        for no, raw in enumerate(f, 1):
            s = raw.strip()
            if in_block:
                in_block = "*/" not in s
                continue
            if not s or s.startswith("//") or s.startswith("*"):
                continue
            if s.startswith("/*"):
                in_block = "*/" not in s
                continue
            out.append((no, s))
    return out


def scan(root):
    files = sorted(os.path.join(d, n) for d, _, ns in os.walk(root)
                   for n in ns if n.endswith(".scala"))
    lines = {p: code_lines(p) for p in files}
    where = collections.defaultdict(list)
    for p, ls in lines.items():
        for i in range(len(ls) - WINDOW + 1):
            block = tuple(s for _, s in ls[i:i + WINDOW])
            if sum(map(len, block)) >= MIN_CHARS:
                where[block].append((p, i))
    copied = collections.defaultdict(set)
    for places in where.values():
        if len(places) > 1:
            for p, i in places:
                copied[p].update(no for no, _ in lines[p][i:i + WINDOW])
    return {p: len(ns) for p, ns in copied.items()}


def main(roots):
    for root in roots:
        per_file = scan(root)
        for p, n in sorted(per_file.items(), key=lambda kv: -kv[1]):
            print(f"{n:6d}  {os.path.relpath(p, root)}")
        print(f"{sum(per_file.values()):6d}  total in {root} "
              f"({len(per_file)} files)")


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    main(sys.argv[1:])

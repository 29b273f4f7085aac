#!/usr/bin/env python3
"""Duplicate-window measure of the main Scala sources (dev tool only).

Counts the stripped, non-blank, non-comment lines that sit in a 6-line
window already seen earlier, reading the files in sorted path order. It
prints the count and exits 1 when the count is above --max.

Usage (from the repo root):
    python3 tools/dup_windows.py [--max N] [FILE ...]

Without files it reads src/main/scala/**/*.scala.
"""
import argparse
import glob
import sys

W = 6


def dup_lines(files):
    seen, dup = set(), set()
    for f in sorted(files):
        L = [(l.strip(), i) for i, l in enumerate(open(f))
             if l.strip() and not l.strip().startswith(("//", "/*", "*"))]
        for k in range(len(L) - W + 1):
            key = tuple(t for t, _ in L[k:k + W])
            if key in seen:
                dup |= {(f, i) for _, i in L[k:k + W]}
            seen.add(key)
    return len(dup)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--max", type=int, default=0)
    ap.add_argument("files", nargs="*")
    a = ap.parse_args()
    n = dup_lines(a.files or glob.glob("src/main/scala/**/*.scala", recursive=True))
    print(n)
    return 1 if n > a.max else 0


if __name__ == "__main__":
    sys.exit(main())

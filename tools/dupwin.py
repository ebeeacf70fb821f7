#!/usr/bin/env python3
"""Count repeated N-line windows of source text, per file.

Each file is read on its own: leading whitespace is stripped from every
line, blank lines are dropped, and every run of N consecutive remaining
lines is one window. A window that occurs k > 1 times in the same file
adds k - 1 extra occurrences. Prints the extra occurrences of each file
that has any, then the total over all files.

    dupwin.py [--window N] PATH...

A PATH that is a directory is walked for *.scala, *.py and *.java files.
"""
import argparse
import os
import sys
from collections import Counter

SUFFIXES = (".scala", ".py", ".java")


def extra_occurrences(lines, window=3):
    """Extra occurrences of repeated `window`-line windows in `lines`."""
    text = [ln.lstrip() for ln in lines]
    text = [ln.rstrip("\n") for ln in text if ln.strip()]
    counts = Counter(tuple(text[i:i + window])
                     for i in range(len(text) - window + 1))
    return sum(n - 1 for n in counts.values() if n > 1)


def files_under(paths):
    for p in paths:
        if os.path.isdir(p):
            for root, dirs, names in os.walk(p):
                dirs.sort()
                for n in sorted(names):
                    if n.endswith(SUFFIXES):
                        yield os.path.join(root, n)
        else:
            yield p


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--window", type=int, default=3)
    ap.add_argument("paths", nargs="+")
    args = ap.parse_args(argv)
    if args.window < 1:
        ap.error("--window must be at least 1")
    total = 0
    for f in files_under(args.paths):
        with open(f, encoding="utf-8", errors="replace") as fh:
            n = extra_occurrences(fh.readlines(), args.window)
        if n:
            print(f"{n:6d}  {f}")
        total += n
    print(f"{total:6d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main())

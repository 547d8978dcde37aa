#!/usr/bin/env python3
"""Repeated-block census of the Scala sources under a directory.

Usage: clones.py <dir> [--window N] [--show]

Each line of every `.scala` file under <dir> is stripped of leading and
trailing whitespace. A window is N consecutive lines of one file
(default 8). A window counts if at least N-1 of its lines are
substantive: longer than 3 characters and not a `//` or `*` comment
line. A counted window's text that appears more than once (in the same
file or another) is a repeated block. Every line that lies in a
repeated block, outside that block's first occurrence (files in sorted
path order), is counted once, however many windows cover it. Prints
that count; `--show` also prints each repeated block with the places it
occurs, first occurrence first.
"""
import argparse
import os
import sys
from collections import defaultdict


def substantive(line):
    return len(line) > 3 and not line.startswith("//") and not line.startswith("*")


def scala_files(root):
    paths = []
    for d, _, names in os.walk(root):
        paths += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(paths)


def census(root, window):
    files = [(p, [l.strip() for l in open(p, encoding="utf-8")]) for p in scala_files(root)]
    places = defaultdict(list)
    for fi, (_, lines) in enumerate(files):
        for i in range(len(lines) - window + 1):
            w = tuple(lines[i:i + window])
            if sum(map(substantive, w)) >= window - 1:
                places[w].append((fi, i))
    repeated = {w: ps for w, ps in places.items() if len(ps) > 1}
    counted = {(fi, i + k) for ps in repeated.values() for fi, i in ps[1:] for k in range(window)}
    return files, repeated, len(counted)


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("dir")
    ap.add_argument("--window", type=int, default=8)
    ap.add_argument("--show", action="store_true")
    args = ap.parse_args(argv[1:])
    files, repeated, count = census(args.dir, args.window)
    if args.show:
        for w, ps in sorted(repeated.items(), key=lambda kv: kv[1][0]):
            where = ", ".join(f"{files[fi][0]}:{i + 1}" for fi, i in ps)
            print(f"--- {len(ps)}x {where}\n  " + "\n  ".join(w))
    print(count)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))

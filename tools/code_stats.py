#!/usr/bin/env python3
"""Size and duplication figures for the Scala under src/main.

Prints these numbers, so the trend of the code's size can be followed
from change to change:

  code_lines        non-blank, non-comment lines (a line whose first
                    non-space characters are //, /* or * is a comment)
  localCheckpoint   localCheckpoint(true) call sites
  scope.persist     CacheScope persist call sites (scope.persist and
                    CacheScope.untracked.persist)
  withScope         withScope occurrences on code lines
  bounded_frames    call sites of graft.Small, the helper that collects
                    a frame of stated bounded size to the driver
                    (Small(...) and Small.rows(...))
  bcast_crossjoin   code lines that call `crossJoin(broadcast(`
  parquet_reads     `.read.parquet(` call sites on code lines outside
                    `object Tables`, whose reader infers each file
                    version's schema once; a bare `.read.parquet(`
                    runs Spark's schema inference, a job, on every
                    read. Sources.compact and Cli stay on it: each
                    reads a user path once a call, so a memo spares no
                    inference, and the path may be a large directory,
                    whose version check would list every file on the
                    driver
  dup_block_lines   lines that sit in a second or later copy of a
                    block of 4 consecutive code lines (trimmed, blank
                    and comment lines skipped) totalling >= 160
                    characters; the first copy in path order is not
                    counted, and a line counts once however many
                    copies cover it
  mains             `def main(` definitions
  entry_lines       all lines (as wc -l counts them) of the files that
                    define a main and read SparkEntry, that is the
                    entry points that run registered queries, plus
                    Harness.scala, which holds their shared loop

Usage: python3 tools/code_stats.py [--dups N] [root]
  root     defaults to src/main
  --dups   also list the N largest duplicated blocks with their sites
"""
import argparse
import os
import re
from collections import defaultdict

BLOCK, MIN_CHARS = 4, 160
COMMENT = re.compile(r"^(//|/\*|\*)")


def scala_files(root):
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".scala"):
                yield os.path.join(d, f)


def code_lines(path):
    """(line number, trimmed text) of each code line of a file."""
    with open(path, encoding="utf-8") as fh:
        return [(n, t) for n, t in ((n, l.strip()) for n, l in enumerate(fh, 1))
                if t and not COMMENT.match(t)]


def outside_tables(path, code):
    """The code lines of a file that are not inside `object Tables`,
    which runs from its `object Tables` line to the next `}` line at
    column 0."""
    with open(path, encoding="utf-8") as fh:
        raw = fh.read().split("\n")
    start = next((i for i, l in enumerate(raw, 1) if l.startswith("object Tables")), None)
    if start is None:
        return [t for _, t in code]
    end = next(i for i, l in enumerate(raw, 1) if i > start and l == "}")
    return [t for i, t in code if not start <= i <= end]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("root", nargs="?", default="src/main")
    ap.add_argument("--dups", type=int, default=0)
    args = ap.parse_args()

    paths = sorted(scala_files(args.root))
    lines = {p: code_lines(p) for p in paths}
    text = "\n".join(t for p in paths for _, t in lines[p])

    sites = defaultdict(list)  # block -> [(path, index of first line)]
    for p in paths:
        ls = lines[p]
        for i in range(len(ls) - BLOCK + 1):
            block = tuple(t for _, t in ls[i:i + BLOCK])
            if sum(map(len, block)) >= MIN_CHARS:
                sites[block].append((p, i))
    dup = set()
    for occ in sites.values():
        for p, i in occ[1:]:
            dup.update((p, j) for j in range(i, i + BLOCK))

    checkpoints = len(re.findall(r"localCheckpoint\(true\)", text))
    persists = len(re.findall(r"\b(?:scope|untracked)\.persist\b", text))
    scopes = len(re.findall(r"\bwithScope\b", text))
    bcast = sum("crossJoin(broadcast(" in t for t in text.split("\n"))
    bounded = len(re.findall(r"\bSmall(?:\.rows)?\(", text))
    reads = sum(t.count(".read.parquet(") for p in paths for t in outside_tables(p, lines[p]))
    print(f"code_lines       {sum(map(len, lines.values()))}")
    print(f"localCheckpoint  {checkpoints}")
    print(f"scope.persist    {persists}")
    print(f"withScope        {scopes}")
    print(f"bounded_frames   {bounded}")
    print(f"bcast_crossjoin  {bcast}")
    print(f"parquet_reads    {reads}")
    print(f"dup_block_lines  {len(dup)}")
    sources = {p: open(p, encoding="utf-8").read() for p in paths}
    mains = {p: len(re.findall(r"\bdef main\(", t)) for p, t in sources.items()}
    entry = [p for p, t in sources.items() if os.path.basename(p) == "Harness.scala"
             or (mains[p] and "SparkEntry" in t)]
    print(f"mains            {sum(mains.values())}")
    print(f"entry_lines      {sum(sources[p].count(chr(10)) for p in entry)}")

    if args.dups:
        per_file = defaultdict(int)
        for p, _ in dup:
            per_file[p] += 1
        for p, n in sorted(per_file.items(), key=lambda kv: -kv[1]):
            print(f"  {n:5d}  {p}")
        repeated = sorted(((b, o) for b, o in sites.items() if len(o) > 1),
                          key=lambda bo: -len(bo[1]))[:args.dups]
        for block, occ in repeated:
            where = ", ".join(f"{os.path.basename(p)}:{lines[p][i][0]}"
                              for p, i in occ)
            print(f"\n{len(occ)}x {where}\n  " + "\n  ".join(block))


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Scala code-line counter (dev tooling).

Usage: python3 tools/codelines.py [DIR_OR_FILE ...] [--total]

Counts the non-blank, non-comment lines of every *.scala file under each
argument (default: src/main) and prints one `<count>  <path>` line per
file, sorted by path, then a `<count>  total` line. With --total only the
total is printed.

A line is a comment line when, after stripping whitespace, it starts
with `//`, or when it lies wholly inside a `/* ... */` block (the
opening and closing lines included). A line that carries code before a
trailing comment, or code after a block comment closes on it, counts as
code. Comment markers inside string literals are not recognised; the
sources do not start a line with one.
"""
import os
import sys


def code_lines(path):
    n = 0
    in_block = False
    with open(path, encoding="utf-8") as f:
        for raw in f:
            line = raw.strip()
            if in_block:
                end = line.find("*/")
                if end < 0:
                    continue
                in_block = False
                line = line[end + 2:].strip()
            # a line may open (and close) several block comments before
            # any code, e.g. `/* a */ /* b */ val x = 1`
            while line.startswith("/*"):
                end = line.find("*/", 2)
                if end < 0:
                    in_block = True
                    line = ""
                    break
                line = line[end + 2:].strip()
            if line and not line.startswith("//"):
                n += 1
    return n


def scala_files(root):
    if os.path.isfile(root):
        return [root]
    out = []
    for d, _, names in os.walk(root):
        out.extend(os.path.join(d, x) for x in names if x.endswith(".scala"))
    return out


def main(argv):
    total_only = "--total" in argv
    roots = [a for a in argv if a != "--total"] or ["src/main"]
    counts = {p: code_lines(p) for r in roots for p in scala_files(r)}
    if not total_only:
        for p in sorted(counts):
            print(f"{counts[p]:7d}  {p}")
    print(f"{sum(counts.values()):7d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])

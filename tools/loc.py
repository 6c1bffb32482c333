#!/usr/bin/env python3
"""Count the non-blank, non-comment lines of the .scala files under a directory.

Usage: python3 tools/loc.py [DIR]   (DIR defaults to src/main)

A line is not counted when it is blank, when it starts with `//`, or when it
belongs to a `/* ... */` block (scaladoc included) that starts the line. Code
with a trailing comment counts. Calibration: `src/main` at commit ed42ed0
counts 6,845, at f940ad1 6,986, at a0233be 6,371, at a553837 6,296, and
6,236 once the dictionary-derived tables share the stage runner's one
check (the change after a553837).
"""
import pathlib
import sys


def count(path):
    n, in_block = 0, False
    for line in path.read_text(encoding="utf-8").splitlines():
        s = line.strip()
        if in_block:
            in_block = "*/" not in s
        elif s.startswith("/*"):
            in_block = "*/" not in s[2:]
        elif s and not s.startswith("//"):
            n += 1
    return n


root = pathlib.Path(sys.argv[1] if len(sys.argv) > 1 else "src/main")
print(sum(count(p) for p in sorted(root.rglob("*.scala"))))

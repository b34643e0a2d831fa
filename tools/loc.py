#!/usr/bin/env python3
"""Size of the program: the non-blank, non-comment line count of
src/main/**/*.scala. A line counts unless, with its leading whitespace
stripped, it is empty or starts with `//`, `/*` or `*` (so scaladoc and
block-comment bodies drop out; code with a trailing comment counts).
Usage: loc.py [repoRoot]   (default: the repo this script lives in)
"""
import os
import pathlib
import sys


def loc(root):
    n = 0
    for path in sorted(pathlib.Path(root, "src", "main").rglob("*.scala")):
        for line in path.read_text(encoding="utf-8").splitlines():
            s = line.strip()
            if s and not s.startswith(("//", "/*", "*")):
                n += 1
    return n


if __name__ == "__main__":
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.join(os.path.dirname(__file__), "..")
    print(loc(root))

#!/usr/bin/env python3
"""Count main-source code lines: non-blank lines that are neither `//`
comment lines nor inside a `/* ... */` block comment.

    python3 tools/sloc.py [root ...]     # default root: src/main

Prints the total; `-v` also prints the count per file.
"""
import os
import sys


def code_lines(path):
    n = 0
    in_block = False
    with open(path, encoding="utf-8") as f:
        for line in f:
            s = line.strip()
            if in_block:
                if "*/" in s:
                    in_block = False
                continue
            if not s or s.startswith("//"):
                continue
            if s.startswith("/*"):
                in_block = "*/" not in s[2:]
                continue
            n += 1
    return n


def main(argv):
    verbose = "-v" in argv
    roots = [a for a in argv if a != "-v"] or ["src/main"]
    total = 0
    for root in roots:
        for d, _, files in sorted(os.walk(root)):
            for name in sorted(files):
                if name.endswith((".scala", ".java")):
                    p = os.path.join(d, name)
                    c = code_lines(p)
                    total += c
                    if verbose:
                        print(f"{c:7d} {p}")
    print(total)


if __name__ == "__main__":
    main(sys.argv[1:])

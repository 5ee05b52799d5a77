#!/usr/bin/env python3
"""Count the Scala lines of the main and test trees.

Prints, for src/main and src/test, the total line count and the
non-blank non-comment count: a line counts as code unless, stripped, it is
empty or starts with `//`, `/*` or `*` (a scaladoc or block-comment line).

    python3 tools/loc.py [repo_root]
"""
import os
import sys


def count(tree):
    total = code = 0
    for d, _, files in os.walk(tree):
        for f in files:
            if not f.endswith(".scala"):
                continue
            with open(os.path.join(d, f), encoding="utf-8") as fh:
                for line in fh:
                    total += 1
                    s = line.strip()
                    if s and not s.startswith(("//", "/*", "*")):
                        code += 1
    return total, code


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.join(os.path.dirname(__file__), "..")
    for tree in ("main", "test"):
        total, code = count(os.path.join(root, "src", tree))
        print(f"{tree}: {total} lines, {code} non-blank non-comment")


if __name__ == "__main__":
    main()

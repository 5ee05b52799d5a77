#!/usr/bin/env python3
"""Count the Scala lines of the main and test trees.

Prints, for src/main and src/test, the total line count and the
non-blank non-comment count: a line counts as code unless, stripped, it is
empty or starts with `//`, `/*` or `*` (a scaladoc or block-comment line).
With --files, each tree's total is followed by one line per file (code
lines, total lines, path), most code lines first.

    python3 tools/loc.py [--files] [repo_root]
"""
import os
import sys


def count_file(path):
    total = code = 0
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            total += 1
            s = line.strip()
            if s and not s.startswith(("//", "/*", "*")):
                code += 1
    return total, code


def count(tree):
    files = {}
    for d, _, names in os.walk(tree):
        for f in names:
            if f.endswith(".scala"):
                path = os.path.join(d, f)
                files[path] = count_file(path)
    return files


def main():
    args = sys.argv[1:]
    per_file = "--files" in args
    args = [a for a in args if a != "--files"]
    root = args[0] if args else os.path.join(os.path.dirname(__file__), "..")
    for tree in ("main", "test"):
        top = os.path.join(root, "src", tree)
        files = count(top)
        total = sum(t for t, _ in files.values())
        code = sum(c for _, c in files.values())
        print(f"{tree}: {total} lines, {code} non-blank non-comment")
        if per_file:
            for path, (t, c) in sorted(files.items(), key=lambda kv: (-kv[1][1], kv[0])):
                print(f"  {c:6} {t:6}  {os.path.relpath(path, root)}")


if __name__ == "__main__":
    main()

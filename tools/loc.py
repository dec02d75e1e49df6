#!/usr/bin/env python3
"""Count non-blank, non-comment lines of the Scala sources under src/main.

A line counts when it holds any code outside `//` line comments and
`/* ... */` block comments (Scaladoc included). String literals are
honoured, so a `//` or `/*` inside a string does not start a comment.

Usage (from the repository root, or pass the root):

    python3 tools/loc.py [ROOT] [--total]

Prints `lines path` per file, largest first, then the total; with
`--total` only the total.
"""
import os
import sys


def code_lines(text):
    n = 0
    depth = 0  # Scala block comments nest
    in_str = None  # None, '"' or '"""'
    for line in text.splitlines():
        i, code = 0, False
        while i < len(line):
            if depth:
                if line.startswith("*/", i):
                    depth, i = depth - 1, i + 2
                elif line.startswith("/*", i):
                    depth, i = depth + 1, i + 2
                else:
                    i += 1
            elif in_str == '"""':
                code = True
                if line.startswith('"""', i):
                    in_str, i = None, i + 3
                else:
                    i += 1
            elif in_str == '"':
                code = True
                if line[i] == "\\":
                    i += 2
                elif line[i] == '"':
                    in_str, i = None, i + 1
                else:
                    i += 1
            elif line.startswith("//", i):
                break
            elif line.startswith("/*", i):
                depth, i = 1, i + 2
            elif line.startswith('"""', i):
                in_str, code, i = '"""', True, i + 3
            elif line[i] == '"':
                in_str, code, i = '"', True, i + 1
            elif line.startswith("'\\", i) and line.find("'", i + 2) > 0:
                code, i = True, line.find("'", i + 3) + 1  # '\"', 'A'
            elif line[i] == "'" and i + 2 < len(line) and line[i + 2] == "'":
                code, i = True, i + 3  # a char literal such as '"'
            else:
                code = code or not line[i].isspace()
                i += 1
        if in_str == '"':
            in_str = None  # single-quoted strings end with the line
        n += code or in_str == '"""'
    return n


def main(argv):
    args = [a for a in argv if not a.startswith("--")]
    root = args[0] if args else "."
    src = os.path.join(root, "src", "main")
    counts = []
    for d, _, files in os.walk(src):
        for f in files:
            if f.endswith(".scala"):
                p = os.path.join(d, f)
                with open(p, encoding="utf-8") as fh:
                    counts.append((code_lines(fh.read()), os.path.relpath(p, root)))
    total = sum(c for c, _ in counts)
    if "--total" not in argv:
        for c, p in sorted(counts, reverse=True):
            print(f"{c:7d} {p}")
    print(f"{total:7d} total")


if __name__ == "__main__":
    main(sys.argv[1:])

#!/usr/bin/env python3
"""Count `src/main` code and comment lines, per file and in total.

The rule (the one CHANGES.md uses for its before/after figures):
blank lines are not counted; a line inside a `/* ... */` block, or a
line that starts a comment (`//` or `/*`), counts as comment; every
other line counts as code.

Usage: python3 tools/loc.py [root]   (default root: src/main)
The last line is the total; `| tail -1` prints only that.
"""
import os
import sys


def count(path):
    code = comment = 0
    in_block = False
    with open(path, encoding="utf-8") as f:
        for raw in f:
            line = raw.strip()
            if not line:
                continue
            if in_block:
                comment += 1
                in_block = "*/" not in line
            elif line.startswith("//"):
                comment += 1
            elif line.startswith("/*"):
                comment += 1
                in_block = "*/" not in line[2:]
            else:
                code += 1
    return code, comment


def main(argv):
    root = argv[0] if argv else "src/main"
    rows = []
    for d, _, files in os.walk(root):
        for name in files:
            if name.endswith((".scala", ".java")):
                p = os.path.join(d, name)
                rows.append((p,) + count(p))
    rows.sort()
    for p, c, m in rows:
        print(f"{c:6d} {m:6d}  {p}")
    print(f"{sum(r[1] for r in rows):6d} {sum(r[2] for r in rows):6d}  "
          f"total ({len(rows)} files; code, comment)")


if __name__ == "__main__":
    main(sys.argv[1:])

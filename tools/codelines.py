#!/usr/bin/env python3
"""Line counts of the Scala sources: total, code, comment and blank lines
for src/main and src/test.

A line is BLANK when it holds only whitespace, a COMMENT when it is a
`//` line or lies inside a `/* ... */` or scaladoc `/** ... */` block
(opening and closing lines included), and CODE otherwise. Run from the
repo root:

    python3 tools/codelines.py            # one row per tree
    python3 tools/codelines.py --json     # the same numbers as JSON

Compare two checkouts by running it in each.
"""
import json
import os
import sys

TREES = ("src/main", "src/test")


def classify(lines):
    """(code, comment, blank) counts of one file's lines."""
    code = comment = blank = 0
    in_block = False
    for raw in lines:
        s = raw.strip()
        if in_block:
            comment += 1
            if "*/" in s:
                in_block = False
        elif not s:
            blank += 1
        elif s.startswith("//"):
            comment += 1
        elif s.startswith("/*"):
            comment += 1
            in_block = "*/" not in s[2:]
        else:
            code += 1
    return code, comment, blank


def count(tree):
    totals = {"files": 0, "total": 0, "code": 0, "comment": 0, "blank": 0}
    for root, _, files in os.walk(tree):
        for name in sorted(files):
            if not name.endswith(".scala"):
                continue
            with open(os.path.join(root, name), encoding="utf-8") as fh:
                lines = fh.read().splitlines()
            code, comment, blank = classify(lines)
            totals["files"] += 1
            totals["total"] += len(lines)
            totals["code"] += code
            totals["comment"] += comment
            totals["blank"] += blank
    return totals


def main(argv):
    rows = {tree: count(tree) for tree in TREES}
    if "--json" in argv:
        print(json.dumps(rows, sort_keys=True))
        return
    print(f"{'tree':<10}{'files':>7}{'total':>8}{'code':>8}"
          f"{'comment':>9}{'blank':>7}")
    for tree, r in rows.items():
        print(f"{tree:<10}{r['files']:>7}{r['total']:>8}{r['code']:>8}"
              f"{r['comment']:>9}{r['blank']:>7}")


if __name__ == "__main__":
    main(sys.argv[1:])

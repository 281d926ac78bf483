#!/usr/bin/env python3
"""Line counts of the Scala sources: total, code, comment and blank lines
for src/main and src/test, or for the files and directories named on the
command line.

A line is BLANK when it holds only whitespace, a COMMENT when it is a
`//` line or lies inside a `/* ... */` or scaladoc `/** ... */` block
(opening and closing lines included), and CODE otherwise. Run from the
repo root:

    python3 tools/codelines.py            # one row per tree
    python3 tools/codelines.py --json     # the same numbers as JSON
    python3 tools/codelines.py src/main/scala/graft/operators/Pq.scala \
        src/main/scala/graft/operators/Similarity.scala
                                          # one row per path, then their sum

A path argument is a `.scala` file or a directory searched for them.

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


def scala_files(path):
    """`path` itself when it is a file, else every .scala file under it."""
    if os.path.isfile(path):
        return [path]
    return [os.path.join(root, name)
            for root, _, files in os.walk(path)
            for name in sorted(files) if name.endswith(".scala")]


def count(path):
    totals = {"files": 0, "total": 0, "code": 0, "comment": 0, "blank": 0}
    for name in scala_files(path):
        with open(name, encoding="utf-8") as fh:
            lines = fh.read().splitlines()
        code, comment, blank = classify(lines)
        totals["files"] += 1
        totals["total"] += len(lines)
        totals["code"] += code
        totals["comment"] += comment
        totals["blank"] += blank
    return totals


def main(argv):
    paths = [a for a in argv if a != "--json"]
    missing = [p for p in paths if not os.path.exists(p)]
    if missing:
        sys.exit(f"codelines: no such file or directory: {', '.join(missing)}")
    rows = {path: count(path) for path in paths or TREES}
    if len(paths) > 1:
        rows["sum"] = {key: sum(r[key] for r in rows.values())
                       for key in rows[paths[0]]}
    if "--json" in argv:
        print(json.dumps(rows, sort_keys=True))
        return
    width = max(10, max(len(p) for p in rows) + 2)
    print(f"{'path':<{width}}{'files':>7}{'total':>8}{'code':>8}"
          f"{'comment':>9}{'blank':>7}")
    for path, r in rows.items():
        print(f"{path:<{width}}{r['files']:>7}{r['total']:>8}{r['code']:>8}"
              f"{r['comment']:>9}{r['blank']:>7}")


if __name__ == "__main__":
    main(sys.argv[1:])

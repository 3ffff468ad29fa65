#!/usr/bin/env python3
"""Count non-blank, non-comment (NCNB) and raw lines of source files.

Usage: tools/ncnb.py <rev> <path>...

<rev> is a git revision, or "." for the working tree. Each <path> is a
file or a directory (every *.scala/*.py/*.java file under it). A line
counts as NCNB unless it is blank, starts with "//", or lies in a
/* ... */ block comment (scaladoc included). Prints one row per file and
a total; a path absent at <rev> counts 0.
"""
import os
import subprocess
import sys

EXTS = (".scala", ".py", ".java")


def files_at(rev, path):
    if rev == ".":
        if os.path.isdir(path):
            return sorted(os.path.join(d, f) for d, _, fs in os.walk(path)
                          for f in fs if f.endswith(EXTS))
        return [path] if os.path.exists(path) else []
    out = subprocess.run(["git", "ls-tree", "-r", "--name-only", rev, "--",
                          path], capture_output=True, text=True, check=True)
    return [f for f in out.stdout.split("\n") if f.endswith(EXTS)]


def text_at(rev, f):
    if rev == ".":
        with open(f, encoding="utf-8", errors="replace") as fh:
            return fh.read()
    return subprocess.run(["git", "show", f"{rev}:{f}"], capture_output=True,
                          text=True, errors="replace", check=True).stdout


def count(text):
    ncnb, in_block = 0, False
    lines = text.split("\n")
    if lines and lines[-1] == "":
        lines.pop()
    for line in lines:
        s = line.strip()
        if in_block:
            in_block = "*/" not in s
        elif s.startswith("/*"):
            in_block = "*/" not in s[2:]
        elif s and not s.startswith("//"):
            ncnb += 1
    return ncnb, len(lines)


def main(argv):
    if len(argv) < 3:
        sys.exit(__doc__)
    rev, paths = argv[1], argv[2:]
    tn = tr = 0
    for p in paths:
        for f in files_at(rev, p):
            n, r = count(text_at(rev, f))
            tn, tr = tn + n, tr + r
            print(f"{n:7d} {r:7d}  {f}")
    print(f"{tn:7d} {tr:7d}  total (ncnb raw) at {rev}")


if __name__ == "__main__":
    main(sys.argv)

#!/usr/bin/env python3
"""Non-blank, non-comment Scala lines per file and per directory.

Usage: ncloc.py [--root DIR] [PATH ...]

Counts every `.scala` file under DIR (default: `src/main/scala` of the
checkout this script lives in). A line counts when something other than
whitespace is left after removing `//` line comments and `/* ... */`
block comments (nested, as Scala nests them, scaladoc included).
Comment markers inside string literals, triple-quoted strings and char
literals are text, not comments; the lines of a multi-line string count.

Prints one `<count>  <path>` line per file, then one per directory (the
total of everything below it, `.` being the root), then the total of the
named PATHs (files or directories, relative to DIR or absolute) when
any are given. Paths are relative to DIR, so two checkouts print
comparable lines.
"""
import argparse
import os
import sys
from collections import defaultdict


def code_lines(text):
    """Number of lines of `text` holding code outside comments."""
    counted = set()
    line = 0
    depth = 0          # open block comments
    in_str = None      # None, '"' or '"""'
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        if c == "\n":
            line += 1
            i += 1
            continue
        if depth:
            if text.startswith("/*", i):
                depth += 1
                i += 2
            elif text.startswith("*/", i):
                depth -= 1
                i += 2
            else:
                i += 1
            continue
        if in_str == '"""':
            counted.add(line)
            if text.startswith('"""', i):
                # a closing run may be longer: the quotes before the last
                # three belong to the string
                j = i
                while j < n and text[j] == '"':
                    j += 1
                in_str = None
                i = j
            else:
                i += 1
            continue
        if in_str == '"':
            counted.add(line)
            if c == "\\":
                i += 2
            elif c == '"':
                in_str = None
                i += 1
            else:
                i += 1
            continue
        if text.startswith("//", i):
            while i < n and text[i] != "\n":
                i += 1
            continue
        if text.startswith("/*", i):
            depth = 1
            i += 2
            continue
        if c.isspace():
            i += 1
            continue
        counted.add(line)
        if text.startswith('"""', i):
            in_str = '"""'
            i += 3
        elif c == '"':
            in_str = '"'
            i += 1
        elif c == "'":
            # char literal ('x', '\n', 'A'); anything else is a
            # lone quote (symbol or identifier character)
            if i + 2 < n and text[i + 1] == "\\":
                j = text.find("'", i + 2)
                i = j + 1 if 0 < j - i <= 7 else i + 1
            elif i + 2 < n and text[i + 2] == "'":
                i += 3
            else:
                i += 1
        else:
            i += 1
    return len(counted)


def main():
    here = os.path.dirname(os.path.abspath(__file__))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--root",
                    default=os.path.join(here, "..", "src", "main", "scala"))
    ap.add_argument("paths", nargs="*")
    args = ap.parse_args()
    root = os.path.normpath(args.root)

    files = {}
    for d, _, names in os.walk(root):
        for name in names:
            if name.endswith(".scala"):
                p = os.path.join(d, name)
                with open(p, encoding="utf-8") as f:
                    files[os.path.relpath(p, root)] = code_lines(f.read())

    dirs = defaultdict(int)
    for rel, k in files.items():
        d = os.path.dirname(rel)
        while True:
            dirs[d or "."] += k
            if not d:
                break
            d = os.path.dirname(d)

    for rel in sorted(files):
        print(f"{files[rel]:7d}  {rel}")
    for d in sorted(dirs):
        print(f"{dirs[d]:7d}  {d}/")

    if args.paths:
        total = 0
        for p in args.paths:
            rel = os.path.relpath(os.path.abspath(p), root) \
                if os.path.isabs(p) else os.path.normpath(p)
            if rel in files:
                total += files[rel]
            elif rel in dirs:
                total += dirs[rel]
            else:
                sys.exit(f"ncloc: no .scala file or directory {p} under {root}")
        print(f"{total:7d}  total of {' '.join(args.paths)}")


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Count Scala code lines per top-level package and in total.

    python3 tools/loc.py [--rev REV] [PATH ...]      (default PATH: src/main)

A code line is a non-blank line that holds something other than comment:
`//` lines, `/* ... */` block comments (nested, as Scala allows) and
scaladoc are not counted; a line with code and a trailing comment is. Blank
lines and removed comments therefore never show as a change in size.

Files are grouped by their `package` clause cut to two names (`graft.llm`,
`graft.sources`, ...; a file directly in `graft` counts as `graft`).

`--rev REV` counts the files as they are at git revision REV (read through
`git ls-tree` and `git show`, no checkout), so a parent and a change are
counted by the same command:

    python3 tools/loc.py --rev HEAD~1 src/main
    python3 tools/loc.py src/main
"""
import argparse
import collections
import os
import re
import subprocess
import sys

PACKAGE = re.compile(r"^\s*package\s+([\w.]+)", re.M)


def code_lines(text):
    """Number of lines holding a character outside every comment."""
    has_code = set()
    line = 0
    depth = 0          # nesting depth of /* */ comments
    quote = None       # '"' or '"""' while inside a string literal
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
        if quote:
            has_code.add(line)
            if quote == '"' and c == "\\":
                i += 2
            elif text.startswith(quote, i):
                i += len(quote)
                quote = None
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
        if not c.isspace():
            has_code.add(line)
            if text.startswith('"""', i):
                quote = '"""'
                i += 3
                continue
            if c == '"':
                quote = '"'
            elif c == "'":
                # a char literal: skip it whole so '"' or '/' opens nothing
                m = re.match(r"'(\\.[^']*|[^'\\\n])'", text[i:i + 12])
                if m:
                    i += len(m.group(0))
                    continue
        i += 1
    return len(has_code)


def group(text):
    names = ".".join(PACKAGE.findall(text)).split(".")
    return ".".join(names[:2]) if names != [""] else "(default)"


def files_on_disk(paths):
    for p in paths:
        if os.path.isfile(p):
            yield p
            continue
        for root, _, names in os.walk(p):
            for name in sorted(names):
                if name.endswith(".scala"):
                    yield os.path.join(root, name)


def read_on_disk(path):
    with open(path, encoding="utf-8") as f:
        return f.read()


def files_at_rev(rev, paths):
    out = subprocess.run(["git", "ls-tree", "-r", "--name-only", rev, "--", *paths],
                         check=True, capture_output=True, text=True).stdout
    return [p for p in out.splitlines() if p.endswith(".scala")]


def read_at_rev(rev, path):
    return subprocess.run(["git", "show", f"{rev}:{path}"], check=True,
                          capture_output=True, text=True).stdout


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("paths", nargs="*", default=["src/main"])
    ap.add_argument("--rev", help="count the files at this git revision")
    args = ap.parse_args()
    if args.rev:
        files = files_at_rev(args.rev, args.paths)
        read = lambda p: read_at_rev(args.rev, p)
    else:
        files = list(files_on_disk(args.paths))
        read = read_on_disk
    lines = collections.Counter()
    nfiles = collections.Counter()
    for path in files:
        text = read(path)
        key = group(text)
        lines[key] += code_lines(text)
        nfiles[key] += 1
    width = max([len(k) for k in lines] + [5])
    for key in sorted(lines):
        print(f"{key:<{width}}  {lines[key]:>7}  ({nfiles[key]} files)")
    print(f"{'total':<{width}}  {sum(lines.values()):>7}  ({len(files)} files)")


if __name__ == "__main__":
    sys.exit(main())

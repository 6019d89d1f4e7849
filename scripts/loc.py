#!/usr/bin/env python3
"""Count code lines of the Scala sources under a directory.

Usage: python3 scripts/loc.py <dir> [--per-file]

A line counts when, after stripping whitespace, it is not empty, does
not start with `//`, and does not lie inside a `/* ... */` block. A
block opens only where a line starts with `/*` (or where the text left
after a closing `*/` does), so code that carries an inline
`/* ... */` or a `/*` inside a string counts as one code line and
opens nothing. A line that closes a block and then carries code
(`*/ val y = 2`) counts.

Prints the total, or one `<count> <path>` line per file and the total
with --per-file.
"""
import os
import sys


def count_lines(text):
    """Code lines of one source text, by the rule in the module doc."""
    n = 0
    in_block = False
    for raw in text.splitlines():
        line = raw.strip()
        code = False
        while line:
            if in_block:
                end = line.find("*/")
                if end < 0:
                    line = ""
                else:
                    in_block = False
                    line = line[end + 2:].strip()
            elif line.startswith("//"):
                line = ""
            elif line.startswith("/*"):
                in_block = True
                line = line[2:]
            else:
                code = True
                line = ""
        if code:
            n += 1
    return n


def count_dir(root):
    """(total, [(count, path)]) over every .scala file under `root`."""
    rows = []
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".scala"):
                path = os.path.join(dirpath, name)
                with open(path, encoding="utf-8") as f:
                    rows.append((count_lines(f.read()), path))
    return sum(c for c, _ in rows), rows


def main(argv):
    args = [a for a in argv if a != "--per-file"]
    if len(args) != 1:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    total, rows = count_dir(args[0])
    if len(args) != len(argv):
        for c, path in rows:
            print(c, path)
    print(total)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

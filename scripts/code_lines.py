#!/usr/bin/env python3
"""Count the non-blank, non-comment code lines of src/main/scala.

The count is line-based, the way the project has always tracked it: a
line is skipped when it is blank, starts with `//`, or belongs to a block
comment that starts a line (`/*` or `/**` through the line holding `*/`).
Every other line counts, so an oracle's SQL counts line for line.

Usage: python3 scripts/code_lines.py [--files] [root]
  root     source tree to count (default: src/main/scala of this checkout)
  --files  also print one `<lines>  <path>` row per file, largest first
"""
import os
import sys


def code_lines(text: str) -> int:
    """Number of lines of one source file that carry code."""
    count, in_block = 0, False
    for line in text.split("\n"):
        s = line.strip()
        if in_block:
            in_block = "*/" not in s
        elif s.startswith("/*"):
            in_block = "*/" not in s
        elif s and not s.startswith("//"):
            count += 1
    return count


def main(argv):
    files = "--files" in argv
    args = [a for a in argv if a != "--files"]
    here = os.path.dirname(os.path.abspath(__file__))
    root = args[0] if args else os.path.join(here, "..", "src", "main",
                                             "scala")
    counts = []
    for d, _, names in os.walk(root):
        for name in names:
            if name.endswith(".scala"):
                p = os.path.join(d, name)
                with open(p, encoding="utf-8") as f:
                    counts.append((code_lines(f.read()),
                                   os.path.relpath(p, root)))
    if files:
        for k, p in sorted(counts, key=lambda t: (-t[0], t[1])):
            print(f"{k:7d}  {p}")
    print(f"{sum(k for k, _ in counts):7d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])

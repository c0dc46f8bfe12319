#!/usr/bin/env python3
"""Count non-comment, non-blank Scala lines.

A line is skipped when it is blank, starts with `//`, or belongs to a
`/* ... */` block that starts a line (scaladoc included); every other
line counts, trailing comments and all. Prints the total over
`src/main/scala`, then one count per file given as an argument.

    python3 scripts/code_lines.py [file.scala ...]
"""
import os
import sys

ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "src", "main", "scala")


def code_lines(path):
    n = 0
    in_block = False
    with open(path, encoding="utf-8") as f:
        for line in f:
            s = line.strip()
            if in_block:
                in_block = "*/" not in s
            elif s.startswith("/*"):
                in_block = "*/" not in s[2:]
            elif s and not s.startswith("//"):
                n += 1
    return n


def main(paths):
    total = sum(
        code_lines(os.path.join(d, f))
        for d, _, files in os.walk(ROOT)
        for f in files
        if f.endswith(".scala")
    )
    print(f"src/main/scala {total}")
    for p in paths:
        print(f"{p} {code_lines(p)}")


if __name__ == "__main__":
    main(sys.argv[1:])

#!/usr/bin/env python3
"""Count non-comment code lines of Scala sources.

Usage: python3 scripts/codelines.py <file> [<file> ...]

Removes every `/* ... */` block (scaladoc included), then drops blank
lines and lines whose first non-blank characters are `//`. Prints the
count per file and the total over all files. Trailing `//` comments
after code and comment markers inside string literals are not treated
specially.
"""
import re
import sys


def code_lines(path):
    with open(path, encoding="utf-8") as f:
        text = re.sub(r"/\*.*?\*/", "", f.read(), flags=re.DOTALL)
    return sum(1 for line in text.splitlines()
               if line.strip() and not line.strip().startswith("//"))


def main(paths):
    if not paths:
        sys.exit(__doc__.strip().splitlines()[2])
    total = 0
    for path in paths:
        n = code_lines(path)
        total += n
        print(f"{n:7d}  {path}")
    print(f"{total:7d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])

#!/usr/bin/env python3
"""Count the code lines of graft's main sources.

A line counts when it is non-blank, is not a `//` line and does not lie
inside a `/* ... */` block (Scaladoc included). Block comments nest, as in
Scala. A line that closes a block and carries code after the close counts.

    python3 tools/loc.py            # src/main/scala under the repo root
    python3 tools/loc.py DIR...     # any other source trees
"""
import os
import sys


def code_lines(path):
    n, depth = 0, 0
    with open(path, encoding="utf-8") as f:
        for line in f:
            s = line.strip()
            code = False
            i = 0
            while i < len(s):
                two = s[i:i + 2]
                if two == "/*":
                    depth += 1
                    i += 2
                elif two == "*/" and depth > 0:
                    depth -= 1
                    i += 2
                elif depth == 0 and two == "//":
                    break
                else:
                    if depth == 0 and not s[i].isspace():
                        code = True
                    i += 1
            n += code
    return n


def main(argv):
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    dirs = argv or [os.path.join(root, "src", "main", "scala")]
    total = 0
    for d in dirs:
        for base, _, files in os.walk(d):
            total += sum(code_lines(os.path.join(base, f))
                         for f in files if f.endswith(".scala"))
    print(f"{total:,}")


if __name__ == "__main__":
    main(sys.argv[1:])

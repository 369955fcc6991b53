#!/usr/bin/env python3
"""Count the code lines and the settable options of graft's main sources.

Line 1: the code lines. A line counts when it is non-blank, is not a `//`
line and does not lie inside a `/* ... */` block (Scaladoc included).
Block comments nest, as in Scala. A line that closes a block and carries
code after the close counts.

Line 2: the options, i.e. the defaulted parameters (`name: T = v`) in the
parameter lists of every `def` and `case class`, outside comments and
string literals.

    python3 tools/loc.py            # src/main/scala under the repo root
    python3 tools/loc.py DIR...     # any other source trees
"""
import os
import re
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


def code_only(src):
    """`src` without comments, every string or char literal as `""`."""
    out = []

    def skip_code(i, in_splice):
        depth = 0
        while i < len(src):
            c, two = src[i], src[i:i + 2]
            if two == "//":
                while i < len(src) and src[i] != "\n":
                    i += 1
            elif two == "/*":
                nest, i = 1, i + 2
                while i < len(src) and nest:
                    if src[i:i + 2] == "/*":
                        nest, i = nest + 1, i + 2
                    elif src[i:i + 2] == "*/":
                        nest, i = nest - 1, i + 2
                    else:
                        i += 1
            elif c == '"':
                interp = i > 0 and (src[i - 1].isalnum() or src[i - 1] == "_")
                i = skip_string(i, interp)
                out.append('""')
            elif c == "'" and (src[i + 2:i + 3] == "'" or
                               (src[i + 1:i + 2] == "\\" and src[i + 3:i + 4] == "'")):
                i += 3 if src[i + 2:i + 3] == "'" else 4
                out.append('""')
            else:
                if in_splice and c == "{":
                    depth += 1
                elif in_splice and c == "}":
                    if depth == 0:
                        return i + 1
                    depth -= 1
                out.append(c)
                i += 1
        return i

    def skip_string(i, interp):
        triple = src[i:i + 3] == '"""'
        i += 3 if triple else 1
        while i < len(src):
            if triple and src[i:i + 3] == '"""':
                while src[i + 3:i + 4] == '"':
                    i += 1
                return i + 3
            if not triple and src[i] == "\\":
                i += 2
            elif not triple and src[i] == '"':
                return i + 1
            elif interp and src[i:i + 2] == "$$":
                i += 2
            elif interp and src[i:i + 2] == "${":
                i = skip_code(i + 2, True)
            else:
                i += 1
        return i

    skip_code(0, False)
    return "".join(out)


HEAD = re.compile(r"\bdef\s+(`[^`]*`|[\w$]+|[^\s\w(\[:]+)|\bcase\s+class\s+\w+")


def balanced(code, i, open_, close):
    """End index (exclusive) of the group opening at `code[i]`."""
    depth = 0
    for j in range(i, len(code)):
        if code[j] == open_:
            depth += 1
        elif code[j] == close:
            depth -= 1
            if depth == 0:
                return j + 1
    return len(code)


def top_level(s, sep):
    """Split `s` on `sep` outside brackets."""
    parts, depth, cur = [], 0, []
    for c in s:
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        if c == sep and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(c)
    parts.append("".join(cur))
    return parts


def has_default(param):
    """`name: T = v`: an `=` after the `:`, outside brackets, that is not
    part of `=>`, `==`, `<=`, `>=` or `!=`."""
    colon = param.find(":")
    if colon < 0:
        return False
    depth = 0
    for j in range(colon + 1, len(param)):
        c = param[j]
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        elif (c == "=" and depth == 0 and param[j + 1:j + 2] not in "=>"
              and param[j - 1] not in "=<>!"):
            return True
    return False


def options(path):
    with open(path, encoding="utf-8") as f:
        code = code_only(f.read())
    n = 0
    for m in HEAD.finditer(code):
        i = m.end()
        while i < len(code) and code[i].isspace():
            i += 1
        if code[i:i + 1] == "[":
            i = balanced(code, i, "[", "]")
        while True:
            while i < len(code) and code[i].isspace():
                i += 1
            if code[i:i + 1] != "(":
                break
            j = balanced(code, i, "(", ")")
            n += sum(has_default(p) for p in top_level(code[i + 1:j - 1], ","))
            i = j
    return n


def main(argv):
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    dirs = argv or [os.path.join(root, "src", "main", "scala")]
    paths = [os.path.join(base, f) for d in dirs for base, _, files in os.walk(d)
             for f in files if f.endswith(".scala")]
    print(f"{sum(code_lines(p) for p in paths):,}")
    print(f"{sum(options(p) for p in paths):,} options")


if __name__ == "__main__":
    main(sys.argv[1:])

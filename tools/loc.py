#!/usr/bin/env python3
"""Count the code lines and the settable options of graft's main sources.

Line 1: the code lines. A line counts when it is non-blank, is not a `//`
line and does not lie inside a `/* ... */` block (Scaladoc included).
Block comments nest, as in Scala. A line that closes a block and carries
code after the close counts.

Line 2: the options, i.e. the defaulted parameters (`name: T = v`) in the
parameter lists of every `def` and `case class`, outside comments and
string literals.

Line 3: the test-only definitions, i.e. the `def`, `val`, `case class` and
`object` names (not `override`s, not `main` or objects with a `main`) that
nothing in the counted trees or in perfbench/src uses: only specs, or a
caller outside the repo such as one of `SparkEntry.entry`, reach them.
Names are matched as whole words in the code without comments and strings.
A use counts when it lies in the defining file, outside a def with a
parameter of that name, or, in another file, when it reaches the
definition's owner: `O.name` (or a wildcard import of `O`) for a member of
`object O`, any `x.name` for a member of a class or trait, and any bare
word for a package-level definition. So a same-named parameter, local or
String method (`split`) hides no member.

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
    """`src` without comments, every string or char literal as `""`. The
    code of `${...}` splices and the names of `$name` splices stay."""
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
            elif interp and src[i] == "$" and (src[i + 1:i + 2].isalpha() or
                                               src[i + 1:i + 2] == "_"):
                j = i + 1
                while j < len(src) and (src[j].isalnum() or src[j] == "_"):
                    j += 1
                out.append(" " + src[i + 1:j] + " ")
                i = j
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


DEFN = re.compile(r"(\boverride\s+(?:\w+\s+)*)?"
                  r"\b(?:def|val|case\s+class|object)\s+(`[^`]*`|[A-Za-z_$][\w$]*)")
WORD = re.compile(r"`[^`]*`|[A-Za-z_$][\w$]*")
OWNER = re.compile(r"\b(object|class|trait)\s+([A-Za-z_$][\w$]*)")


def is_main_object(code, m):
    """An `object` whose body defines `main`: a JVM entry point."""
    if not m.group(0).startswith("object"):
        return False
    i = code.find("{", m.end())
    body = code[i:balanced(code, i, "{", "}")] if i >= 0 else ""
    return re.search(r"\bdef\s+main\s*\(", body) is not None


def body_start(code, i):
    """Index of the `{` opening the body of the template whose header ends
    the name at `i`, or None when the template has no body."""
    while i < len(code):
        c = code[i]
        if c in "([":
            i = balanced(code, i, c, ")" if c == "(" else "]")
        elif c == "{":
            return i
        elif c == "\n":
            rest = code[i:].lstrip()
            if not re.match(r"(extends|with)\b|\{", rest):
                return None
            i += 1
        elif c in ";}=":
            return None
        else:
            i += 1
    return None


def owners(code):
    """(start, end, kind, name) of every object, class and trait body."""
    out = []
    for m in OWNER.finditer(code):
        i = body_start(code, m.end())
        if i is not None:
            out.append((i, balanced(code, i, "{", "}"), m.group(1), m.group(2)))
    return out


def owner_at(spans, pos):
    """(kind, name) of the innermost body holding `pos`, None at top level."""
    inside = [s for s in spans if s[0] < pos < s[1]]
    return min(inside, key=lambda s: s[1] - s[0])[2:] if inside else None


MEMBER = re.compile(r"\b(?:def|va[lr]|case\s+class|object|class|trait)\b")


def param_scopes(code):
    """(name, start, end) of every `def` parameter: inside [start, end), the
    def's header and body, the word `name` is the parameter, not a member.
    A def ends at the next member at its brace depth or at the close of
    the enclosing braces."""
    depth, d = [], 0
    for c in code:
        d += (c == "{") - (c == "}")
        depth.append(d)
    out = []
    for m in HEAD.finditer(code):
        if not m.group(0).startswith("def"):
            continue
        i = m.end()
        names = []
        while True:
            while i < len(code) and code[i].isspace():
                i += 1
            if code[i:i + 1] == "[":
                i = balanced(code, i, "[", "]")
            elif code[i:i + 1] == "(":
                j = balanced(code, i, "(", ")")
                for part in top_level(code[i + 1:j - 1], ","):
                    w = WORD.findall(part.split(":")[0])
                    if w:
                        names.append(w[-1])
                i = j
            else:
                break
        d0, end = depth[m.start()], len(code)
        for n in MEMBER.finditer(code, i):
            if depth[n.start()] <= d0:
                end = n.start()
                break
        for k in range(i, end):
            if depth[k] < d0:
                end = k
                break
        out += [(n, m.start(), end) for n in names]
    return out


def reaches(code, k, name, owner, same_file, imports):
    """Whether the occurrence of `name` at `code[k]` uses a definition
    owned by `owner` (see the module doc)."""
    if same_file or owner is None:
        return True
    before = code[:k].rstrip()
    kind, obj = owner
    if kind != "object":
        return before.endswith(".")
    return re.search(r"(?<![\w$])" + re.escape(obj) + r"\s*\.$", before) is not None \
        or obj in imports


def test_only(defining, referencing):
    """Names defined in `defining` that no occurrence in `referencing`
    (which includes `defining`) uses."""
    codes = {}
    for path in referencing:
        with open(path, encoding="utf-8") as f:
            codes[path] = code_only(f.read())
    # definition sites are no uses; an `override`'s name is not a site, so
    # it counts as a use of the member it overrides
    defs, sites = {}, set()
    for path in defining:
        code, spans = codes[path], owners(codes[path])
        for m in DEFN.finditer(code):
            if not m.group(1):
                sites.add((path, m.start(2)))
                if not is_main_object(code, m) and m.group(2) != "main":
                    defs.setdefault(m.group(2), []).append(
                        (path, owner_at(spans, m.start(2))))
    used = set()
    for path, code in codes.items():
        # objects whose members this file imports by wildcard
        imports = set(re.findall(r"\bimport\s+[\w.]*?([\w$]+)\._", code))
        params = [p for p in param_scopes(code) if p[0] in defs]
        for w in WORD.finditer(code):
            n = w.group(0)
            if n in defs and n not in used and (path, w.start()) not in sites and \
                    not any(p == n and s <= w.start() < e for p, s, e in params) and \
                    any(reaches(code, w.start(), n, owner, path == dpath, imports)
                        for dpath, owner in defs[n]):
                used.add(n)
    return sorted(n for n in defs if n not in used)


def scala_files(dirs):
    return [os.path.join(base, f) for d in dirs for base, _, files in os.walk(d)
            for f in files if f.endswith(".scala")]


def main(argv):
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    dirs = argv or [os.path.join(root, "src", "main", "scala")]
    paths = scala_files(dirs)
    print(f"{sum(code_lines(p) for p in paths):,}")
    print(f"{sum(options(p) for p in paths):,} options")
    harness = scala_files([os.path.join(root, "perfbench", "src")])
    names = test_only(set(paths), paths + harness)
    print(f"{len(names)} test-only: {' '.join(names)}")


if __name__ == "__main__":
    main(sys.argv[1:])

#!/usr/bin/env python3
"""Count default-valued parameters in Scala sources.

Counts every `name: T = v` in the parameter lists of a `def` or a class
(`class`, `case class`), including implicit lists and function-typed
parameters such as `wrap: (Long, String) => String = f`. Comments, string
literals and character literals are blanked first, so a `=` inside them
never counts. Prints one line per file with a non-zero count, then the
total.

Usage: python3 tools/count_params.py [root ...]   (default: src/main)
"""
import re
import sys
from pathlib import Path

CHAR = re.compile(r"'(?:\\u[0-9a-fA-F]{4}|\\.|[^\\'\n])'")
OPEN, CLOSE = "([{", ")]}"
NESTED = re.compile(r"\([^()]*\)|\[[^\[\]]*\]|\{[^{}]*\}")

# a def name (identifier or operator) or a class name, up to its first list
HEAD = re.compile(
    r"\b(?:def\s+(?:[A-Za-z_$][\w$]*|[^\s\w\[(:]+)"
    r"|(?:case\s+)?class\s+[A-Za-z_$][\w$]*)")
WS = re.compile(r"\s*")
CTOR_MOD = re.compile(r"(?:private|protected)(?:\[[\w.]*\])?\s*")
DEFAULT = re.compile(r"(?<![=<>!])=(?![=>])")


def blank(src: str) -> str:
    """`src` with comments, strings and char literals replaced by spaces
    (newlines kept), so brackets and `=` inside them are invisible."""
    out = []
    i, n = 0, len(src)
    while i < n:
        c = src[i]
        if src.startswith("//", i):
            j = src.find("\n", i)
            j = n if j < 0 else j
            out.append(" " * (j - i))
            i = j
        elif src.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:  # Scala block comments nest
                if src.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif src.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            out.append(re.sub(r"[^\n]", " ", src[i:j]))
            i = j
        elif src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':  # """...""""" closes at the last quote
                j += 1
            out.append(re.sub(r"[^\n]", " ", src[i:j]))
            i = j
        elif c == '"':
            j = i + 1
            while j < n and src[j] not in '"\n':
                j += 2 if src[j] == "\\" else 1
            out.append(" " * (j + 1 - i))
            i = j + 1
        elif c == "'" and (m := CHAR.match(src, i)):
            out.append(" " * (m.end() - i))
            i = m.end()
        else:
            out.append(c)
            i += 1
    return "".join(out)


def match_close(s: str, i: int) -> int:
    """Index just past the bracket that closes the one at `i`."""
    depth = 0
    for j in range(i, len(s)):
        if s[j] in OPEN:
            depth += 1
        elif s[j] in CLOSE:
            depth -= 1
            if depth == 0:
                return j + 1
    return len(s)


def param_lists(s: str):
    """Yield the text inside each parameter list that follows a def or class
    head: optional type parameters, an optional constructor modifier, then
    one or more `( ... )` lists, possibly on following lines."""
    for m in HEAD.finditer(s):
        i = WS.match(s, m.end()).end()
        if i < len(s) and s[i] == "[":
            i = WS.match(s, match_close(s, i)).end()
        mod = CTOR_MOD.match(s, i)
        if mod and m.group(0).startswith(("class", "case")):
            i = mod.end()
        while i < len(s) and s[i] == "(":
            j = match_close(s, i)
            yield s[i + 1:j - 1]
            i = WS.match(s, j).end()


def defaults_in(params: str) -> int:
    """Parameters of one list that carry a default: a depth-0 `=` that is not
    part of `=>`, `==`, `<=`, `>=` or `!=`, after the parameter's `:`."""
    count, depth, part = 0, 0, []
    for ch in params + ",":
        if ch in OPEN:
            depth += 1
        elif ch in CLOSE:
            depth -= 1
        if ch == "," and depth == 0:
            flat = "".join(part)
            while NESTED.search(flat):  # drop nested brackets, innermost first
                flat = NESTED.sub("", flat)
            colon = flat.find(":")
            if colon >= 0 and DEFAULT.search(flat, colon):
                count += 1
            part = []
        else:
            part.append(ch)
    return count


def count_file(path: Path) -> int:
    s = blank(path.read_text(encoding="utf-8"))
    return sum(defaults_in(p) for p in param_lists(s))


def main(roots):
    total = 0
    for root in roots:
        for path in sorted(Path(root).rglob("*.scala")):
            c = count_file(path)
            if c:
                print(f"{c:4d}  {path}")
            total += c
    print(f"{total:4d}  total")


if __name__ == "__main__":
    main(sys.argv[1:] or ["src/main"])

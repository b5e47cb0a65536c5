#!/usr/bin/env python3
"""Code-size figures of the tree, for the net-LoC line of a change.

Prints four numbers:
- main: non-blank, non-comment lines of src/main/scala;
- test: the same for src/test/scala;
- public graft.ops defs: member `def`s of the files in
  src/main/scala/graft/ops (two-space indent, so nested defs are
  excluded) without a `private` modifier;
- their parameter slots: the parameters of those defs, every parameter
  list counted.

Then the main figure split by package, so a change's net LoC shows
where the lines went: graft/sgml (the parse kernel), graft/ops,
graft/functions, graft/pdf (the PDF reader and writer), and the rest of
src/main/scala.

A line counts as code unless it is blank, a `//` line, or part of a
`/* ... */` block that starts the line (scaladoc included).

    python3 scripts/loc.py [ROOT]      # ROOT defaults to the repo root
"""
import os
import re
import sys

MEMBER_DEF = re.compile(r"^  ((?:(?:@\w+|[a-z]+(?:\[\w+\])?) )*)def (\w+)", re.M)


def scala_files(top):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def code_lines(text):
    n = 0
    in_block = False
    for line in text.split("\n"):
        s = line.strip()
        if in_block:
            if "*/" in s:
                in_block = False
                rest = s.split("*/", 1)[1].strip()
                if rest and not rest.startswith("//"):
                    n += 1
            continue
        if not s or s.startswith("//"):
            continue
        if s.startswith("/*"):
            if "*/" not in s[2:]:
                in_block = True
            elif s[2:].split("*/", 1)[1].strip():
                n += 1
            continue
        n += 1
    return n


def without_comments(text):
    """Blank out /* */ blocks (keeping line breaks) and // tails."""
    text = re.sub(r"/\*.*?\*/", lambda m: "\n" * m.group(0).count("\n"),
                  text, flags=re.S)
    return re.sub(r"^\s*//.*$", "", text, flags=re.M)


def param_slots(text, i):
    """Parameters in the lists that follow position i (after a def's name)."""
    if i < len(text) and text[i] == "[":  # type parameters
        depth = 0
        while True:
            depth += {"[": 1, "]": -1}.get(text[i], 0)
            i += 1
            if depth == 0:
                break
    slots = 0
    while i < len(text) and text[i] == "(":
        depth, j, cur = 0, i, ""
        while True:
            c = text[j]
            if c in "([{":
                depth += 1
            elif c in ")]}":
                depth -= 1
            if depth == 0:
                break
            if c == "," and depth == 1:
                slots += bool(cur.strip())
                cur = ""
            elif depth > 1 or c != "(":
                cur += c
            j += 1
        slots += bool(cur.strip())
        i = j + 1
        while i < len(text) and text[i] in " \n":
            i += 1
    return slots


def public_ops(root):
    defs = slots = 0
    for path in scala_files(os.path.join(root, "src/main/scala/graft/ops")):
        with open(path, encoding="utf-8") as f:
            text = without_comments(f.read())
        for m in MEMBER_DEF.finditer(text):
            if "private" in m.group(1):
                continue
            defs += 1
            slots += param_slots(text, m.end())
    return defs, slots


PACKAGES = ("graft/sgml", "graft/ops", "graft/functions", "graft/pdf")


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))
    per_package = dict.fromkeys(PACKAGES + ("rest",), 0)
    for name in ("main", "test"):
        top = os.path.join(root, "src", name, "scala")
        total = 0
        for path in scala_files(top):
            with open(path, encoding="utf-8", errors="replace") as f:
                n = code_lines(f.read())
            total += n
            if name == "main":
                pkg = os.path.dirname(os.path.relpath(path, top)).replace(os.sep, "/")
                per_package[pkg if pkg in PACKAGES else "rest"] += n
        print(f"{name}: {total}")
    defs, slots = public_ops(root)
    print(f"public graft.ops defs: {defs}")
    print(f"public graft.ops parameter slots: {slots}")
    for pkg, n in per_package.items():
        print(f"main {pkg}: {n}")


if __name__ == "__main__":
    main()

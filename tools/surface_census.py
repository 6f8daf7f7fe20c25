#!/usr/bin/env python3
"""Public `def`s in src/main that nothing outside their own definition calls.

Usage: python3 tools/surface_census.py [repo_root]

Comments are stripped from every Scala file under src/main, tools/ and
perfbench/src; string literals stay (an interpolated `${name}` is a
call). A non-private, non-override `def` is listed when its name occurs
in that text only as its own definitions (overloads included). For
each listed name the spec files under src/test that name it are
printed too.

A word match, not a resolver: a common name (`of`, `apply`) called on
any other object counts as a caller, so the list can miss entries but
never lists a name that main code spells out.
"""
import os, re, sys

ROOT = sys.argv[1] if len(sys.argv) > 1 else "."
DEF = re.compile(r"^\s*(?:(?:final|implicit|inline)\s+)*def\s+([A-Za-z_]\w*)")
HIDDEN = re.compile(r"^\s*(?:private|protected|override)\b|^\s*\S.*\b(?:private|override)\s+def\b")
TOKEN = re.compile(r'"""(?:.|\n)*?"""|"(?:\\.|[^"\\\n])*"|/\*.*?\*/|//[^\n]*', re.S)


def scala_files(*dirs):
    for d in dirs:
        for base, _, names in os.walk(os.path.join(ROOT, d)):
            for n in names:
                if n.endswith(".scala"):
                    yield os.path.join(base, n)


def stripped(path):
    """The file with comments blanked and string literals kept."""
    def blank(m):
        t = m.group(0)
        return t if t.startswith('"') else "\n" * t.count("\n")
    with open(path, encoding="utf-8") as f:
        return TOKEN.sub(blank, f.read())


code = {p: stripped(p) for p in scala_files("src/main", "tools", "perfbench/src")}
tests = {p: stripped(p) for p in scala_files("src/test")}

defs = {}  # name -> [file, ...]
for path, text in code.items():
    if not path.startswith(os.path.join(ROOT, "src/main")):
        continue
    for line in text.splitlines():
        m = DEF.match(line)
        if m and not HIDDEN.match(line):
            defs.setdefault(m.group(1), []).append(os.path.relpath(path, ROOT))

everything = "\n".join(code.values())
for name in sorted(defs, key=lambda n: (defs[n][0], n)):
    uses = len(re.findall(r"\b%s\b" % re.escape(name), everything))
    if uses > len(defs[name]):
        continue
    specs = sorted(os.path.basename(p)[:-6] for p, t in tests.items()
                   if re.search(r"\b%s\b" % re.escape(name), t))
    print("%s\t%s\t%s" % (defs[name][0], name, ",".join(specs) or "-"))

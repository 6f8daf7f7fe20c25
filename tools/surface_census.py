#!/usr/bin/env python3
"""Public `def`s in src/main that no live main code calls.

Usage: python3 tools/surface_census.py [--check] [repo_root]

Comments are stripped from every Scala file under src/main, tools/ and
perfbench/src; string literals stay (an interpolated `${name}` is a
call). A def counts as called when its name occurs outside its own
definitions and bodies (overloads included):
  - a member of an `object` is called by `Owner.name` anywhere, by
    `Owner(` for `apply`, and by a bare or dotted `name` only in its
    own file or in a file that imports the object's members
    (`import ...Owner._` or `import ...Owner.{..., name, ...}`);
  - a member of a class or trait is called by any `name` occurrence,
    since its callers hold untyped instances;
  - a `def name` declaration is never a call, and neither is a dotted
    `Other.name` when `Other` is a different object that defines
    `name` (that occurrence calls Other's member, not this one).
The rule is applied to a fixed point: an occurrence inside the body of
a def that is itself uncalled does not count, so a def whose only
callers are uncalled defs is listed too. Mains and overrides are
roots, and so is every entry a `kept` row of ROADMAP.md's verdict
table names: it is listed when uncalled, but what it calls stays live. A non-private, non-override
def with no caller is printed as `file<TAB>Owner.name<TAB>specs`, where
specs are the spec files under src/test that name it.

--check exits 1 when the census lists an entry that no `kept` row of
the verdict table names, and prints those entries to stderr.

Still a name match, not a resolver: an instance call whose method name
an unrelated class shares counts as a caller, so the list can miss
entries, and a reflective or implicit call is not seen.
"""
import bisect, os, re, sys

args = [a for a in sys.argv[1:] if a != "--check"]
CHECK = "--check" in sys.argv[1:]
ROOT = args[0] if args else "."

OWNER = re.compile(r"^(\s*)(?:(?:private\[\w+\]|private|protected|final|sealed|abstract|case|implicit)\s+)*(object|class|trait)\s+([A-Za-z_]\w*)")
DEF = re.compile(r"^(\s*)(?:(?:private\[\w+\]|private|protected|override|final|implicit|inline)\s+)*def\s+([A-Za-z_]\w*)")
HIDDEN = re.compile(r"^\s*(?:(?:final|implicit|inline)\s+)*(?:private|protected|override)\b|\b(?:private|override)(?:\[\w+\])?\s+def\b")
DECLARED = re.compile(r"\bdef\s+$")
QUALIFIER = re.compile(r"\b([A-Za-z_]\w*)\s*\.\s*$")
TOKEN = re.compile(r'"""(?:.|\n)*?"""|"(?:\\.|[^"\\\n])*"|/\*.*?\*/|//[^\n]*', re.S)


def scala_files(*dirs):
    for d in dirs:
        for base, _, names in os.walk(os.path.join(ROOT, d)):
            for n in sorted(names):
                if n.endswith(".scala"):
                    yield os.path.relpath(os.path.join(base, n), ROOT)


def stripped(path):
    """The file's lines with comments blanked and string literals kept."""
    def blank(m):
        t = m.group(0)
        return t if t.startswith('"') else "\n" * t.count("\n")
    with open(os.path.join(ROOT, path), encoding="utf-8") as f:
        return TOKEN.sub(blank, f.read()).split("\n")


def indent(line):
    return len(line) - len(line.lstrip())


code = {p: stripped(p) for p in scala_files("src/main", "tools", "perfbench/src")}
tests = {p: stripped(p) for p in scala_files("src/test")}

# every member def in src/main (defs local to a def body are skipped):
# (owner, kind, name, file, first line, end line, public, override)
defs = []
for path, lines in code.items():
    if not path.startswith("src/main" + os.sep):
        continue
    owners = []  # (indent, kind, name)
    body_end = 0
    for i, line in enumerate(lines):
        if not line.strip():
            continue
        ind = indent(line)
        while owners and owners[-1][0] >= ind and not line.lstrip().startswith(("}", ")")):
            owners.pop()
        m = OWNER.match(line)
        if m:
            owners.append((ind, m.group(2), m.group(3)))
            continue
        m = DEF.match(line)
        if not m or not owners or i < body_end:
            continue
        end = i + 1
        while end < len(lines) and (not lines[end].strip() or indent(lines[end]) > ind
                                    or (indent(lines[end]) == ind and lines[end].lstrip()[:1] in "})")):
            closes = indent(lines[end]) == ind and lines[end].strip()
            end += 1
            if closes:
                break
        body_end = end
        _, kind, owner = owners[-1]
        defs.append((owner, kind, m.group(2), path, i, end, not HIDDEN.match(line),
                     re.search(r"\boverride\b", line) is not None))

groups = {}  # (owner, name) -> [def, ...]
for d in defs:
    groups.setdefault((d[0], d[2]), []).append(d)
objects_defining = {}  # name -> {object owner, ...}
for d in defs:
    if d[1] == "object":
        objects_defining.setdefault(d[2], set()).add(d[0])


def imports(text, owner, name):
    pat = r"^\s*import\s+[\w.]*\b%s\.(?:_|\{[^}]*\b%s\b[^}]*\})" % (owner, name)
    return re.search(pat, text, re.M) is not None


def joined(files):
    """path -> (text, offsets of its newlines)."""
    out = {}
    for path, lines in files.items():
        text = "\n".join(lines)
        out[path] = (text, [m.start() for m in re.finditer("\n", text)])
    return out


def occurrences(files, owner, kind, name):
    """(file, line) of every occurrence in `files` that may call owner.name."""
    pats = [r"\b%s\s*\.\s*%s\b" % (re.escape(owner), re.escape(name))]
    if name == "apply":
        pats.append(r"\b%s\s*\(" % re.escape(owner))
    home = {d[3] for d in groups[(owner, name)]}
    others = objects_defining.get(name, set()) - {owner}
    out = []
    for path, (text, newlines) in files.items():
        if name not in text:
            continue
        anywhere = kind != "object" or path in home or imports(text, owner, name)
        for pat in pats + ([r"\b%s\b" % re.escape(name)] if anywhere else []):
            for m in re.finditer(pat, text):
                before = text[max(0, m.start() - 120):m.start()]
                if DECLARED.search(before):
                    continue
                q = QUALIFIER.search(before)
                if q and q.group(1) in others:
                    continue
                out.append((path, bisect.bisect_left(newlines, m.end())))
    return out


def verdict_kept():
    """(Owner, name) of every entry a `kept` row of ROADMAP.md's verdict table names."""
    kept = set()
    path = os.path.join(ROOT, "ROADMAP.md")
    if not os.path.exists(path):
        return kept
    with open(path, encoding="utf-8") as f:
        for row in f:
            cells = [c.strip() for c in row.strip().strip("|").split("|")]
            if len(cells) < 2 or not cells[1].startswith("kept"):
                continue
            for ref in re.findall(r"`([^`]+)`", cells[0]):
                m = re.match(r"(?:[\w.]+\.)?(\w+)\.\{([^}]*)\}$", ref)
                if m:
                    kept.update((m.group(1), n.strip()) for n in m.group(2).split(","))
                elif "." in ref:
                    kept.add(tuple(ref.rsplit(".", 2)[-2:]))
    return kept


def inside(spans, path, i):
    return any(p == path and s <= i < e for p, s, e in spans)


kept = verdict_kept()
code_text, test_text = joined(code), joined(tests)
uses = {key: occurrences(code_text, key[0], ds[0][1], key[1]) for key, ds in groups.items()}
dead = set()
changed = True
while changed:
    changed = False
    # a kept entry is listed when uncalled, but its body still calls
    dead_spans = [(d[3], d[4], d[5]) for k in dead - kept for d in groups[k]]
    for key, ds in groups.items():
        # the framework calls overrides, the JVM calls mains
        if key in dead or key[1] == "main" or any(d[7] for d in ds):
            continue
        own = [(d[3], d[4], d[5]) for d in ds]
        if not any(not inside(own, p, i) and not inside(dead_spans, p, i) for p, i in uses[key]):
            dead.add(key)
            changed = True

listed = sorted((k for k in dead if any(d[6] for d in groups[k])),
                key=lambda k: (groups[k][0][3], k[1]))
for owner, name in listed:
    specs = sorted({os.path.basename(p)[:-6] for p, _ in
                    occurrences(test_text, owner, groups[(owner, name)][0][1], name)})
    print("%s\t%s.%s\t%s" % (groups[(owner, name)][0][3], owner, name, ",".join(specs) or "-"))

if CHECK:
    extra = [k for k in listed if k not in kept]
    for owner, name in extra:
        print("not kept by the verdict table: %s.%s" % (owner, name), file=sys.stderr)
    sys.exit(1 if extra else 0)

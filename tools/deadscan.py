#!/usr/bin/env python3
"""Token scan for src/main definitions no production path reaches.

Run from the repository root:  python3 tools/deadscan.py

Lists each top-level (indent <= 2) def/val/class/object/trait in src/main
whose name occurs in src/main code (comments aside) only at its own
definition, tagged by where else it occurs: `perfbench`, `spec` (src/test)
or `none`. It also lists a name defined in several src/main files whose
definition has no caller: no other occurrence in its own file, and no
other src/main file naming it beside its owner. `override`/`implicit`
members, `main` and objects with a `main` are skipped.

A name the benchmark harness calls is marked `reached`; one whose
scaladoc, or its top-level owner's, carries a line starting `Kept:` (the
reason it stays) is marked `kept`. Every `Kept:` reason in src/main that
names a `...Spec` neither a file nor a class of src/test is listed as
`stale`. The exit code is 1 when any other candidate or a stale reason is
listed.
"""
import collections, os, re, sys

DEF = re.compile(r"^( {0,2})((?:(?:private(?:\[\w+\])?|protected|final|sealed|case|"
                 r"abstract|lazy)\s+)*)(def|val|class|object|trait)\s+(\w+)")

def scala(root):
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith(".scala"):
                with open(os.path.join(d, n), encoding="utf-8") as fh:
                    yield os.path.join(d, n), fh.read()

main, test, bench = (dict(scala(r)) for r in ("src/main", "src/test", "perfbench/src"))
code = lambda s: re.sub(r"/\*.*?\*/|//[^\n]*", " ", s, flags=re.S)   # comments name no caller
tokens = {f: collections.Counter(re.findall(r"\w+", code(s))) for f, s in main.items()}
total = sum(tokens.values(), collections.Counter())
sites, owner, owner_kept = collections.defaultdict(list), None, False
for f, src in main.items():
    lines = src.splitlines()
    for i, line in enumerate(lines):
        m = DEF.match(line)
        if not m or "override" in line or "implicit" in line or m.group(4) == "main":
            continue
        j, doc = i - 1, []
        while j >= 0 and lines[j].strip().startswith(("*", "/**", "@")):
            doc.append(lines[j]); j -= 1
        kept = any(re.match(r"\s*(/\*\*|\*)\s*Kept:", d) for d in doc)
        if m.group(1) == "":
            owner, owner_kept = m.group(4), kept
            if "def main(" in src:
                continue
        sites[m.group(4)].append((f, i + 1, owner, kept or owner_kept))

def where(name, owner, dup):
    w = re.compile(r"\b%s\.%s\b" % (owner, name) if dup else r"\b%s\b" % name)
    return ("perfbench" if any(w.search(s) for s in bench.values()) else
            "spec" if any(w.search(s) for s in test.values()) else "none")

found = []
for name, ss in sites.items():
    for f, line, own, kept in ss:
        if total[name] == 1:
            found.append((f, line, name, where(name, own, False), kept))
        elif len({s[0] for s in ss}) > 1 and tokens[f][name] == 1 and not any(
                g != f and (re.search(r"\b%s\.%s\b" % (own, name), code(s)) or (tokens[g][own] and
                            tokens[g][name] > sum(x[0] == g for x in ss)))
                for g, s in main.items()):
            found.append((f, line, name, where(name, own, True) + ",dup", kept))
specs = {os.path.basename(f)[:-len(".scala")] for f in test} | {   # a spec file or class
    n for s in test.values() for n in re.findall(r"\b(?:class|object|trait)\s+(\w+Spec)\b", s)}
stale = []
for f, src in main.items():
    for m in re.finditer(r"/\*\*.*?\*/", src, flags=re.S):
        k = re.search(r"^\s*(?:/\*\*|\*)\s*Kept:.*", m.group(0), flags=re.M | re.S)
        for name in sorted(set(re.findall(r"\b\w+Spec\b", k.group(0)) if k else ()) - specs):
            stale.append((f, src.count("\n", 0, m.start() + k.start()) + 1, name))
state = lambda tag, kept: "kept" if kept else "reached" if "perfbench" in tag else "CANDIDATE"
for f, line, name, tag, kept in sorted(found):
    print(f"{f}:{line}\t{name}\t{tag}\t{state(tag, kept)}")
for f, line, name in stale:
    print(f"{f}:{line}\t{name}\tstale\tKept: names a spec src/test lacks")
open_ = sum(state(t, k) == "CANDIDATE" for *_, t, k in found)
print(f"{len(found)} listed, {open_} unclassified, {len(stale)} stale reasons", file=sys.stderr)
sys.exit(1 if open_ or stale else 0)

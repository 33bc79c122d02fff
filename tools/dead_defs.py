#!/usr/bin/env python3
"""List the definitions in src/main that nothing references.

Usage: tools/dead_defs.py [repoRoot]   (default: the current directory)

Prints `path:line: name` for every def/val/var/object/class/trait under
src/main/scala whose name occurs nowhere in src/ or perfbench/src/ except
where it is defined. Comments are not references. `override`s, `main`
methods, the objects that hold them, and the encoders Spark's Aggregator
asks for are skipped: Spark and the JVM call those. Empty output means
there is nothing left to delete.
"""
import pathlib, re, sys
from collections import Counter

root = pathlib.Path(sys.argv[1] if len(sys.argv) > 1 else ".")
CALLED = {"main", "bufferEncoder", "outputEncoder"}
DEF = re.compile(r"\b(?:def|val|var|object|class|trait)\s+([A-Za-z_]\w*)")
COMMENT = re.compile(r"/\*.*?\*/|(?:^|\s)//[^\n]*", re.S)

texts = {p: COMMENT.sub(lambda c: "\n" * c[0].count("\n"), p.read_text())
         for d in ("src", "perfbench/src") for p in sorted((root / d).rglob("*.scala"))}
uses = Counter(w for t in texts.values() for w in re.findall(r"[A-Za-z_]\w*", t))
defs = Counter(m[1] for t in texts.values() for m in DEF.finditer(t))
for p, t in texts.items():
    if not p.relative_to(root).as_posix().startswith("src/main/"):
        continue
    for m in DEF.finditer(t):
        line_start = t.rfind("\n", 0, m.start()) + 1
        if "override" in t[line_start:m.start()] or m[1] in CALLED:
            continue
        if m[0].startswith("object") and "def main(" in t:
            continue
        if uses[m[1]] == defs[m[1]]:
            print(f"{p.relative_to(root)}:{t.count(chr(10), 0, m.start()) + 1}: {m[1]}")

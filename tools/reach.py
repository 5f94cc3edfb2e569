#!/usr/bin/env python3
"""Grep-level reachability report over src/main.

    python3 tools/reach.py

Run from the repository root. Prints two sections, and gates nothing:

1. every `def` under src/main whose name appears in no OTHER src/main
   file: a candidate for deletion or for `private` (a def used only in
   its own file, by tests, reflectively or through an interface shows up
   here too — read the list, do not act on it blindly);
2. every name defined more than once in one file (overloads), with each
   line in another src/main file that mentions it qualified by the
   file's stem (`Cdxj.indexFrame` for Cdxj.scala): what an overload's
   callers look like, e.g. whether any passes the longer argument list.

Word matching only: no parsing, no types, no scopes.
"""
import glob
import os
import re
from collections import defaultdict

DEF = re.compile(r"^\s*((?:(?:private|protected)(?:\[\w+\])?|override|final|implicit|@inline)\s+)*def\s+([A-Za-z_]\w*)")


def main():
    files = sorted(glob.glob("src/main/**/*.scala", recursive=True))
    text = {f: open(f, encoding="utf-8").read() for f in files}
    defs = []  # (file, line number, name, modifiers)
    for f in files:
        for i, line in enumerate(text[f].splitlines(), 1):
            m = DEF.match(line)
            if m:
                defs.append((f, i, m.group(2), m.group(1) or ""))

    names = {name for _, _, name, _ in defs}
    seen_in = defaultdict(set)  # name -> files mentioning it as a word
    word = re.compile(r"[A-Za-z_]\w*")
    for f in files:
        for w in set(word.findall(text[f])) & names:
            seen_in[w].add(f)

    unreached = [(f, i, n) for f, i, n, mods in defs
                 if "override" not in mods and n != "main"
                 and not (seen_in[n] - {f})]
    print(f"# defs under src/main named in no other src/main file "
          f"({len(unreached)} of {len(defs)})")
    for f, i, n in unreached:
        print(f"{f}:{i}: {n}")

    per_file = defaultdict(list)
    for f, i, n, mods in defs:
        if "override" not in mods and "private" not in mods:
            per_file[(f, n)].append(i)
    print()
    print("# public names defined more than once in one file, "
          "with their mentions in other src/main files")
    for (f, n), lines in sorted(per_file.items()):
        if len(lines) < 2:
            continue
        print(f"{f}: {n} (lines {', '.join(map(str, lines))})")
        stem = os.path.splitext(os.path.basename(f))[0]
        pat = re.compile(rf"\b{re.escape(stem)}\.{re.escape(n)}\b")
        for g in sorted(seen_in[n] - {f}):
            for j, line in enumerate(text[g].splitlines(), 1):
                if pat.search(line):
                    print(f"    {g}:{j}: {line.strip()}")


if __name__ == "__main__":
    main()

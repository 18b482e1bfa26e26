#!/usr/bin/env python3
"""List src/main definitions that only specs can reach.

A public `def` or `object` in src/main/scala is reported when its name
occurs nowhere in src/main/scala or layerbench/src except on the line that
defines it. Such a name is called by no query, no main and no benchmark
workload: only src/test reaches it, or nothing does.

The check is lexical (word-boundary matches on names), so it errs towards
silence: a name shared with any other identifier counts as reached.
Overrides and `apply`/`unapply` are skipped because they are reached by
dispatch, not by name. The roots are skipped too: every object that
defines `main` (Bench, Verify, RunPipeline) and `SparkEntry.entry`, the
flagship spine that callers outside the repository invoke.

Usage: python3 tools/reach.py [repo_root]
Prints `path:line kind name` per finding and exits 0.
"""
import os
import re
import sys

ROOT = sys.argv[1] if len(sys.argv) > 1 else os.getcwd()
MAIN = os.path.join(ROOT, "src", "main", "scala")
SEARCH = [MAIN, os.path.join(ROOT, "layerbench", "src")]

DEF = re.compile(
    r"^\s*((?:(?:final|case|implicit|lazy|sealed|abstract|override|"
    r"private(?:\[\w+\])?|protected(?:\[\w+\])?)\s+)*)(def|object)\s+([A-Za-z_]\w*)")
SKIP_NAMES = {"apply", "unapply", "main", "toString", "equals", "hashCode", "entry"}


def scala_files(d):
    for dirpath, _, names in os.walk(d):
        for n in sorted(names):
            if n.endswith(".scala"):
                yield os.path.join(dirpath, n)


def strip_comments(text):
    """Blank out /* */ blocks and whole-line // comments so a doc mention is
    not a use. A trailing // may sit inside a string literal (generated
    SQL), so it is kept: the check then errs towards silence."""
    text = re.sub(r"/\*.*?\*/", lambda m: re.sub(r"[^\n]", " ", m.group(0)), text, flags=re.S)
    return re.sub(r"(?m)^[ \t]*//.*$", "", text)


def main():
    corpus = {}
    for d in SEARCH:
        if os.path.isdir(d):
            for p in scala_files(d):
                with open(p, encoding="utf-8") as f:
                    corpus[p] = strip_comments(f.read()).split("\n")

    defs = []
    for p, lines in corpus.items():
        if not p.startswith(MAIN):
            continue
        for i, line in enumerate(lines):
            m = DEF.match(line)
            if not m:
                continue
            mods, kind, name = m.groups()
            if "private" in mods or "protected" in mods or "override" in mods:
                continue
            if name in SKIP_NAMES or (kind == "object" and "def main(" in "\n".join(lines)):
                continue
            defs.append((p, i, kind, name))

    words = {}
    for p, lines in corpus.items():
        for i, line in enumerate(lines):
            for w in set(re.findall(r"[A-Za-z_]\w*", line)):
                words.setdefault(w, []).append((p, i))

    found = []
    for p, i, kind, name in defs:
        uses = [loc for loc in words.get(name, []) if loc != (p, i)]
        if not uses:
            found.append((os.path.relpath(p, ROOT), i + 1, kind, name))

    for rel, line, kind, name in sorted(found):
        print(f"{rel}:{line} {kind} {name}")
    print(f"# {len(found)} definitions reached only from src/test (or not at all)",
          file=sys.stderr)


if __name__ == "__main__":
    main()

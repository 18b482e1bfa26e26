#!/usr/bin/env python3
"""List src/main definitions that only specs can reach.

A public `def`, `object`, `class` (case classes included) or `trait` in
src/main/scala is reported when its name occurs nowhere in the code of
src/main/scala or layerbench/src except on a line that defines a member of
that name. Such a name is called by no query, no main and no benchmark
workload: only src/test reaches it, or nothing does. Comments and the text
of string literals are not code; the `$name`/`${...}` parts of an
interpolated string are, and so is a fully qualified class name in a string
(`"graft.functions.GraftExtensions"`, loaded by reflection), and so is a
kernel method name passed to `Kernel.call` (`Kernel.call(this, "compute",
...)`, called through `StaticInvoke`). On a definition line only the name
it defines is exempt: the types in a class's parameters and `extends`
clause still count as uses. Any definition line
exempts its own name, not only the definition's own line, so two objects
that each define `compact` do not count as uses of each other.

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
    r"private(?:\[\w+\])?|protected(?:\[\w+\])?)\s+)*)(def|object|class|trait)\s+([A-Za-z_]\w*)")
SKIP_NAMES = {"apply", "unapply", "main", "toString", "equals", "hashCode", "entry"}
CHAR_LIT = re.compile(r"'(?:\\u[0-9a-fA-F]{4}|\\.|[^'\\\n])'")
INTERP_NAME = re.compile(r"\$[A-Za-z_]\w*")
REFLECTED = re.compile(r'"(?:[a-z_]\w*\.)+([A-Z]\w*)"')
KERNEL_METHOD = re.compile(r'Kernel\.call\(\s*\w+\s*,\s*"([A-Za-z_]\w*)"')


def scala_files(d):
    for dirpath, _, names in os.walk(d):
        for n in sorted(names):
            if n.endswith(".scala"):
                yield os.path.join(dirpath, n)


def blank(s):
    """`s` with every character but newlines replaced by a space."""
    return re.sub(r"[^\n]", " ", s)


def code_only(text, keep_strings=False):
    """Blank out comments and the text of string and char literals so that a
    mention in a doc comment, an error message or generated SQL is not a
    use. In an interpolated string (`s"..."`, `f"..."`) the `$name` and
    `${...}` parts are code and are kept. With `keep_strings`, string
    literals are kept whole. Line structure is preserved."""
    out, i, n = [], 0, len(text)
    while i < n:
        c = text[i]
        if text.startswith("//", i):
            j = text.find("\n", i)
            j = n if j < 0 else j
            out.append(blank(text[i:j])); i = j
        elif text.startswith("/*", i):  # Scala block comments nest
            j, depth = i + 2, 1
            while j < n and depth:
                if text.startswith("/*", j): depth += 1; j += 2
                elif text.startswith("*/", j): depth -= 1; j += 2
                else: j += 1
            out.append(blank(text[i:j])); i = j
        elif c == "'":
            m = CHAR_LIT.match(text, i)
            j = m.end() if m else i + 1
            out.append(blank(text[i:j]) if m else c); i = j
        elif c == '"':
            start, mark = i, len(out)
            interp = i > 0 and (text[i - 1].isalnum() or text[i - 1] == "_")
            triple = text.startswith('"""', i)
            j = i + (3 if triple else 1)
            out.append(" " * (j - i))
            while j < n:
                if triple and text.startswith('"""', j):
                    k = j
                    while k < n and text[k] == '"':
                        k += 1
                    out.append(" " * (k - j)); j = k
                    break
                if not triple and text[j] == '"':
                    out.append(" "); j += 1
                    break
                if not triple and text[j] == "\n":  # unterminated: stop at the line end
                    break
                if not triple and text[j] == "\\" and j + 1 < n:
                    out.append(blank(text[j:j + 2])); j += 2
                elif interp and text.startswith("$$", j):
                    out.append("  "); j += 2
                elif interp and text.startswith("${", j):
                    k, depth = j + 2, 1
                    while k < n and depth:
                        depth += {"{": 1, "}": -1}.get(text[k], 0); k += 1
                    out.append(" " + text[j + 1:k]); j = k
                elif interp and text[j] == "$":
                    m = INTERP_NAME.match(text, j)
                    k = m.end() if m else j + 1
                    out.append(" " + text[j + 1:k]); j = k
                else:
                    out.append(blank(text[j])); j += 1
            if keep_strings:
                out[mark:] = [text[start:j]]
            i = j
        else:
            out.append(c); i += 1
    return "".join(out)


def main():
    corpus, reflected = {}, set()
    for d in SEARCH:
        if os.path.isdir(d):
            for p in scala_files(d):
                with open(p, encoding="utf-8") as f:
                    text = f.read()
                corpus[p] = code_only(text).split("\n")
                kept = code_only(text, keep_strings=True)
                reflected.update(REFLECTED.findall(kept))
                reflected.update(KERNEL_METHOD.findall(kept))

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
            m = DEF.match(line)
            defined = m.group(3) if m else None
            for w in set(re.findall(r"[A-Za-z_]\w*", line)) - {defined}:
                words.setdefault(w, []).append((p, i))

    found = []
    for p, i, kind, name in defs:
        if name not in words and name not in reflected:
            found.append((os.path.relpath(p, ROOT), i + 1, kind, name))

    for rel, line, kind, name in sorted(found):
        print(f"{rel}:{line} {kind} {name}")
    print(f"# {len(found)} definitions reached only from src/test (or not at all)",
          file=sys.stderr)


if __name__ == "__main__":
    main()

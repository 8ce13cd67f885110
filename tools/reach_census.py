#!/usr/bin/env python3
"""Reach census: where is each named def/val under src/main/scala used?

For every `def`, `val` and `var` defined in src/main/scala, count the
whole-word references to its name outside its own definition sites, with
comments and string literals stripped (the `$x` and `${...}` splices of an
interpolated string are kept). Each name gets one verdict:

  main       referenced in src/main/scala or perfbench/src
  test-only  referenced only in src/test/scala
  none       referenced nowhere

The census is name-based: overloads and same-named members share one
count, and a reference through reflection, a framework callback or
Scala syntax is invisible: `override` defs and `main` are skipped, and so
are `apply` and `unapply`, which call sites reach as `X(...)` and as a
`case X(...)` pattern. It lists candidates for a human decision and gates
nothing; it always exits 0.

Usage, from any directory: python3 tools/reach_census.py [--all] [filter ...]
prints the test-only/none rows (every row with --all) and totals, counting
only definitions in files whose path contains one of the filters, if given.
"""
import glob
import os
import re
import sys
from collections import Counter

MAIN_DIRS = ["src/main/scala", "perfbench/src"]
TEST_DIRS = ["src/test/scala"]
DEF_RE = re.compile(r"(?<![\w.])(override\s+(?:lazy\s+)?)?(?:lazy\s+)?"
                    r"(def|val|var)\s+([A-Za-z_]\w*)")
WORD_RE = re.compile(r"[A-Za-z_]\w*")
# reached without their name appearing at the call site
SYNTAX_CALLED = {"main", "apply", "unapply"}


def strip(src):
    """Blank out comments and string literals, keeping newlines and the
    `$x` / `${...}` splices, so line numbers survive."""
    out, i, n = [], 0, len(src)

    def blank(s):
        return re.sub(r"[^\n]", " ", s)

    while i < n:
        c = src[i]
        if src.startswith("//", i):
            j = src.find("\n", i)
            j = n if j < 0 else j
            out.append(blank(src[i:j])); i = j
        elif src.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if src.startswith("/*", j): depth += 1; j += 2
                elif src.startswith("*/", j): depth -= 1; j += 2
                else: j += 1
            out.append(blank(src[i:j])); i = j
        elif c == '"':
            interp = i > 0 and (src[i - 1].isalnum() or src[i - 1] == "_")
            quote = '"""' if src.startswith('"""', i) else '"'
            j = i + len(quote)
            out.append(" " * len(quote))
            while j < n and not src.startswith(quote, j):
                if quote == '"' and src[j] == "\\":
                    out.append(blank(src[j:j + 2])); j += 2; continue
                if interp and src.startswith("${", j):
                    depth, k = 1, j + 2
                    while k < n and depth:
                        depth += {"{": 1, "}": -1}.get(src[k], 0); k += 1
                    out.append("  " + src[j + 2:k - 1] + " "); j = k; continue
                ref = WORD_RE.match(src, j + 1) if interp and src[j] == "$" else None
                if ref:
                    out.append(" " + ref.group()); j = ref.end(); continue
                out.append(blank(src[j])); j += 1
            out.append(" " * len(quote)); i = j + len(quote)
        elif c == "'" and i + 2 < n and (src[i + 2] == "'" or src[i + 1] == "\\"):
            j = src.find("'", i + 2) + 1
            out.append(blank(src[i:j])); i = j
        else:
            out.append(c); i += 1
    return "".join(out)


def scala_files(dirs):
    return [p for d in dirs
            for p in sorted(glob.glob(f"{d}/**/*.scala", recursive=True))]


def census(filters, show_all):
    texts = {p: strip(open(p, encoding="utf-8").read())
             for p in scala_files(MAIN_DIRS + TEST_DIRS)}
    is_main = {p: any(p.startswith(d) for d in MAIN_DIRS) for p in texts}
    refs = {True: Counter(), False: Counter()}
    for p, t in texts.items():
        refs[is_main[p]].update(WORD_RE.findall(t))
    defs, def_sites = [], Counter()
    for p, t in texts.items():
        for m in DEF_RE.finditer(t):
            def_sites[(is_main[p], m.group(3))] += 1
            if p.startswith("src/main/scala") and not m.group(1) \
                    and m.group(3) not in SYNTAX_CALLED:
                defs.append((p, t.count("\n", 0, m.start()) + 1,
                             m.group(2), m.group(3)))
    verdicts = Counter()
    for p, line, kind, name in defs:
        in_main = refs[True][name] - def_sites[(True, name)]
        in_test = refs[False][name] - def_sites[(False, name)]
        v = "main" if in_main > 0 else "test-only" if in_test > 0 else "none"
        if filters and not any(f in p for f in filters):
            continue
        verdicts[v] += 1
        if show_all or v != "main":
            print(f"{v:9}  {kind} {name}  {p}:{line}  "
                  f"(main refs {in_main}, test refs {in_test})")
    print(f"# {sum(verdicts.values())} definitions: " + ", ".join(
        f"{k} {verdicts[k]}" for k in ("main", "test-only", "none")))


if __name__ == "__main__":
    os.chdir(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    args = sys.argv[1:]
    census([a for a in args if a != "--all"], "--all" in args)

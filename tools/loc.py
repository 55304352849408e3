#!/usr/bin/env python3
"""Net Scala size of the working tree against a git revision.

Usage: python3 tools/loc.py <rev>

Counts every .scala file under src/main and src/test at <rev> (read with
`git show`) and in the working tree, splits each file's lines into code,
comment and blank, and prints the change per tree plus the files whose
code changed most. A line with any code on it counts as code; a line
holding only comment text (`//`, `/* */`, scaladoc) counts as comment, so
deleting a comment never shows up as deleted code. Also prints the number
of distinct `"spark.graft.*"` option keys read under src/main on each side,
the option count a simplicity change reports. Standard library only.
"""
import os
import re
import subprocess
import sys

TREES = ("src/main", "src/test")
TOP = 10  # files listed under "largest changes"
OPTION = re.compile(r'"(spark\.graft\.[A-Za-z0-9_.]+)"')


def classify(text):
    """(code, comment) line counts of one Scala source."""
    code = comment = 0
    depth = 0          # nesting depth of /* */ (Scala block comments nest)
    triple = False     # inside a """ string
    for line in text.splitlines():
        has_code = has_comment = False
        i, n = 0, len(line)
        while i < n:
            two = line[i:i + 2]
            if depth:
                has_comment = True
                if two == "/*":
                    depth += 1
                    i += 2
                elif two == "*/":
                    depth -= 1
                    i += 2
                else:
                    i += 1
            elif triple:
                has_code = True
                if line.startswith('"""', i):
                    triple = False
                    i += 3
                else:
                    i += 1
            elif two == "//":
                has_comment = True
                break
            elif two == "/*":
                depth, has_comment = 1, True
                i += 2
            elif line.startswith('"""', i):
                triple, has_code = True, True
                i += 3
            elif line[i] == '"':
                has_code = True
                i += 1
                while i < n and line[i] != '"':
                    i += 2 if line[i] == "\\" else 1
                i += 1
            elif line[i] == "'" and (line[i + 2:i + 3] == "'" or line[i + 1:i + 2] == "\\"):
                has_code = True
                end = line.find("'", i + 3 if line[i + 1] == "\\" else i + 2)
                i = n if end < 0 else end + 1
            elif line[i].isspace():
                i += 1
            else:
                has_code = True
                i += 1
        if has_code:
            code += 1
        elif has_comment:
            comment += 1
    return code, comment


def git(*args):
    return subprocess.run(("git",) + args, check=True, capture_output=True).stdout


def at_rev(rev):
    """path -> source text of every .scala file under TREES at `rev`."""
    names = git("ls-tree", "-r", "--name-only", rev, "--", *TREES).decode().split("\n")
    return {p: git("show", f"{rev}:{p}").decode("utf-8", "replace")
            for p in names if p.endswith(".scala")}


def in_tree():
    """path -> source text of every .scala file under TREES in the working tree."""
    out = {}
    for tree in TREES:
        for d, _, files in os.walk(tree):
            for f in files:
                if f.endswith(".scala"):
                    p = os.path.join(d, f)
                    with open(p, encoding="utf-8", errors="replace") as fh:
                        out[p] = fh.read()
    return out


def options(sources):
    """Distinct spark.graft.* keys named in src/main sources."""
    return {k for p, text in sources.items() if p.startswith("src/main/")
            for k in OPTION.findall(text)}


def main():
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    rev = sys.argv[1]
    os.chdir(git("rev-parse", "--show-toplevel").decode().strip())
    old_src, new_src = at_rev(rev), in_tree()
    old = {p: classify(t) for p, t in old_src.items()}
    new = {p: classify(t) for p, t in new_src.items()}
    print(f"scala lines, working tree vs {rev}")
    print(f"{'tree':<10} {'code':>16} {'delta':>7} {'comment':>16} {'delta':>7}")
    for tree in TREES:
        def total(files, k):
            return sum(v[k] for p, v in files.items() if p.startswith(tree + "/"))
        c0, c1 = total(old, 0), total(new, 0)
        m0, m1 = total(old, 1), total(new, 1)
        print(f"{tree:<10} {c0:>7} -> {c1:<6} {c1 - c0:>+7} {m0:>7} -> {m1:<6} {m1 - m0:>+7}")
    rows = []
    for p in sorted(set(old) | set(new)):
        c0, m0 = old.get(p, (0, 0))
        c1, m1 = new.get(p, (0, 0))
        if (c0, m0) != (c1, m1):
            rows.append((c1 - c0, m1 - m0, p, p not in new, p not in old))
    rows.sort(key=lambda r: (-abs(r[0]), -abs(r[1]), r[2]))
    if rows:
        print("\nlargest changes (code, comment):")
        for dc, dm, p, gone, added in rows[:TOP]:
            tag = " (deleted)" if gone else " (new)" if added else ""
            print(f"  {dc:>+6} {dm:>+6}  {p}{tag}")
    o0, o1 = options(old_src), options(new_src)
    print(f"\nspark.graft.* options read under src/main: {len(o0)} -> {len(o1)}")
    for k in sorted(o0 - o1):
        print(f"  - {k}")
    for k in sorted(o1 - o0):
        print(f"  + {k}")


if __name__ == "__main__":
    main()

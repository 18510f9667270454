"""Code lines per Scala file: lines that are non-blank, not a `//`
comment and not inside a `/* */` or scaladoc block.

    python3 scripts/loc.py src/main/scala/graft/ops/IndexStore.scala
    python3 scripts/loc.py --rev c494fcf src/main/scala/graft/ops/*.scala
    python3 scripts/loc.py --rev c494fcf --diff src/main/scala/graft/Core.scala

A path is relative to the repository root (or absolute inside it).
`--rev` reads each file as it was at that git revision (`git show`);
`--diff` prints one row per file, that revision's count against the
working tree's, and the total change. A line with any code on it
counts, whatever comment shares it; the text of a string literal is
code, so `"//"` or `"/*"` inside one opens no comment.
"""

import argparse
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def code_lines(text):
    """Number of lines of Scala source `text` that carry code."""
    n = 0
    depth = 0       # nesting depth of /* */ (Scala block comments nest)
    triple = False  # inside a """ string, which may span lines
    for line in text.split("\n"):
        code = False
        i = 0
        while i < len(line):
            if depth:
                if line.startswith("/*", i):
                    depth += 1
                    i += 2
                elif line.startswith("*/", i):
                    depth -= 1
                    i += 2
                else:
                    i += 1
            elif triple:
                code = True
                if line.startswith('"""', i):
                    # a closing """ may be preceded by extra quotes: """a""""
                    while line.startswith('""""', i):
                        i += 1
                    triple = False
                    i += 3
                else:
                    i += 1
            elif line[i].isspace():
                i += 1
            elif line.startswith("//", i):
                break
            elif line.startswith("/*", i):
                depth = 1
                i += 2
            elif line.startswith('"""', i):
                code, triple = True, True
                i += 3
            elif line[i] == '"':
                code = True
                i += 1
                while i < len(line) and line[i] != '"':
                    i += 2 if line[i] == "\\" else 1
                i += 1
            elif line.startswith("'", i) and line[i + 2:i + 3] == "'":
                code = True  # a char literal such as '"', which opens no string
                i += 3
            elif line.startswith("'\\", i):
                code = True  # an escaped char literal such as '\'' or '\n'
                end = line.find("'", i + 3)
                i = len(line) if end < 0 else end + 1
            else:
                code = True
                i += 1
        n += code
    return n


def source(path, rev):
    rel = os.path.relpath(os.path.abspath(path), ROOT)
    if rev is None:
        with open(os.path.join(ROOT, rel), encoding="utf-8") as f:
            return f.read()
    r = subprocess.run(["git", "show", f"{rev}:{rel}"], cwd=ROOT,
                       capture_output=True, text=True)
    if r.returncode != 0:
        return None  # the file does not exist at that revision
    return r.stdout


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("paths", nargs="+")
    ap.add_argument("--rev", help="count the files as of this git revision")
    ap.add_argument("--diff", action="store_true",
                    help="print --rev's count, the working tree's and the change")
    a = ap.parse_args(argv)
    if a.diff and a.rev is None:
        ap.error("--diff needs --rev")
    total = [0, 0]
    for p in a.paths:
        old = source(p, a.rev)
        n_old = code_lines(old) if old is not None else 0
        if not a.diff:
            print(f"{n_old:,}\t{p}")
            total[0] += n_old
            continue
        new = source(p, None) if os.path.exists(p) else None
        n_new = code_lines(new) if new is not None else 0
        total[0] += n_old
        total[1] += n_new
        print(f"{n_old:,}\t{n_new:,}\t{n_new - n_old:+,}\t{p}")
    if len(a.paths) > 1:
        if a.diff:
            print(f"{total[0]:,}\t{total[1]:,}\t{total[1] - total[0]:+,}\ttotal")
        else:
            print(f"{total[0]:,}\ttotal")
    return 0


if __name__ == "__main__":
    sys.exit(main())

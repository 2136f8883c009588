#!/usr/bin/env python3
"""Count the lines of the Scala sources under src/main.

Usage: python3 tools/loc.py [--rev REV] [ROOT]

Blank lines are skipped. A line that starts with `//`, or that opens or
lies inside a `/* ... */` block, is a comment. A line inside a
triple-quoted string after its opening line is a string line. Every
other line is code. With --rev the sources are read from that git
revision of ROOT (default: the repository holding this script) instead
of the working tree. Prints `code comment string` totals, then one
line per file with --files.
"""
import argparse
import pathlib
import subprocess
import sys


def count(lines):
    code = comment = string = 0
    in_block = in_string = False
    for line in lines:
        t = line.strip()
        if not t:
            continue
        if in_string:
            string += 1
            if t.count('"""') % 2:
                in_string = False
        elif in_block:
            comment += 1
            if "*/" in t:
                in_block = False
        elif t.startswith("//"):
            comment += 1
        elif t.startswith("/*"):
            comment += 1
            in_block = "*/" not in t[2:]
        else:
            code += 1
            if t.count('"""') % 2:
                in_string = True
    return code, comment, string


def sources(root, rev):
    if rev is None:
        for p in sorted((root / "src" / "main").rglob("*.scala")):
            yield str(p.relative_to(root)), p.read_text(encoding="utf-8").splitlines()
        return
    names = subprocess.run(
        ["git", "-C", str(root), "ls-tree", "-r", "--name-only", rev, "src/main"],
        check=True, capture_output=True, text=True).stdout.split()
    for n in sorted(n for n in names if n.endswith(".scala")):
        text = subprocess.run(["git", "-C", str(root), "show", f"{rev}:{n}"],
                              check=True, capture_output=True, text=True).stdout
        yield n, text.splitlines()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("root", nargs="?", default=str(pathlib.Path(__file__).resolve().parent.parent))
    ap.add_argument("--rev", default=None)
    ap.add_argument("--files", action="store_true")
    a = ap.parse_args()
    total = [0, 0, 0]
    rows = []
    for name, lines in sources(pathlib.Path(a.root), a.rev):
        c = count(lines)
        rows.append((name, c))
        total = [x + y for x, y in zip(total, c)]
    print("code %d comment %d string %d" % tuple(total))
    if a.files:
        for name, c in rows:
            print("%6d %6d %6d  %s" % (c + (name,)))


if __name__ == "__main__":
    sys.exit(main())

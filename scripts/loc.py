#!/usr/bin/env python3
"""Count Scala code lines in src/main and src/test at a git rev and in the
working tree, and print the difference.

Usage: python3 scripts/loc.py [rev]      (rev defaults to HEAD)

A code line is a line that is neither blank nor comment-only. Comment-only
lines are `//` lines and the lines of a block comment (`/* ... */`,
including scaladoc) that opens at the start of a line; a line that carries
code after a closing `*/` counts as code. Run it from anywhere inside the
repository.
"""
import os
import subprocess
import sys

TREES = ("src/main", "src/test")


def code_lines(text):
    n = 0
    in_block = False
    for raw in text.splitlines():
        line = raw.strip()
        if in_block:
            end = line.find("*/")
            if end < 0:
                continue
            in_block = False
            line = line[end + 2:].strip()
        if line.startswith("/*"):
            end = line.find("*/", 2)
            if end < 0:
                in_block = True
                continue
            line = line[end + 2:].strip()
        if line and not line.startswith("//"):
            n += 1
    return n


def git(root, *args):
    return subprocess.run(("git", "-C", root) + args, check=True,
                          capture_output=True, text=True).stdout


def count_rev(root, rev):
    out = {}
    for tree in TREES:
        names = [p for p in git(root, "ls-tree", "-r", "--name-only", rev,
                                "--", tree).splitlines()
                 if p.endswith(".scala")]
        out[tree] = sum(code_lines(git(root, "show", f"{rev}:{p}"))
                        for p in names)
    return out


def count_worktree(root):
    out = {}
    for tree in TREES:
        total = 0
        for d, _, files in os.walk(os.path.join(root, tree)):
            for f in files:
                if f.endswith(".scala"):
                    with open(os.path.join(d, f), encoding="utf-8") as fh:
                        total += code_lines(fh.read())
        out[tree] = total
    return out


def main():
    rev = sys.argv[1] if len(sys.argv) > 1 else "HEAD"
    root = subprocess.run(("git", "rev-parse", "--show-toplevel"), check=True,
                          capture_output=True, text=True).stdout.strip()
    short = git(root, "rev-parse", "--short", rev).strip()
    base, work = count_rev(root, rev), count_worktree(root)
    print(f"{'':12}" + "".join(f"{t:>12}" for t in TREES))
    print(f"{short:12}" + "".join(f"{base[t]:>12}" for t in TREES))
    print(f"{'worktree':12}" + "".join(f"{work[t]:>12}" for t in TREES))
    print(f"{'delta':12}" + "".join(f"{work[t] - base[t]:>+12}" for t in TREES))


if __name__ == "__main__":
    main()

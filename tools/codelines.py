#!/usr/bin/env python3
"""Count Scala code lines under src/main: lines that hold something
other than whitespace and comments.

    python3 tools/codelines.py                 # total, then per file
    python3 tools/codelines.py --against HEAD~1  # also the net change

`git diff --stat` counts a deleted comment line as a removed line; this
counter does not, so a net-lines figure read from it is code only.
Block comments (scaladoc included), line comments and blank lines are
skipped; a line with code before or after a comment counts once.
String literals (plain and triple-quoted) are skipped over, so `//`
inside "hdfs://..." is not taken for a comment.
"""

import argparse
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC = "src/main"


def code_lines(text):
    """Number of lines of `text` that carry code outside comments."""
    n = 0
    depth = 0          # block-comment nesting (Scala nests them)
    in_str = None      # None, '"' or '"""'
    for line in text.splitlines():
        code = False
        i = 0
        while i < len(line):
            if depth:
                if line.startswith("*/", i):
                    depth -= 1
                    i += 2
                elif line.startswith("/*", i):
                    depth += 1
                    i += 2
                else:
                    i += 1
            elif in_str == '"""':
                code = True
                if line.startswith('"""', i):
                    in_str = None
                    i += 3
                else:
                    i += 1
            elif in_str == '"':
                code = True
                if line[i] == "\\":
                    i += 2
                elif line[i] == '"':
                    in_str = None
                    i += 1
                else:
                    i += 1
            elif line.startswith("//", i):
                break
            elif line.startswith("/*", i):
                depth += 1
                i += 2
            elif line.startswith('"""', i):
                in_str = '"""'
                code = True
                i += 3
            elif line[i] == '"':
                in_str = '"'
                code = True
                i += 1
            elif line[i] == "'" and line.startswith("'", i + 2):
                code = True    # a char literal such as '"'
                i += 3
            elif line[i] == "'" and line.startswith("\\", i + 1) \
                    and line.startswith("'", i + 3):
                code = True    # an escaped char literal such as '\n'
                i += 4
            else:
                if not line[i].isspace():
                    code = True
                i += 1
        if in_str == '"':
            in_str = None  # a plain string never spans lines
        if code:
            n += 1
    return n


def counts_at_worktree():
    out = {}
    for dirpath, _, files in os.walk(os.path.join(ROOT, SRC)):
        for f in files:
            if f.endswith(".scala"):
                p = os.path.join(dirpath, f)
                with open(p, encoding="utf-8") as fh:
                    out[os.path.relpath(p, ROOT)] = code_lines(fh.read())
    return out


def counts_at_rev(rev):
    def git(*args):
        return subprocess.run(["git", "-C", ROOT, *args], check=True,
                              capture_output=True, text=True).stdout
    out = {}
    for p in git("ls-tree", "-r", "--name-only", rev, "--", SRC).split():
        if p.endswith(".scala"):
            out[p] = code_lines(git("show", f"{rev}:{p}"))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--against", metavar="REV",
                    help="also print the net change from this git rev")
    args = ap.parse_args()
    now = counts_at_worktree()
    print(f"total\t{sum(now.values())}")
    for p in sorted(now):
        print(f"{now[p]}\t{p}")
    if args.against:
        then = counts_at_rev(args.against)
        print(f"\nnet against {args.against}\t"
              f"{sum(now.values()) - sum(then.values()):+d}"
              f"\t({sum(then.values())} -> {sum(now.values())})")
        for p in sorted(set(now) | set(then)):
            d = now.get(p, 0) - then.get(p, 0)
            if d:
                print(f"{d:+d}\t{p}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Count the code lines of the main Scala sources.

    python3 dev/ncloc.py [--against REV]

A code line is a non-blank line of a `src/main` `.scala` file with
something outside `//` and `/* */` comments (block comments nest, as in
Scala; comment markers inside string and character literals do not count).
Prints the count per file and the total. With `--against REV` the old side
is read from git at REV (`git show`), and each line shows old, new and the
difference; files on one side only count 0 on the other."""
import argparse
import os
import subprocess
import sys

ROOT = "src/main"


def code_lines(text):
    """The number of lines of `text` with code outside comments."""
    n, depth, in_str, triple = 0, 0, False, False
    for line in text.split("\n"):
        code, i = False, 0
        while i < len(line):
            c, two = line[i], line[i:i + 2]
            if depth:
                if two == "/*":
                    depth, i = depth + 1, i + 2
                elif two == "*/":
                    depth, i = depth - 1, i + 2
                else:
                    i += 1
                continue
            if in_str:
                code = True
                if triple:
                    if line.startswith('"""', i):
                        in_str, triple = False, False
                        # a closing triple quote may be followed by more quotes
                        i += 3
                        while i < len(line) and line[i] == '"':
                            i += 1
                        continue
                elif c == "\\":
                    i += 1
                elif c == '"':
                    in_str = False
                i += 1
                continue
            if two == "//":
                break
            if two == "/*":
                depth, i = 1, i + 2
                continue
            if not c.isspace():
                code = True
            if line.startswith('"""', i):
                in_str, triple, i = True, True, i + 3
                continue
            if c == '"':
                in_str = True
            elif c == "'" and i + 2 < len(line) and line[i + 2] == "'":
                i += 2  # a one-character literal such as '"' or '/'
            elif c == "'" and line.startswith("'\\", i):
                end = line.find("'", i + 3)
                i = end if end > 0 else i
            i += 1
        if in_str and not triple:
            in_str = False  # a plain string literal never spans lines
        n += code
    return n


def git(*args):
    return subprocess.run(["git", *args], check=True, capture_output=True,
                          text=True).stdout


def counts_at(rev):
    files = [f for f in git("ls-tree", "-r", "--name-only", rev, "--", ROOT).split()
             if f.endswith(".scala")]
    return {f: code_lines(git("show", f"{rev}:{f}")) for f in files}


def counts_here():
    out = {}
    for d, _, names in os.walk(ROOT):
        for name in names:
            if name.endswith(".scala"):
                p = os.path.join(d, name)
                with open(p, encoding="utf-8") as fh:
                    out[p] = code_lines(fh.read())
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--against", metavar="REV",
                    help="git revision to compare the working tree with")
    args = ap.parse_args()
    new = counts_here()
    if not args.against:
        for f in sorted(new):
            print(f"{new[f]:7d}  {f}")
        print(f"{sum(new.values()):7d}  total")
        return 0
    old = counts_at(args.against)
    for f in sorted(set(old) | set(new)):
        a, b = old.get(f, 0), new.get(f, 0)
        print(f"{a:7d} {b:7d} {b - a:+7d}  {f}")
    a, b = sum(old.values()), sum(new.values())
    print(f"{a:7d} {b:7d} {b - a:+7d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main())

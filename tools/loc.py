#!/usr/bin/env python3
"""Count the Scala code lines of two source trees, per directory.

A code line is a line with anything besides whitespace and comments on
it: `//` comments and `/* */` comments (which nest in Scala) are skipped,
and so are blank lines. Text inside string literals ("...", triple-quoted
and char literals) is code, so a `//` or `/*` inside a string does not
start a comment.

    python3 tools/loc.py OLD_TREE NEW_TREE [SUBDIR]

counts every `*.scala` file under `SUBDIR` (default `src/main`) of each
tree and prints one line per directory, then the totals:

    dir  old  new  delta
"""
import os
import sys


def code_lines(text):
    """The number of code lines in one Scala source."""
    depth = 0          # /* */ nesting
    triple = False     # inside a """ string
    count = 0
    for line in text.splitlines():
        code = False
        i, n = 0, len(line)
        while i < n:
            c, two = line[i], line[i:i + 2]
            if depth:
                if two == "/*":
                    depth, i = depth + 1, i + 2
                elif two == "*/":
                    depth, i = depth - 1, i + 2
                else:
                    i += 1
            elif triple:
                code = True
                if line.startswith('"""', i):
                    triple, i = False, i + 3
                else:
                    i += 1
            elif two == "//":
                break
            elif two == "/*":
                depth, i = 1, i + 2
            elif line.startswith('"""', i):
                code, triple, i = True, True, i + 3
            elif c == '"':
                code, i = True, i + 1
                while i < n and line[i] != '"':
                    i += 2 if line[i] == "\\" else 1
                i += 1
            elif c == "'" and line.startswith("\\", i + 1):
                code, i = True, line.find("'", i + 3) + 1 or n
            elif c == "'" and line.startswith("'", i + 2):
                code, i = True, i + 3
            else:
                code = code or not c.isspace()
                i += 1
        count += code
    return count


def per_dir(tree, subdir):
    """{directory relative to `tree`: code lines of its own *.scala files}."""
    totals = {}
    for root, _, files in os.walk(os.path.join(tree, subdir)):
        for f in files:
            if f.endswith(".scala"):
                with open(os.path.join(root, f), encoding="utf-8") as src:
                    d = os.path.relpath(root, tree)
                    totals[d] = totals.get(d, 0) + code_lines(src.read())
    return totals


def main(argv):
    if len(argv) not in (3, 4):
        sys.exit(__doc__)
    subdir = argv[3] if len(argv) == 4 else "src/main"
    old, new = per_dir(argv[1], subdir), per_dir(argv[2], subdir)
    dirs = sorted(set(old) | set(new))
    width = max([len(d) for d in dirs] + [5])
    print(f"{'dir':<{width}} {'old':>7} {'new':>7} {'delta':>7}")
    for d in dirs:
        a, b = old.get(d, 0), new.get(d, 0)
        print(f"{d:<{width}} {a:>7} {b:>7} {b - a:>+7}")
    a, b = sum(old.values()), sum(new.values())
    print(f"{'total':<{width}} {a:>7} {b:>7} {b - a:>+7}")


if __name__ == "__main__":
    main(sys.argv)

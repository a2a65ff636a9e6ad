#!/usr/bin/env python3
"""Count the code lines of Scala files at a git revision and in the working tree.

    python3 tools/code_lines.py REV PATH [PATH ...]

A code line is a line that holds something other than whitespace outside
comments: blank lines, `//` lines and lines inside `/* ... */` blocks
(scaladoc included, nested blocks as Scala nests them) do not count, and a
line with code before or after a comment does. Comment markers inside
string and character literals are code.

Each PATH is a Scala file or a directory searched for `*.scala` files,
relative to the current directory. For every file found at REV or in the
working tree (untracked files included) it prints the count at REV, the count
in the working tree and the change, then the totals. A file missing on one
side counts 0 there.
"""
import argparse
import subprocess
import sys
from pathlib import Path


def code_lines(text):
    """The number of code lines in Scala source `text`."""
    count = 0
    depth = 0       # open /* */ blocks
    quote = None    # '"' or '"""' while inside a string literal
    for line in text.splitlines():
        code = False
        i, n = 0, len(line)
        while i < n:
            if depth:
                if line.startswith("/*", i):
                    depth, i = depth + 1, i + 2
                elif line.startswith("*/", i):
                    depth, i = depth - 1, i + 2
                else:
                    i += 1
            elif quote:
                code = True
                if quote == '"' and line[i] == "\\":
                    i += 2
                elif line.startswith(quote, i):
                    i += len(quote)
                    quote = None
                else:
                    i += 1
            elif line.startswith("//", i):
                break
            elif line.startswith("/*", i):
                depth, i = 1, i + 2
            elif line[i].isspace():
                i += 1
            else:
                code = True
                if line.startswith('"""', i):
                    quote, i = '"""', i + 3
                elif line[i] == '"':
                    quote, i = '"', i + 1
                elif line[i] == "'" and line.startswith("'\\", i):
                    i = line.find("'", i + 3) + 1 or n   # '\n', 'A'
                elif line[i] == "'" and line.startswith("'", i + 2):
                    i += 3                               # 'x'
                else:
                    i += 1
        if quote == '"':
            quote = None  # a single-quoted string ends with its line
        count += code
    return count


def git(root, *args):
    return subprocess.run(["git", "-C", str(root), *args], check=True,
                          capture_output=True, text=True).stdout


def scala_files_at(root, rev, paths):
    """Repository-relative names of the Scala files under `paths` at `rev`."""
    names = git(root, "ls-tree", "-r", "--name-only", rev, "--", *paths).splitlines()
    return {name for name in names if name.endswith(".scala")}


def scala_files_in_tree(root, paths):
    """Repository-relative names of the Scala files under `paths` on disk."""
    found = set()
    for p in paths:
        path = root / p
        files = [path] if path.is_file() else path.rglob("*.scala") if path.is_dir() else []
        found.update(str(f.relative_to(root)) for f in files if f.suffix == ".scala")
    return found


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("rev")
    ap.add_argument("paths", nargs="+")
    args = ap.parse_args(argv)
    root = Path(git(Path.cwd(), "rev-parse", "--show-toplevel").strip())
    rel = [str(Path(p).resolve().relative_to(root)) for p in args.paths]
    at_rev = scala_files_at(root, args.rev, rel)
    in_tree = scala_files_in_tree(root, rel)
    rows = []
    for name in sorted(at_rev | in_tree):
        before = code_lines(git(root, "show", f"{args.rev}:{name}")) if name in at_rev else 0
        after = code_lines((root / name).read_text()) if name in in_tree else 0
        rows.append((name, before, after))
    rows.append(("total", sum(r[1] for r in rows), sum(r[2] for r in rows)))
    width = max(len(r[0]) for r in rows)
    rev = args.rev[:12]
    print(f"{'file':<{width}}  {rev:>12}  {'tree':>7}  {'change':>7}")
    for name, before, after in rows:
        print(f"{name:<{width}}  {before:>12}  {after:>7}  {after - before:>+7}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

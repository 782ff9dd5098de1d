#!/usr/bin/env python3
"""Count code, comment and blank lines of the Scala/Java sources.

Usage: python3 tools/loc.py [--rev REV] [FILE ...]

Prints one row for src/main and one for src/test (every *.scala and
*.java file below them), then one row per FILE given on the command
line. With --rev, counts the same paths as they are at git revision
REV (read through `git ls-tree` and `git show`, not the working tree);
a FILE absent at REV counts as zero. A code line is a non-blank line with at least one character
outside `//` and `/* ... */` comments (block comments nest, as in
Scala; comment markers inside string and character literals are not
comments). A comment line is a non-blank line that is not code. Run it
from the repository root, before and after a change, so every
simplification reports the same count.
"""
import argparse
import os
import subprocess
import sys


def classify(text):
    """(code, comment, blank) line counts of one source text."""
    code = comment = blank = 0
    depth = 0          # block comment nesting
    in_str = None      # None, '"', '"""' or "'"
    lines = text.split("\n")
    if lines[-1] == "":
        lines.pop()  # the text's final newline opens no line
    for line in lines:
        has_code = False
        has_comment = depth > 0
        i, n = 0, len(line)
        while i < n:
            if depth > 0:
                if line.startswith("*/", i):
                    depth -= 1
                    i += 2
                elif line.startswith("/*", i):
                    depth += 1
                    i += 2
                else:
                    if not line[i].isspace():
                        has_comment = True
                    i += 1
                continue
            if in_str:
                has_code = True
                if in_str == '"""':
                    if line.startswith('"""', i):
                        in_str = None
                        i += 3
                    else:
                        i += 1
                elif line[i] == "\\":
                    i += 2
                elif line[i] == in_str:
                    in_str = None
                    i += 1
                else:
                    i += 1
                continue
            c = line[i]
            if line.startswith("//", i):
                has_comment = True
                break
            if line.startswith("/*", i):
                depth += 1
                has_comment = True
                i += 2
            elif line.startswith('"""', i):
                in_str = '"""'
                has_code = True
                i += 3
            elif c == '"':
                in_str = '"'
                has_code = True
                i += 1
            elif c == "'" and (line[i + 2:i + 3] == "'" or line[i + 1:i + 2] == "\\"):
                in_str = "'"   # a character literal, not a Scala symbol
                has_code = True
                i += 1
            else:
                if not c.isspace():
                    has_code = True
                i += 1
        if in_str in ('"', "'"):
            in_str = None  # single-line literals never span lines
        if has_code:
            code += 1
        elif has_comment:
            comment += 1
        else:
            blank += 1
    return code, comment, blank


def git(*args):
    return subprocess.run(["git", *args], check=True, capture_output=True).stdout


def count_file(path, rev=None):
    if rev is None:
        with open(path, encoding="utf-8") as f:
            return classify(f.read())
    return classify(git("show", f"{rev}:./{path}").decode("utf-8"))


def sources(root):
    for d, _, files in sorted(os.walk(root)):
        for name in sorted(files):
            if name.endswith((".scala", ".java")):
                yield os.path.join(d, name)


def sources_at(rev, root):
    """The *.scala and *.java files below `root` (or `root` itself) at `rev`."""
    names = git("ls-tree", "-r", "--name-only", rev, "--", root).decode("utf-8")
    return [n for n in names.splitlines() if n == root or n.endswith((".scala", ".java"))]


def row(label, paths, rev=None):
    total = [0, 0, 0]
    for p in paths:
        for k, v in enumerate(count_file(p, rev)):
            total[k] += v
    print(f"{label:<60} {total[0]:>7} {total[1]:>8} {total[2]:>6}")


def main(argv):
    ap = argparse.ArgumentParser(description="Count code, comment and blank lines.")
    ap.add_argument("--rev", help="count the paths as they are at this git revision")
    ap.add_argument("files", nargs="*", metavar="FILE")
    args = ap.parse_args(argv)
    if args.rev is not None and subprocess.run(
            ["git", "rev-parse", "--verify", "--quiet", f"{args.rev}^{{commit}}"],
            capture_output=True).returncode != 0:
        ap.error(f"not a git revision: {args.rev}")
    print(f"{'':<60} {'code':>7} {'comment':>8} {'blank':>6}")
    for root in ("src/main", "src/test"):
        paths = list(sources(root)) if args.rev is None else sources_at(args.rev, root)
        row(root, paths, args.rev)
    for path in args.files:
        paths = [path] if args.rev is None else sources_at(args.rev, path)
        row(path, paths, args.rev)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

#!/usr/bin/env python3
"""Count code, comment and blank lines of the Scala/Java sources.

Usage: python3 tools/loc.py [FILE ...]

Prints one row for src/main and one for src/test (every *.scala and
*.java file below them), then one row per FILE given on the command
line. A code line is a non-blank line with at least one character
outside `//` and `/* ... */` comments (block comments nest, as in
Scala; comment markers inside string and character literals are not
comments). A comment line is a non-blank line that is not code. Run it
from the repository root, before and after a change, so every
simplification reports the same count.
"""
import os
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


def count_file(path):
    with open(path, encoding="utf-8") as f:
        return classify(f.read())


def sources(root):
    for d, _, files in sorted(os.walk(root)):
        for name in sorted(files):
            if name.endswith((".scala", ".java")):
                yield os.path.join(d, name)


def row(label, paths):
    total = [0, 0, 0]
    for p in paths:
        for k, v in enumerate(count_file(p)):
            total[k] += v
    print(f"{label:<60} {total[0]:>7} {total[1]:>8} {total[2]:>6}")


def main(argv):
    print(f"{'':<60} {'code':>7} {'comment':>8} {'blank':>6}")
    for root in ("src/main", "src/test"):
        row(root, list(sources(root)))
    for path in argv:
        row(path, [path])
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

#!/usr/bin/env python3
"""Code lines per directory.

Usage: python3 scripts/sloc.py <dir>...

For each directory (searched recursively) it prints the number of code
lines in its `.scala` and `.java` files, then the total: a code line is
a line that still holds a non-blank character once `//` line comments
and `/* */` block comments (nested, as Scala nests them) are removed.
Comment markers inside string and character literals are not comments.
Deleting a comment therefore never reads as a smaller program, which is
what a before/after table of a simplification needs.
"""
import sys
from pathlib import Path

EXTENSIONS = (".scala", ".java")


def code_lines(text):
    """The number of lines of `text` with code outside comments."""
    count = 0
    depth = 0          # block-comment nesting depth
    string = None      # '"', '"""' or None
    for line in text.splitlines():
        code = False
        i, n = 0, len(line)
        while i < n:
            c = line[i]
            if depth:
                if line.startswith("/*", i):
                    depth += 1
                    i += 2
                elif line.startswith("*/", i):
                    depth -= 1
                    i += 2
                else:
                    i += 1
                continue
            if string == '"""':
                code = code or not c.isspace()
                if line.startswith('"""', i):
                    string = None
                    i += 3
                else:
                    i += 1
                continue
            if string == '"':
                code = True
                if c == "\\":
                    i += 2
                elif c == '"':
                    string = None
                    i += 1
                else:
                    i += 1
                continue
            if line.startswith("//", i):
                break
            if line.startswith("/*", i):
                depth = 1
                i += 2
                continue
            if line.startswith('"""', i):
                string = '"""'
                code = True
                i += 3
                continue
            if c == '"':
                string = '"'
                code = True
                i += 1
                continue
            if c == "'":
                # a character literal ('"', '\'', 'A'); any other
                # quote (a Scala symbol) is plain code
                close = -1
                if line[i + 1:i + 2] == "\\":
                    close = line.find("'", i + 3)
                elif line[i + 2:i + 3] == "'":
                    close = i + 2
                i = close + 1 if close != -1 else i + 1
                code = True
                continue
            if not c.isspace():
                code = True
            i += 1
        if string == '"':
            string = None  # a single-quoted string never spans lines
        if code:
            count += 1
    return count


def dir_lines(root):
    """Code lines of every source file under `root`."""
    return sum(code_lines(p.read_text(encoding="utf-8", errors="replace"))
               for p in sorted(Path(root).rglob("*"))
               if p.is_file() and p.suffix in EXTENSIONS)


def main(argv):
    if not argv:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    total = 0
    for d in argv:
        if not Path(d).is_dir():
            print(f"not a directory: {d}", file=sys.stderr)
            return 2
        n = dir_lines(d)
        total += n
        print(f"{n:8d}  {d}")
    if len(argv) > 1:
        print(f"{total:8d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

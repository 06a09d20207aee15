#!/usr/bin/env python3
"""Count code lines and repeated-window lines in Scala sources.

Usage (from the repo root):
    python3 tools/dup_windows.py

For every *.scala file under src/main/scala, in sorted path order, the
tool:

1. strips comments (`//` to end of line, `/* ... */` blocks, nested as in
   Scala) while leaving string literals (`"..."`, `\"\"\"...\"\"\"`) and
   character literals intact, so `file://` inside a string is code;
2. drops blank lines and normalizes each remaining line by trimming it
   and collapsing every run of whitespace to one space;
3. slides a window of 6 consecutive normalized lines over
   the file. A window whose text already occurred at an earlier position
   (same file or an earlier file) is a repeat; every line inside a repeat
   window is counted once as "repeated".

It prints one tab-separated row per file (`code` = non-comment,
non-blank lines; `repeated` = lines covered by repeat windows), then a
`TOTAL` row, then a `TEST` row with the code lines of every *.scala file
under src/test/scala (counted the same way; no repeat scan), so code moved
from main into test scope shows in the numbers. The output depends only on
the files' contents.
"""
import hashlib
import os


def strip_comments(src):
    """Return `src` with Scala comments replaced by spaces (newlines kept)."""
    out = []
    i, n = 0, len(src)
    depth = 0  # block-comment nesting depth
    while i < n:
        c = src[i]
        if depth:
            if src.startswith("/*", i):
                depth += 1
                out.append("  ")
                i += 2
            elif src.startswith("*/", i):
                depth -= 1
                out.append("  ")
                i += 2
            else:
                out.append("\n" if c == "\n" else " ")
                i += 1
        elif src.startswith("/*", i):
            depth = 1
            out.append("  ")
            i += 2
        elif src.startswith("//", i):
            j = src.find("\n", i)
            j = n if j < 0 else j
            out.append(" " * (j - i))
            i = j
        elif src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':  # """...""""" closes on the last quotes
                j += 1
            out.append(src[i:j])
            i = j
        elif c == '"':
            j = i + 1
            while j < n and src[j] != '"' and src[j] != "\n":
                j += 2 if src[j] == "\\" else 1
            j = min(j + 1, n)
            out.append(src[i:j])
            i = j
        elif c == "'" and i + 2 < n and (src[i + 2] == "'" or
                                         (src[i + 1] == "\\" and i + 3 < n and src[i + 3] == "'")):
            j = i + (4 if src[i + 1] == "\\" else 3)
            out.append(src[i:j])
            i = j
        else:
            out.append(c)
            i += 1
    return "".join(out)


def code_lines(path):
    with open(path, encoding="utf-8") as f:
        text = strip_comments(f.read())
    return [" ".join(line.split()) for line in text.split("\n") if line.strip()]


ROOT = "src/main/scala"
TEST_ROOT = "src/test/scala"
WINDOW = 6


def scala_files(root):
    return sorted(
        os.path.join(d, f)
        for d, _, files in os.walk(root) for f in files if f.endswith(".scala"))


def scan():
    paths = scala_files(ROOT)
    seen = set()
    rows = []
    for path in paths:
        lines = code_lines(path)
        covered = [False] * len(lines)
        for k in range(len(lines) - WINDOW + 1):
            key = hashlib.sha1("\n".join(lines[k:k + WINDOW]).encode()).digest()
            if key in seen:
                for j in range(k, k + WINDOW):
                    covered[j] = True
            else:
                seen.add(key)
        rows.append((os.path.relpath(path, ROOT), len(lines), sum(covered)))
    return rows


def main():
    rows = scan()
    print("file\tcode\trepeated")
    for path, code, rep in rows:
        print(f"{path}\t{code}\t{rep}")
    print(f"TOTAL\t{sum(r[1] for r in rows)}\t{sum(r[2] for r in rows)}")
    print(f"TEST\t{sum(len(code_lines(p)) for p in scala_files(TEST_ROOT))}\t-")


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Count copied code: lines inside runs of >= 5 identical consecutive lines.

    python3 tools/dup_lines.py [--show] DIR_OR_FILE...

Each line is stripped of surrounding whitespace. Blank lines, comment
lines, lines of brackets only, every line of a triple-quoted string (the
oracle SQL and generated Java, from the line that opens it to the line
that closes it) and `import`/`package` lines are dropped before the
scan. A window of 5 consecutive kept lines that occurs at two or more
places, in one file or across files, marks each of its lines as copied;
each copied line is counted once. The script reads `.scala` files and
prints the copied-line count per file (largest first) and the total.
`--show` also prints each copied run with its line numbers.
"""
import os
import re
import sys
from collections import defaultdict

WINDOW = 5
BRACKETS = re.compile(r"^[\s(){}\[\],;]*$")


def kept_lines(path):
    """(line number, stripped text) of every line the scan compares."""
    out, in_string = [], False
    with open(path, encoding="utf-8") as f:
        for no, raw in enumerate(f, 1):
            line = raw.strip()
            quotes = line.count('"""')
            if in_string:
                if quotes % 2 == 1:
                    in_string = False
                continue
            if quotes % 2 == 1:
                in_string = True
                continue
            if (not line or BRACKETS.match(line)
                    or line.startswith(("//", "/*", "*", "import ", "package "))):
                continue
            out.append((no, line))
    return out


def scala_files(roots):
    for root in roots:
        if os.path.isfile(root):
            yield root
            continue
        for d, _, names in sorted(os.walk(root)):
            for n in sorted(names):
                if n.endswith(".scala"):
                    yield os.path.join(d, n)


def main(argv):
    show = "--show" in argv
    roots = [a for a in argv if not a.startswith("--")] or ["src/main/scala"]
    files = {p: kept_lines(p) for p in scala_files(roots)}
    where = defaultdict(list)
    for p, lines in files.items():
        for i in range(len(lines) - WINDOW + 1):
            key = tuple(t for _, t in lines[i:i + WINDOW])
            where[key].append((p, i))
    copied = defaultdict(set)
    for spots in where.values():
        if len(spots) > 1:
            for p, i in spots:
                copied[p].update(range(i, i + WINDOW))
    total = 0
    for p, idx in sorted(copied.items(), key=lambda kv: (-len(kv[1]), kv[0])):
        total += len(idx)
        print(f"{len(idx):5d}  {p}")
        if show:
            lines, run = files[p], []
            for i in sorted(idx) + [None]:
                if run and (i is None or i != run[-1] + 1):
                    print(f"       lines {lines[run[0]][0]}-{lines[run[-1]][0]}: "
                          f"{lines[run[0]][1][:70]}")
                    run = []
                if i is not None:
                    run.append(i)
    print(f"{total:5d}  total")


if __name__ == "__main__":
    main(sys.argv[1:])

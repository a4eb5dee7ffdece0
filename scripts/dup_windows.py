#!/usr/bin/env python3
"""Count repeated 5-line windows in the main Scala sources.

Usage: python3 scripts/dup_windows.py [ROOT]

Reads every `.scala` file under ROOT/src/main (ROOT defaults to the
checkout holding this script) in sorted path order and strips all
whitespace from each line. A line counts when the 5-line window it
ends (that line and the 4 before it, in the same file) has already
been seen, earlier in that file or in an earlier file. Prints the
total, then the count for each file that has any, largest first.

The count measures hand-copied code: a fragment pasted N times adds
about (N-1) * (length - 4) lines.
"""
import os
import re
import sys

WINDOW = 5


def scala_files(root):
    main = os.path.join(root, "src", "main")
    out = []
    for d, _, names in os.walk(main):
        out += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(out)


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))
    seen = set()
    per_file = {}
    for path in scala_files(root):
        with open(path, encoding="utf-8") as f:
            lines = [re.sub(r"\s+", "", ln) for ln in f]
        hits = 0
        for i in range(WINDOW - 1, len(lines)):
            w = tuple(lines[i - WINDOW + 1:i + 1])
            if w in seen:
                hits += 1
            else:
                seen.add(w)
        if hits:
            per_file[os.path.relpath(path, root)] = hits
    print(sum(per_file.values()))
    for path, n in sorted(per_file.items(), key=lambda kv: (-kv[1], kv[0])):
        print(f"{n:6d}  {path}")


if __name__ == "__main__":
    main()

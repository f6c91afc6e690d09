#!/usr/bin/env python3
"""Lists the code that is copied by hand inside the query packs.

Scans src/main/scala/graft/queries for windows of `width` consecutive
lines (default 6) whose whitespace-normalised text occurs more than once.
Windows made only of comments, blank lines and package/import lines
are skipped. Overlapping repeated windows in one file merge into one
block; blocks that share a window form one group of copies. For each
copy the report names the file, the line range and the owning row (the
registry row, or the pack-level val/def, whose definition the block
starts in). Usage:

    python3 tools/dup_windows.py [width]

The last line is the total number of lines that lie in a repeated window.
"""
import re
import sys
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent / "src/main/scala/graft/queries"
ROW = re.compile(r'Query(?:\.noOracle)?\(\s*"(\w+)"')
MEMBER = re.compile(r"^  (?:private\[\w+\] )?(?:lazy )?(?:val|def|object) (\w+)")


def norm(line: str) -> str:
    return " ".join(line.split())


def is_boilerplate(n: str) -> bool:
    return (n == "" or n.startswith(("//", "/*", "*", "package ", "import ")))


def owners(lines):
    """Owner of each line: the latest row or pack member opened above it."""
    out, cur = [], "-"
    for line in lines:
        m = ROW.search(line) or MEMBER.match(line)
        if m:
            cur = m.group(1)
        out.append(cur)
    return out


def main(width: int) -> int:
    files = {p.name: p.read_text().splitlines() for p in sorted(ROOT.glob("*.scala"))}
    where = defaultdict(list)
    for name, lines in files.items():
        ns = [norm(l) for l in lines]
        for i in range(len(ns) - width + 1):
            key = tuple(ns[i:i + width])
            if not all(is_boilerplate(n) for n in key):
                where[key].append((name, i))
    repeated = {k: v for k, v in where.items() if len(v) > 1}

    # blocks: maximal runs of repeated window starts in one file
    starts = defaultdict(set)
    for occ in repeated.values():
        for name, i in occ:
            starts[name].add(i)
    blocks, block_of = [], {}
    for name in files:
        run = None
        for i in sorted(starts[name]):
            if run and i == run[2] + 1:
                run[2] = i
            else:
                run = [name, i, i]
                blocks.append(run)
            block_of[(name, i)] = len(blocks) - 1

    # groups: blocks linked by a shared repeated window (union-find)
    parent = list(range(len(blocks)))

    def find(b):
        while parent[b] != b:
            parent[b] = parent[parent[b]]
            b = parent[b]
        return b

    for occ in repeated.values():
        first = find(block_of[occ[0]])
        for pos in occ[1:]:
            parent[find(block_of[pos])] = first
    groups = defaultdict(list)
    for b, blk in enumerate(blocks):
        groups[find(b)].append(blk)

    own = {name: owners(lines) for name, lines in files.items()}
    total = 0
    for members in sorted(groups.values(), key=lambda g: -sum(b[2] - b[1] + width for b in g)):
        lines = sum(b[2] - b[1] + width for b in members)
        total += lines
        print(f"-- {len(members)} copies, {lines} lines")
        for name, i, j in members:
            lo, hi = i + 1, j + width
            a, z = own[name][lo - 1], own[name][hi - 1]
            print(f"   {name}:{lo}-{hi}  {a if a == z else a + '..' + z}")
    print(f"== {total} duplicated lines in {len(groups)} groups "
          f"(width {width})")
    return 0


if __name__ == "__main__":
    if len(sys.argv) > 2:
        sys.exit(__doc__)
    sys.exit(main(int(sys.argv[1]) if len(sys.argv) == 2 else 6))

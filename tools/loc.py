#!/usr/bin/env python3
"""Count Scala code lines per file at two git revisions.

    python3 tools/loc.py <rev-a> <rev-b> [paths...]

A code line is a line that still holds a non-blank character once
`//` comments and `/* ... */` blocks (scaladoc included; Scala block
comments nest) are removed. Comment markers inside string and character
literals are not comments. Prints, for every `.scala` file under the
given paths (default: src/main src/test) that differs between the two
revisions, its count at each side and the delta, then a total per path
and overall. Deleted comments and blank lines never show as a change.
"""
import subprocess
import sys


def git(*args):
    return subprocess.run(("git",) + args, check=True, capture_output=True,
                          text=True).stdout


def code_lines(src):
    """Number of lines of `src` with code outside comments."""
    counted = set()
    line = 0
    depth = 0          # block-comment nesting
    i, n = 0, len(src)
    while i < n:
        c = src[i]
        if c == "\n":
            line += 1
            i += 1
        elif depth:
            if src.startswith("/*", i):
                depth += 1
                i += 2
            elif src.startswith("*/", i):
                depth -= 1
                i += 2
            else:
                i += 1
        elif src.startswith("//", i):
            while i < n and src[i] != "\n":
                i += 1
        elif src.startswith("/*", i):
            depth = 1
            i += 2
        elif src.startswith('"""', i):
            end = src.find('"""', i + 3)
            end = n if end < 0 else end + 3
            while end < n and src[end] == '"':  # """a"""" ends on the last
                end += 1
            for _ in range(src.count("\n", i, end) + 1):
                counted.add(line)
                line += 1
            line -= 1
            i = end
        elif c == '"':
            counted.add(line)
            i += 1
            while i < n and src[i] not in '"\n':
                i += 2 if src[i] == "\\" else 1
            if i < n and src[i] == '"':
                i += 1
        elif c == "'" and i + 2 < n and (src[i + 1] == "\\" or
                                         src[i + 2] == "'"):
            # 'x', or an escape such as '\'' or 'A'
            counted.add(line)
            end = src.find("'", i + 3) if src[i + 1] == "\\" else i + 2
            i = n if end < 0 else end + 1
        else:
            if not c.isspace():
                counted.add(line)
            i += 1
    return len(counted)


def counts(rev, paths):
    files = git("ls-tree", "-r", "--name-only", rev, "--", *paths).split()
    return {f: code_lines(git("show", f"{rev}:{f}"))
            for f in files if f.endswith(".scala")}


def main(argv):
    if len(argv) < 3 or argv[1].startswith("-"):
        print(__doc__.strip(), file=sys.stderr)
        return 2
    rev_a, rev_b = argv[1], argv[2]
    paths = argv[3:] or ["src/main", "src/test"]
    a, b = counts(rev_a, paths), counts(rev_b, paths)
    rows = [(f, a.get(f, 0), b.get(f, 0)) for f in sorted(set(a) | set(b))]
    width = max([len(f) for f, x, y in rows if x != y] + [len("file")])
    print(f"{'file':<{width}} {rev_a:>10} {rev_b:>10} {'delta':>7}")
    for f, x, y in rows:
        if x != y:
            print(f"{f:<{width}} {x:>10} {y:>10} {y - x:>+7}")
    for p in paths:
        prefix = p.rstrip("/") + "/"
        x = sum(v for f, v in a.items() if f.startswith(prefix) or f == p)
        y = sum(v for f, v in b.items() if f.startswith(prefix) or f == p)
        print(f"{'total ' + p:<{width}} {x:>10} {y:>10} {y - x:>+7}")
    if len(paths) > 1:
        x, y = sum(a.values()), sum(b.values())
        print(f"{'total':<{width}} {x:>10} {y:>10} {y - x:>+7}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))

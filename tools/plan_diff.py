#!/usr/bin/env python3
"""Compare the scan nodes of two `graft.Explain` dumps.

    python3 tools/plan_diff.py <before.txt> <after.txt>

Each dump is the standard output of `runMain graft.Explain <sfDir>
[queryName ...]`, as printed or as logged by sbt (a leading `[info] `
is dropped, and sbt's `[error]`/`[warn]` lines, Spark's own log, are
skipped): one `========== <name> ==========` header per query, then
its formatted physical plan. For every query the script keeps each
`BatchScan` node's header, output and description lines (and an
`EXPLAIN FAILED` line, if any), masks what differs between runs of the
same plan (`#` expression ids, `plan_id`s, operator numbers, UUIDs and
absolute paths), and compares the two sides in order. It prints every
query whose scan nodes differ as a unified diff, then a total, and
exits 1 on any difference (0 when every query's scan nodes match).
"""
import difflib
import re
import sys

SBT_PREFIX = re.compile(r"^\[info\] ?")
SBT_LOG = re.compile(r"^\[(error|warn)\]")
HEADER = re.compile(r"^========== (.+) ==========$")
NODE = re.compile(r"^\(\d+\) ")
SCAN = re.compile(r"^\(\d+\) BatchScan\b")
MASKS = [
    (re.compile(r"#\d+L?\b"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-"
                r"[0-9a-fA-F]{4}-[0-9a-fA-F]{12}"), "<uuid>"),
    (re.compile(r"(?<![\w.])(?:file:)?/[^\s,\]\)\}'\"]+"), "<path>"),
    (re.compile(r"^\(\d+\) "), "(N) "),
]


def mask(line):
    for pat, rep in MASKS:
        line = pat.sub(rep, line)
    return line


def scan_nodes(path):
    """Query name -> the masked scan-node lines of its plan, in order."""
    out = {}
    name, keep = None, False
    with open(path, encoding="utf-8", errors="replace") as f:
        for raw in f:
            if SBT_LOG.match(raw):
                continue
            line = SBT_PREFIX.sub("", raw.rstrip("\n"), count=1)
            m = HEADER.match(line)
            if m:
                name, keep = m.group(1), False
                out[name] = []
                continue
            if name is None:
                continue
            if line.startswith("EXPLAIN FAILED"):
                out[name].append(mask(line))
                keep = False
            elif SCAN.match(line):
                keep = True
                out[name].append(mask(line))
            elif NODE.match(line) or not line.strip() or line.startswith("="):
                keep = False
            elif keep:
                out[name].append(mask(line))
    return out


def main(argv):
    if len(argv) != 3:
        sys.stderr.write(__doc__)
        return 2
    before, after = scan_nodes(argv[1]), scan_nodes(argv[2])
    names = list(before) + [n for n in after if n not in before]
    differ = 0
    for n in names:
        if n not in before or n not in after:
            differ += 1
            side = "before" if n not in before else "after"
            print(f"== {n}: missing from {side}")
            continue
        if before[n] != after[n]:
            differ += 1
            print(f"== {n}")
            for d in difflib.unified_diff(before[n], after[n], "before",
                                          "after", lineterm="", n=1):
                print(d)
    scans = sum(len([x for x in v if x.startswith("(N) BatchScan")])
                for v in before.values())
    print(f"{differ} of {len(names)} queries differ "
          f"({scans} scan nodes before)")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))

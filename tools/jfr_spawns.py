#!/usr/bin/env python3
"""Count the child processes a JVM started, from a JFR recording.

Reads the jdk.ProcessStart events of a recording through
`jfr print --json` and prints two tables: starts per command (the
program and its leading flags, e.g. `ls -ld`, `chmod`, `rm -rf`) and
starts per caller, the first stack frame outside the JDK and
`org.apache.hadoop.util` (the code that asked for the process).

Usage: python3 tools/jfr_spawns.py <file.jfr>

Recording any JVM: start it with
    JAVA_TOOL_OPTIONS=-XX:StartFlightRecording=delay=30s,filename=/abs/run.jfr
(`delay` skips start-up; the file is written when the JVM exits).
"""
import argparse
import collections
import json
import os
import subprocess
import sys

# frames of these packages are the machinery of starting a process, not
# the reason for it
SKIP = ("java.", "javax.", "jdk.", "sun.", "org.apache.hadoop.util.")


def events(path):
    # jfr print cuts stacks to 5 frames unless told otherwise
    out = subprocess.run(["jfr", "print", "--json", "--stack-depth", "64",
                          "--events", "jdk.ProcessStart", path],
                         capture_output=True, text=True, check=True).stdout
    return json.loads(out)["recording"]["events"]


def command(cmd):
    """Program name plus its leading flags: `/bin/ls -ld /x` -> `ls -ld`."""
    toks = cmd.split()
    if not toks:
        return "?"
    flags = []
    for t in toks[1:]:
        if not t.startswith("-"):
            break
        flags.append(t)
    return " ".join([os.path.basename(toks[0])] + flags)


def caller(ev):
    st = ev["values"].get("stackTrace") or {}
    for fr in st.get("frames", []):
        m = fr["method"]
        cls = m["type"]["name"].replace("/", ".")
        if not cls.startswith(SKIP):
            return f"{cls}.{m['name']}"
    return "(no non-JDK frame)"


def table(title, counts):
    total = sum(counts.values())
    print(f"{title}  ({total} starts)")
    for k, n in counts.most_common():
        print(f"  {n:6d}  {k}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("jfr", help="a .jfr recording")
    args = ap.parse_args()
    try:
        evs = events(args.jfr)
    except (OSError, subprocess.CalledProcessError) as e:
        sys.exit(f"jfr print failed: {e}")
    table("by command", collections.Counter(command(e["values"].get("command", ""))
                                            for e in evs))
    table("by caller", collections.Counter(caller(e) for e in evs))


if __name__ == "__main__":
    main()

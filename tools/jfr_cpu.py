#!/usr/bin/env python3
"""Where a JVM spent its CPU, from a JFR recording.

Reads the jdk.ExecutionSample events of a recording through
`jfr print --json --stack-depth 64` and prints three tables: samples per
thread (digit runs and UUIDs in thread names folded to `N` and `<id>`,
so Spark's per-task workers and per-query stream threads group), and
samples per class and per method, each counted inclusively: once per
sample whose stack holds it anywhere. A stack deeper than 64 frames is
cut by the recording at its root end; such samples are counted as
truncated, and a frame below the cut is missed for them.

Usage: python3 tools/jfr_cpu.py <file.jfr> [--thread PREFIX] [--top N]

`--thread` keeps only the samples of threads whose name starts with
PREFIX (e.g. `Executor task launch`, `dag-scheduler`, `stream execution`).

Recording any JVM: start it with
    JAVA_TOOL_OPTIONS=-XX:StartFlightRecording=delay=30s,filename=/abs/run.jfr
(`delay` skips start-up; the file is written when the JVM exits).
"""
import argparse
import collections
import json
import re
import subprocess
import sys


# streaming query ids and run ids in thread names
UUID = r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"


def events(path):
    # jfr print cuts stacks to 5 frames unless told otherwise
    out = subprocess.run(["jfr", "print", "--json", "--stack-depth", "64",
                          "--events", "jdk.ExecutionSample", path],
                         capture_output=True, text=True, check=True).stdout
    return json.loads(out)["recording"]["events"]


def thread(ev):
    t = ev["values"].get("sampledThread") or {}
    return t.get("javaName") or t.get("osName") or "?"


def frames(ev):
    """(class, method) of every frame of the sample's stack, leaf first."""
    st = ev["values"].get("stackTrace") or {}
    for fr in st.get("frames", []):
        m = fr["method"]
        yield m["type"]["name"].replace("/", "."), m["name"]


def table(title, counts, total, top):
    print(f"{title}")
    for k, n in counts.most_common(top):
        print(f"  {n:6d}  {100.0 * n / max(total, 1):5.1f}%  {k}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("jfr", help="a .jfr recording")
    ap.add_argument("--thread", default="", help="keep threads whose name starts with this")
    ap.add_argument("--top", type=int, default=25, help="rows per table")
    args = ap.parse_args()
    try:
        evs = [e for e in events(args.jfr) if thread(e).startswith(args.thread)]
    except (OSError, subprocess.CalledProcessError) as e:
        sys.exit(f"jfr print failed: {e}")
    threads, classes, methods = (collections.Counter() for _ in range(3))
    truncated = 0
    for e in evs:
        threads[re.sub(r"\d+", "N", re.sub(UUID, "<id>", thread(e)))] += 1
        fs = list(frames(e))
        classes.update({c for c, _ in fs})
        methods.update({f"{c}.{m}" for c, m in fs})
        truncated += bool((e["values"].get("stackTrace") or {}).get("truncated"))
    print(f"{len(evs)} samples, {truncated} with stacks cut at 64 frames")
    table("by thread", threads, len(evs), args.top)
    table("by class (inclusive)", classes, len(evs), args.top)
    table("by method (inclusive)", methods, len(evs), args.top)


if __name__ == "__main__":
    main()

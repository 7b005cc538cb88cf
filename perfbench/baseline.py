#!/usr/bin/env python3
"""Records a baseline: N untraced runs per workload (each with its own
seed, workloads interleaved) plus one traced run per workload, and
writes medians, quartiles, spreads and the tracing overhead.

    python3 perfbench/baseline.py [--seeds 10] [--first-seed 1000] \\
        [--out perfbench/baseline.json]

Run from the repository root. The spread of a metric is
(q3 - q1) / median over the untraced runs; the tracing overhead compares
the traced run's op p50 with the untraced median op p50.
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    r = subprocess.run(cmd, capture_output=True, text=True)
    wall = time.time() - t0
    last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else "{}"
    out = json.loads(last)
    out.update({"seed": seed, "wall_s": wall, "exit": r.returncode})
    return out


def main():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1000)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--no-trace", action="store_true")
    ap.add_argument("--out", default=os.path.join(HERE, "baseline.json"))
    a = ap.parse_args()
    names = [w["name"] for w in bench["workloads"]]
    runs = {w: [] for w in names}
    for i in range(a.seeds):
        for w in names:
            r = run(w, a.first_seed + i, a.seconds, 0)
            runs[w].append(r)
            print(f"{w:14s} seed {r['seed']} exit {r['exit']} wall {r['wall_s']:.1f} s "
                  f"{json.dumps({k: round(v['value'], 3) for k, v in r.get('metrics', {}).items()})}",
                  flush=True)
    traced = {} if a.no_trace else {w: run(w, a.first_seed, a.seconds, 1) for w in names}
    report = {"seeds": a.seeds, "first_seed": a.first_seed, "seconds": a.seconds,
              "workloads": {}}
    for w in names:
        ok = [r for r in runs[w] if r.get("correct")]
        summary = {"runs": len(runs[w]), "correct_runs": len(ok),
                   "mean_wall_s": sum(r["wall_s"] for r in runs[w]) / len(runs[w]),
                   "metrics": {}}
        for m in bench["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in ok]
            if not vals:
                continue
            q1, med, q3 = stats.quartiles(vals)
            summary["metrics"][m["name"]] = {
                "median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med,
                "bound": m["bound"], "unit": m["unit"], "values": vals}
        if w in traced and traced[w].get("metrics"):
            t = traced[w]["metrics"]
            base = summary["metrics"].get("op_p50_ms", {}).get("median")
            summary["traced"] = {k: v["value"] for k, v in t.items()}
            if base:
                summary["trace_overhead"] = t["trace.op_p50_ms"]["value"] / base - 1.0
        report["workloads"][w] = summary
    with open(a.out, "w") as f:
        json.dump(report, f, indent=1)
    print(f"\n| workload | metric | median | q1 | q3 | spread | bound |")
    print("|---|---|---|---|---|---|---|")
    for w, s in report["workloads"].items():
        for m, v in s["metrics"].items():
            print(f"| {w} | {m} ({v['unit']}) | {v['median']:.2f} | {v['q1']:.2f} | "
                  f"{v['q3']:.2f} | {v['spread']:.3f} | {v['bound']} |")
    for w, s in report["workloads"].items():
        if "trace_overhead" in s:
            print(f"{w}: tracing overhead on op p50 {100 * s['trace_overhead']:+.1f} %")
    print(f"wrote {a.out}")


if __name__ == "__main__":
    main()

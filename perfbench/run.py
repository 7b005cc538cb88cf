#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload <olap_mix|lakehouse_dml|fraud_stream> \\
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness with sbt (offline) and generates the fixture tables; later runs
reuse both. The engine runs in one JVM on local[N] with one client
thread. The last line of standard output is the result:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end metrics, with --trace 1 the per-layer metrics. A
failed output check makes the run exit non-zero. See BENCH.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import ops as opgen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("olap_mix", "lakehouse_dml", "fraud_stream")
SCALE = 0.005          # fixture scale (orders 7,500 rows, lineitem ~30,000)
DATA_SEED = 42         # fixed: the pinned olap results are for these tables
CORES = min(4, os.cpu_count() or 1)
HEAP = "2g"
DEADLINE_S = 170       # whole run, build excluded
BUILD_TIMEOUT_S = 800
SETUP_REPS = 2         # lakehouse_dml repeats its table set-up
LAKEHOUSE_OPS = 40 * len(opgen.KINDS) * len(opgen.ROUND)  # 40 rounds, far more than a run uses
EVENTS_PER_CYCLE = 20
REPLAY_BATCH = 10
WARMUP_CYCLES = 1      # untimed fraud_stream scoring cycle in set-up
WARMUP_PASSES = 2      # untimed olap_mix passes in set-up
MIN_CYCLES = stats.min_samples(0.5)  # timed cycles: enough for a median
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log("error:", msg)
    sys.exit(code)


# ----------------------------------------------------------------- build

def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, ds, fs in os.walk(r)
            for f in fs if "target" not in d.split(os.sep))
        for p in paths:
            if p.endswith((".scala", ".sbt", ".properties", ".java")):
                h.update(p.encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles engine + harness once per source state; returns the
    runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the engine sources (build.sbt, src/main/scala/graft) are not next "
             "to perfbench/; run from a checkout of the repository")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are needed to build the engine")
    os.makedirs(WORK, exist_ok=True)
    stamp = os.path.join(WORK, "classpath.json")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s.get("digest") == digest:
            return s["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    cmd = ["sbt", "--batch", "-J-XX:-UsePerfData", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false",
           "compile", "export perfbench/Runtime/fullClasspath"]
    log("building engine and harness (sbt compile) ...")
    t0 = time.time()
    try:
        r = subprocess.run(cmd, cwd=HERE, env=env, capture_output=True, text=True,
                           timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        fail("sbt build timed out")
    lines = [ln for ln in r.stdout.splitlines() if ln.startswith("/") and ".jar" in ln]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-2000:])
        fail("sbt build failed")
    log(f"built in {time.time() - t0:.0f} s")
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": lines[-1]}, f)
    return lines[-1]


def fixture_dir():
    import gen_data
    d = os.path.join(WORK, f"data-{SCALE}-{DATA_SEED}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        shutil.rmtree(d, ignore_errors=True)
        gen_data.write(d, SCALE, DATA_SEED)
        open(os.path.join(d, "_DONE"), "w").close()
    return d


# ------------------------------------------------------------------ plan

def load_json(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


def orders_rows(data_dir):
    import pyarrow.parquet as pq
    t = pq.read_table(os.path.join(data_dir, "orders.parquet"),
                      columns=list(opgen.COLUMNS)).to_pydict()
    return list(zip(*(t[c] for c in opgen.COLUMNS)))


def make_plan(args, data_dir, run_dir):
    plan = {"workload": args.workload, "seed": args.seed, "cores": CORES,
            "seconds": args.seconds, "trace": bool(args.trace),
            "work_dir": run_dir, "data_dir": data_dir, "setup_reps": SETUP_REPS}
    if args.workload == "olap_mix":
        names = load_json("olap_queries.json")["subset"]
        pinned = load_json("pinned_olap.json")
        if set(names) - pinned.keys():
            fail(f"no pinned result for {sorted(set(names) - pinned.keys())}")
        plan["olap"] = {"order": opgen.olap_order(args.seed, names, 60),
                        "per_pass": len(names),
                        "warmup_passes": WARMUP_PASSES,
                        "pinned": {n: pinned[n] for n in names}}
    elif args.workload == "lakehouse_dml":
        ops, _ = opgen.lakehouse_ops(args.seed, orders_rows(data_dir), LAKEHOUSE_OPS)
        plan["lakehouse"] = {"ops": ops, "retain": opgen.RETAIN,
                             "round_len": len(opgen.KINDS) * len(opgen.ROUND)}
    else:
        plan["fraud"] = {"events_per_cycle": EVENTS_PER_CYCLE,
                         "replay_batch": REPLAY_BATCH,
                         "warmup_cycles": WARMUP_CYCLES,
                         "min_cycles": MIN_CYCLES,
                         "draw": opgen.fraud_draw(args.seed)}
    return plan


# ----------------------------------------------------------------- checks

def check_lakehouse(res, seed, data_dir):
    """Final table contents equal the plain model after the executed
    prefix of the sequence. Returns failure messages."""
    import pyarrow.parquet as pq
    n = len(res["ops"])
    _, models = opgen.lakehouse_ops(seed, orders_rows(data_dir), n)
    fails = []
    for k, d in res["extra"]["final_dirs"].items():
        t = pq.read_table(d).to_pydict()
        got = {r[0]: r for r in zip(*(t[c] for c in opgen.COLUMNS))}
        want = models[k].rows
        if got.keys() != want.keys():
            fails.append(f"t_{k}: {len(got.keys() - want.keys())} unexpected keys, "
                         f"{len(want.keys() - got.keys())} missing keys")
            continue
        bad = [key for key, r in want.items()
               if got[key][:3] + got[key][4:] != r[:3] + r[4:]
               or abs(got[key][3] - r[3]) > 1e-6 * max(1.0, abs(r[3]))]
        if bad:
            fails.append(f"t_{k}: {len(bad)} rows differ, e.g. key {bad[0]}: "
                         f"{got[bad[0]]} != {want[bad[0]]}")
    return fails


# ---------------------------------------------------------------- metrics

def samples_of(res):
    """(ok latencies ms, failed count, attempted count) of the timed phase:
    one sample per query, statement or scoring cycle."""
    ops = res["ops"]
    ok = [o["ms"] for o in ops if o["ok"]]
    return ok, len(ops) - len(ok), len(ops)


def end_to_end(res, failed):
    ok, _, attempted = samples_of(res)
    p50 = stats.percentile(ok, failed, 0.5)
    if math.isinf(p50):  # a failed op missed every limit; report the window
        p50 = res["timed_s"] * 1000.0
    reps = res["setup_reps_s"]
    setup = res["session_s"] + res["setup_total_s"] - sum(reps) + (
        statistics.median(reps) if reps else 0.0)
    # fraud_stream's throughput counts scored events, not cycles
    per_op = EVENTS_PER_CYCLE if res["workload"] == "fraud_stream" else 1
    return {
        "setup_s": (setup, "s"),
        "ops_per_s": ((attempted - failed) * per_op / res["timed_s"], "1/s"),
        "op_p50_ms": (p50, "ms"),
        "heap_live_mb": (res["heap_live_mb"], "MiB"),
    }


def span_totals(run_dir, timed=True):
    """Per span name: (count, total ms, self ms), over the timed phase or
    the whole run. Self time is a span's duration minus what its direct
    children cover."""
    spans = []
    p = os.path.join(run_dir, "spans.jsonl")
    if os.path.exists(p):
        with open(p) as f:
            spans = [json.loads(ln) for ln in f if ln.strip()]
    child = [0] * len(spans)
    for s in spans:
        if s["parent"] >= 0:
            child[s["parent"]] += s["end_ns"] - s["start_ns"]
    out = {}
    for i, s in enumerate(spans):
        if timed and s["op"] < 0:
            continue
        c, tot, self_ = out.get(s["name"], (0, 0.0, 0.0))
        d = s["end_ns"] - s["start_ns"]
        out[s["name"]] = (c + 1, tot + d / 1e6, self_ + (d - child[i]) / 1e6)
    return out


def per_layer(res, run_dir, failed):
    L = res["layers"]
    ops = res["ops"]
    n = max(1, len(ops))
    sp = span_totals(run_dir)
    div = lambda a, b: a / b if b else 0.0
    m = {}
    m["tables.preflight_ms"] = (L.get("tables.preflight_ms", 0.0), "ms")
    nq = sum(1 for o in ops if o["kind"] == "query")
    for part in ("build", "plan", "exec"):
        m[f"query.{part}_ms"] = (div(sp.get(f"query.{part}", (0, 0, 0))[1], nq), "ms")
    m["spark.planning_ms"] = (L.get("spark.planning_ms", 0.0) / n, "ms")
    for k in ("jobs", "stages", "tasks"):
        m[f"spark.{k}_per_op"] = (L.get(f"spark.{k}", 0.0) / n, "count")
    for k in ("job_wall_ms", "executor_run_ms", "executor_cpu_ms"):
        m[f"spark.{k}"] = (L.get(f"spark.{k}", 0.0) / n, "ms")
    m["spark.shuffle_bytes"] = (L.get("spark.shuffle_bytes", 0.0) / n, "bytes")
    wall = sum(o["ms"] for o in ops)
    m["driver.residual_ms"] = (
        (wall - L.get("spark.planning_ms", 0.0) - L.get("spark.job_wall_ms", 0.0)) / n, "ms")
    for k in opgen.KINDS:
        for kind in ("insert", "update", "delete", "merge", "read", "scan", "changes"):
            v = [o["ms"] for o in ops if o["table"] == k and o["kind"] == kind]
            m[f"catalog.{k}.{kind}_ms"] = (div(sum(v), len(v)), "ms")
        commits = L.get(f"catalog.{k}.commits", 0.0)
        m[f"catalog.{k}.root_log_bytes"] = (div(L.get(f"catalog.{k}.root_log_bytes_sum", 0.0), commits), "bytes")
        m[f"catalog.{k}.files_per_commit"] = (div(L.get(f"catalog.{k}.files_created", 0.0), commits), "count")
        m[f"catalog.{k}.bytes_per_commit"] = (div(L.get(f"catalog.{k}.bytes_created", 0.0), commits), "bytes")
    m["catalog.file_opens_per_read"] = (div(L.get("catalog.file_opens", 0.0), L.get("catalog.reads", 0.0)), "count")
    created = sum(L.get(f"catalog.{k}.bytes_created", 0.0) for k in opgen.KINDS)
    m["catalog.bytes_per_changed_row"] = (div(created, L.get("catalog.rows_changed", 0.0)), "bytes")
    m["ml.train_s"] = (L.get("ml.train_ms", 0.0) / 1000.0, "s")
    m["ml.fit_ms"] = (L.get("ml.fit_ms", 0.0), "ms")
    cyc = sum(1 for o in ops if o["kind"] == "score")
    for k in ("replay_ms", "predict_start_ms", "drain_ms"):
        m[f"streaming.{k}"] = (div(L.get(f"streaming.{k}", 0.0), cyc), "ms")
    batches = L.get("streaming.batches", 0.0)
    for k, src in (("add_batch_ms", "addBatch"), ("query_planning_ms", "queryPlanning"),
                   ("wal_commit_ms", "walCommit"), ("latest_offset_ms", "latestOffset")):
        m[f"streaming.{k}"] = (div(L.get(f"streaming.progress.{src}", 0.0), batches), "ms")
    m["streaming.rows_per_batch"] = (div(L.get("streaming.rows", 0.0), batches), "count")
    m["jvm.gc_ms"] = (L.get("jvm.gc_ms", 0.0), "ms")
    m["jvm.cpu_s"] = (L.get("jvm.cpu_s", 0.0), "s")
    m["jvm.peak_rss_mb"] = (res["peak_rss_mb"], "MiB")
    _, _, attempted = samples_of(res)
    m["failed_op_share"] = (div(failed, attempted), "share")
    ok, _, _ = samples_of(res)
    m["trace.op_p50_ms"] = (stats.percentile(ok, failed, 0.5), "ms")
    return m


def summary(res, failed, run_dir, traced):
    """Human-readable evidence on stderr: percentiles the sample count
    supports, host load, and (traced) the largest self times."""
    ok, _, _ = samples_of(res)
    for q in (0.5, 0.9, 0.99):
        try:
            v = f"{stats.percentile(ok, failed, q):.1f} ms"
        except stats.TooFewSamples as e:
            v = f"refused ({e})"
        log(f"p{round(q * 100)}: {v}  (n={len(ok) + failed})")
    h = res["host"]
    log(f"host: {h['cores']} cores, load {h['load_avg_start']:.2f}->{h['load_avg_end']:.2f}, "
        f"busy {h['busy_pct']:.1f}%, steal {h['steal_pct']:.2f}%")
    if traced:
        top = sorted(span_totals(run_dir).items(), key=lambda kv: -kv[1][2])[:12]
        for name, (c, tot, self_) in top:
            log(f"  span {name:34s} n={c:5d} total {tot:10.1f} ms  self {self_:10.1f} ms")


# ------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description="graft benchmark (see BENCH.md)")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classpath = build()
    t_start = time.time()
    data_dir = fixture_dir()
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    plan = make_plan(args, data_dir, run_dir)
    plan_path = os.path.join(run_dir, "plan.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    result_path = os.path.join(run_dir, "result.json")
    # no hsperfdata file in the system temp dir: the run writes only
    # under its checkout. Bytecode verification of classpath classes is
    # off: the jars are the build's own, and verifying them added 2-3 s
    # to every run's set-up (BENCH.md, "Sizing").
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            "-XX:+UnlockDiagnosticVMOptions", "-XX:-BytecodeVerificationRemote",
            f"-Djava.io.tmpdir={run_dir}/tmp",
            "-Dspark.ui.enabled=false", "-Dlog4j2.level=ERROR"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "graftbench.Main", plan_path, result_path])
    budget = DEADLINE_S - (time.time() - t_start)
    try:
        r = subprocess.run(cmd, cwd=run_dir, capture_output=True, text=True,
                           timeout=budget, stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        fail(f"the run did not finish within {DEADLINE_S} s")
    if r.returncode != 0 or not os.path.exists(result_path):
        sys.stderr.write(r.stderr[-4000:])
        fail(f"engine run failed (exit {r.returncode})")
    with open(result_path) as f:
        res = json.load(f)

    checks = {k: v for k, v in res["checks"].items() if v}
    if args.workload == "lakehouse_dml":
        fin = check_lakehouse(res, args.seed, data_dir)
        if fin:
            checks["final_state"] = fin
    if args.workload == "olap_mix" and res["extra"].get("warmup_failures"):
        checks["warmup"] = res["extra"]["warmup_failures"]
    _, failed_ops, attempted = samples_of(res)
    # a failed end-of-run check counts as failed operations: each failing
    # table / cycle / query message is one
    failed = failed_ops + sum(len(v) for k, v in checks.items()
                              if k not in ("operations", "pinned_results", "cycles"))
    failed = min(failed, attempted)
    for k, v in checks.items():
        for msg in v[:5]:
            log(f"CHECK FAILED [{k}] {msg}")
    summary(res, failed, run_dir, args.trace)
    correct = not checks and failed == 0
    metrics = (per_layer(res, run_dir, failed) if args.trace
               else end_to_end(res, failed))
    for name, (v, unit) in metrics.items():
        log(f"{name:36s} {v:14.4f} {unit}")
    with open(os.path.join(run_dir, "report.json"), "w") as f:
        json.dump({"metrics": metrics, "checks": checks, "host": res["host"],
                   "spark_conf": res["spark_conf"],
                   "span_self_ms": {k: v[2] for k, v in span_totals(run_dir, False).items()}},
                  f, indent=1)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()

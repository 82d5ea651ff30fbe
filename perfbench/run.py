#!/usr/bin/env python3
"""End-to-end serving benchmark for the Spark onboarding/recommendation engine.

Run from the repository root:

    python3 perfbench/run.py --workload recommend_read --seed 1 --seconds 10 --trace 0

The first run in a checkout builds the program and the benchmark driver
(`perfbench/build.sbt`, offline sbt) and copies the compiled classes into
`.bench_build/perfbench/<source stamp>/`; a later run reuses that copy only
when its sources hash to the same stamp.

One run starts a single JVM that builds the standing serving state from
the vendored sf0.1 `customer` table (`perfbench/data`), replays a seeded
request log against it as one closed-loop client for `--seconds` of
request time, and runs the correctness gate. This script reduces the raw
samples to metrics, prints every metric by name with its unit, keeps the
full artifact under `.bench_build/perfbench/results/`, and prints as its
last line the JSON object `{"correct", "attempted", "failed", "metrics"}`:
the end-to-end metrics with `--trace 0`, the per-layer metrics with
`--trace 1`. A failed correctness check exits with code 1.
"""

import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("recommend_read", "onboard_write")
REQUEST_KINDS = ("onboard", "redeliver", "recommend", "ppr_recommend", "search", "lookup")
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170
LAYERS = (
    "ingest.next_id", "edge_rules.incremental", "tables.append",
    "graph.adj_apply", "fuzzy.index_delta", "fuzzy.compact",
    "graph.ppr_recommend", "recommend.score", "fuzzy.search",
    "student_queries.lookup", "graph.adj_build", "fuzzy.build",
)
LAYER_STATS = (
    ("calls", "count"), ("wall_ms", "ms"), ("self_ms", "ms"), ("jobs", "count"),
    ("tasks", "count"), ("driver_gap_ms", "ms"), ("shuffle_bytes", "B"),
    ("input_bytes", "B"), ("output_bytes", "B"), ("gc_ms", "ms"),
)
JDK17_OPENS = (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for base in (ROOT, BENCH):
        files += glob.glob(os.path.join(base, "project", "*.properties"))
        files += glob.glob(os.path.join(base, "project", "*.sbt"))
        files += glob.glob(os.path.join(base, "src", "main", "**", "*"), recursive=True)
    h = hashlib.sha256()
    for f in sorted(set(files)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def run_child(cmd, cwd, env, timeout, log_path):
    """Runs cmd in its own process group; kills the group on timeout."""
    with open(log_path, "wb") as log:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                                start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise


def tail(path, n=40):
    with open(path, "rb") as fh:
        return b"".join(fh.readlines()[-n:]).decode(errors="replace")


def build():
    """Compiles the program and the driver once per source state; returns
    the runtime classpath.

    sbt writes classes into `target/` folders that outlive a change of
    sources, so every classpath entry inside the checkout is copied into a
    directory named after the source stamp, and the cached classpath
    points only at that copy: a stamp always runs the classes built from
    its own sources."""
    for need in ("build.sbt", "src/main/scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"program source {need} not found; run from the repository root")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    stamp = source_stamp()
    stamp_dir = os.path.join(BUILD, stamp)
    cp_file = os.path.join(stamp_dir, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    # Offline build against the toolchain's own repository configuration.
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos}")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log = os.path.join(BUILD, "build.log")
    t0 = time.time()
    code = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                      "export perfbench/Runtime/fullClasspath"],
                     BENCH, env, BUILD_TIMEOUT_S, log)
    if code != 0:
        print(tail(log), file=sys.stderr)
        fail(f"build failed with code {code}")
    lines = [l.strip() for l in open(log, errors="replace") if l.strip()]
    cp = next((l for l in reversed(lines)
               if "perfbench" in l and os.pathsep in l and not l.startswith("[")), None)
    if cp is None:
        fail("build printed no classpath")
    staging = stamp_dir + f".tmp{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    entries = []
    for i, entry in enumerate(cp.split(os.pathsep)):
        real = os.path.realpath(entry)
        if os.path.commonpath([real, os.path.realpath(ROOT)]) != os.path.realpath(ROOT):
            entries.append(entry)  # toolchain jars, immutable
            continue
        copy = os.path.join(staging, f"cp{i}", os.path.basename(real))
        if os.path.isdir(real):
            shutil.copytree(real, copy)
        elif os.path.isfile(real):
            os.makedirs(os.path.dirname(copy))
            shutil.copy2(real, copy)
        else:
            continue
        entries.append(os.path.join(stamp_dir, os.path.relpath(copy, staging)))
    cp = os.pathsep.join(entries)
    with open(os.path.join(staging, "classpath.txt"), "w") as fh:
        fh.write(cp)
    shutil.rmtree(stamp_dir, ignore_errors=True)
    os.rename(staging, stamp_dir)
    print(f"built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp


def quantile(sorted_xs, p):
    """Nearest-rank percentile p (0..100) of an ascending list."""
    k = max(1, math.ceil(p / 100.0 * len(sorted_xs)))
    return sorted_xs[k - 1]


def timing(xs):
    """p50 and the highest percentile with at least ten samples beyond it."""
    xs = sorted(xs)
    out = {"n": len(xs), "p50": statistics.median(xs) if xs else None,
           "tail": None, "tail_pct": None}
    for p in (99.9, 99, 95, 90, 75, 50):
        if len(xs) * (1 - p / 100.0) >= 10:
            out["tail"], out["tail_pct"] = quantile(xs, p), p
            break
    return out


def union_ms(intervals):
    total, end = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def layer_metrics(raw):
    """Per-layer stats from the spans and the job records attributed to
    them. Every per-call stat is the median over the layer's calls."""
    spans = {s["id"]: s for s in raw["spans"]}
    children, jobs_of = {}, {}
    for s in raw["spans"]:
        children.setdefault(s["parent"], []).append(s)
    for j in raw["jobs"]:
        jobs_of.setdefault(j["span"], []).append(j)

    def subtree_jobs(sid):
        out = list(jobs_of.get(sid, []))
        for c in children.get(sid, []):
            out += subtree_jobs(c["id"])
        return out

    per = {name: [] for name in LAYERS}
    for s in spans.values():
        # negative requests are untimed: the warm-up block and the gate's
        if s["name"] not in per or s["request"] < 0:
            continue
        wall = s["end_ms"] - s["start_ms"]
        kids = [(c["start_ms"], c["end_ms"]) for c in children.get(s["id"], [])]
        jobs = subtree_jobs(s["id"])
        clipped = [(max(j["start_ms"], s["start_ms"]), min(j["end_ms"], s["end_ms"]))
                   for j in jobs if j["end_ms"] > 0]
        per[s["name"]].append({
            "wall_ms": wall, "self_ms": wall - union_ms(kids), "jobs": len(jobs),
            "tasks": sum(j["tasks"] for j in jobs),
            "driver_gap_ms": wall - union_ms([c for c in clipped if c[1] > c[0]]),
            "shuffle_bytes": sum(j["shuffle_bytes"] for j in jobs),
            "input_bytes": sum(j["input_bytes"] for j in jobs),
            "output_bytes": sum(j["output_bytes"] for j in jobs),
            "gc_ms": s["gc_ms"],
        })
    metrics = {}
    for name in LAYERS:
        calls = per[name]
        for stat, unit in LAYER_STATS:
            value = len(calls) if stat == "calls" else (
                statistics.median(c[stat] for c in calls) if calls else 0)
            metrics[f"{name}.{stat}"] = {"value": value, "unit": unit}
    edges = [e["edges"] for e in raw["edges_per_onboard"] if e["request"] >= 0]
    metrics["edge_rules.incremental.edges"] = {
        "value": statistics.median(edges) if edges else 0, "unit": "count"}
    checks = [c["fired"] for c in raw["compactions"] if c["request"] >= 0]
    metrics["fuzzy.compact.fired_ratio"] = {
        "value": sum(checks) / len(checks) if checks else 0, "unit": "ratio"}
    return metrics


def end_to_end(raw):
    reqs = raw["requests"]
    # Redeliveries are a seeded ~5% extra on top of the fixed block mix;
    # they are served, checked and timed on their own, but left out of
    # throughput so that a run that happens to draw one is comparable.
    mix = [r["ms"] for r in reqs if r["kind"] != "redeliver"]
    metrics = {
        "setup_s": {"value": raw["setup_s"], "unit": "s"},
        "throughput_rps": {"value": len(mix) / (sum(mix) / 1000.0), "unit": "1/s"},
        "error_rate": {"value": sum(not r["ok"] for r in reqs) / len(reqs),
                       "unit": "ratio"},
    }
    for kind in REQUEST_KINDS:
        t = timing([r["ms"] for r in reqs if r["kind"] == kind])
        if t["n"] == 0:
            continue
        metrics[f"{kind}_p50_ms"] = {"value": t["p50"], "unit": "ms", "n": t["n"]}
        # null until a run holds enough samples for ten beyond a percentile
        metrics[f"{kind}_tail_ms"] = {"value": t["tail"], "unit": "ms", "n": t["n"],
                                      "percentile": t["tail_pct"]}
    metrics["store_mb"] = {"value": raw["store_bytes"] / 2**20, "unit": "MB"}
    metrics["cache_mb"] = {"value": raw["cache_bytes_peak"] / 2**20, "unit": "MB"}
    return metrics


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    data = os.path.join(BENCH, "data")
    for f in ("sf0.1/customer.parquet", "sf0.01/lineitem.parquet"):
        if not os.path.isfile(os.path.join(data, f)):
            fail(f"input {f} missing under {data}")
    classpath = build()

    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    raw_path = os.path.join(run_dir, "raw.json")
    log = os.path.join(run_dir, "jvm.log")
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xmx3g", f"-Djava.io.tmpdir={run_dir}/tmp"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Serve",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--cores", str(cores), "--data", data, "--work", run_dir,
            "--out", raw_path]
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
    t0 = time.time()
    try:
        code = run_child(cmd, ROOT, env, RUN_TIMEOUT_S, log)
        if code != 0 or not os.path.exists(raw_path):
            print(tail(log), file=sys.stderr)
            fail(f"benchmark JVM exited with code {code}")
        with open(raw_path) as fh:
            raw = json.load(fh)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    jvm_s = time.time() - t0

    e2e = end_to_end(raw)
    layers = layer_metrics(raw) if raw["trace"] else {}
    reqs = raw["requests"]
    failed = sum(not r["ok"] for r in reqs)
    correct = raw["gate"]["passed"] and failed == 0
    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": raw["trace"], "cores": raw["cores"], "client": "closed loop, 1 client",
        "log_sha256": raw["log_sha256"], "warmup_requests": raw["warmup_requests"],
        "blocks_timed": raw["blocks_timed"],
        "jvm_s": jvm_s, "phases_s": raw["phases_s"],
        "host_control_q1_agg_sf0.01_s": raw["controls_q1_sf0.01_s"],
        "end_to_end": e2e, "per_layer": layers, "gate": raw["gate"],
        "onboarded": len(raw["onboarded"]), "redeliveries": raw["redeliveries"],
        "compactions": sum(c["fired"] for c in raw["compactions"]),
        "errors": raw["errors"],
        "requests": [[r["kind"], r["ms"], r["ok"]] for r in reqs],
    }
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    if raw["trace"]:
        untraced = [json.load(open(p))["end_to_end"]["throughput_rps"]["value"]
                    for p in glob.glob(os.path.join(results, f"{args.workload}-*-trace0.json"))]
        if untraced:
            base = statistics.median(untraced)
            artifact["trace_overhead"] = {
                "traced_throughput_rps": e2e["throughput_rps"]["value"],
                "untraced_median_throughput_rps": base, "untraced_runs": len(untraced),
                "overhead_share": 1 - e2e["throughput_rps"]["value"] / base}
    with open(os.path.join(results, f"{args.workload}-{args.seed}-trace{args.trace}.json"),
              "w") as fh:
        json.dump(artifact, fh, indent=1)

    print(f"log sha256 {raw['log_sha256']}")
    for name, m in e2e.items():
        extra = "".join(f" {k}={m[k]}" for k in ("n", "percentile") if k in m)
        value = "null" if m["value"] is None else f"{m['value']:.4f}"
        print(f"{name} {value} {m['unit']}{extra}")
    for name, m in layers.items():
        print(f"{name} {m['value']} {m['unit']}")
    if "trace_overhead" in artifact:
        print(f"trace_overhead {artifact['trace_overhead']['overhead_share']:.4f}")
    print("gate " + json.dumps(raw["gate"]))
    print("artifact " + json.dumps(artifact))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    gated = [m["name"] for m in spec["per_layer" if raw["trace"] else "end_to_end"]]
    source = layers if raw["trace"] else e2e
    print(json.dumps({
        "correct": correct, "attempted": len(reqs), "failed": failed,
        "metrics": {k: {"value": source[k]["value"], "unit": source[k]["unit"]}
                    for k in gated}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()

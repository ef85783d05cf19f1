#!/usr/bin/env python3
"""Repository benchmark: builds the engine and the benchmark from source,
runs one workload in one JVM, checks its outputs and prints one JSON line.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 8 --trace 0

Run from the repository root. The last line of stdout is
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}
with the `end_to_end` metrics of BENCHMARK.json (--trace 0) or its
`per_layer` metrics (--trace 1). Which raw measurement of a workload each
declared name reports is set in perfbench/workloads.json. Build output,
logs, traces and per-run results go to $CARGO_TARGET_DIR (default
.bench_build) under the repository root. The analytics workload's results
are compared with DuckDB (perfbench/oracle.py) after its JVM exits.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import oracle

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

# Spark on JDK 17 outside spark-submit needs these (the same list as the
# engine's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build: the engine's and the benchmark's."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"),
              os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for tree in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, dirs, files in os.walk(tree):
            dirs.sort()
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def host_cpu():
    """(steal, total) jiffies of all CPUs, from /proc/stat; None elsewhere."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return v[7] if len(v) > 7 else 0, sum(v[:8])


def steal_share(c0, c1):
    if c0 is None or c1 is None or c1[1] <= c0[1]:
        return None
    return (c1[0] - c0[0]) / (c1[1] - c0[1])


def run_logged(cmd, cwd, log_path, timeout, env=None):
    """Runs cmd in its own process group, stdout captured, stderr to a log;
    kills the whole group on timeout and waits for it."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=log,
                             text=True, start_new_session=True, env=env)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.communicate()
            return None, f"timed out after {timeout} s"
    return out, (None if p.returncode == 0 else f"exit code {p.returncode}")


def tail(path, n=40):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


def build(out_dir):
    """Compiles the engine and the benchmark (sbt), once per source stamp;
    returns the runtime classpath."""
    stamp, cp_file = source_stamp(), os.path.join(out_dir, "classpath.txt")
    stamp_file = os.path.join(out_dir, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log = os.path.join(out_dir, "build.log")
    t0 = time.time()
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out, err = run_logged(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         f"-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData",
         "perfbench/compile", "export perfbench/Runtime/fullClasspath"],
        HERE, log, BUILD_TIMEOUT_S)
    if err:
        print(tail(log), file=sys.stderr)
        fail(f"build failed ({err}); log in {log}")
    cp = [l for l in out.splitlines() if l.strip()][-1].strip()
    if ":" not in cp:
        fail(f"could not read the classpath from sbt; log in {log}")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    # The benchmark measures the engine built from this checkout's sources.
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no engine sources under src/main/scala/graft; run from the repository root")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)
    if a.workload not in workloads:
        fail(f"unknown workload {a.workload}; known: {', '.join(workloads)}")
    declared = bench["per_layer" if a.trace else "end_to_end"]
    mapping = workloads[a.workload]["metrics"]

    out_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    for sub in ("logs", "results", "traces"):
        os.makedirs(os.path.join(out_dir, sub), exist_ok=True)
    cp = build(out_dir)

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(out_dir, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # A fixed-size heap, so that no run spends its first operations growing
    # it; the memory metric is the live heap after a full GC, which the
    # heap's size does not set.
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xms2g", "-Xmx2g", "-XX:-UsePerfData",
            "-XX:ReservedCodeCacheSize=512m", "-XX:+UseCodeCacheFlushing"] +
           [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main", a.workload, str(a.seed), str(a.seconds),
            str(a.trace), work])
    log = os.path.join(out_dir, "logs", tag + ".log")
    cpu0 = host_cpu()
    out, err = run_logged(cmd, ROOT, log, RUN_TIMEOUT_S)
    steal = steal_share(cpu0, host_cpu())
    lines = [l for l in (out or "").splitlines() if l.startswith("PERFBENCH ")]
    oracle_verdict = None
    if lines and a.workload == "analytics":
        oracle_verdict = oracle.compare(os.path.join(work, "results"))
    spans = os.path.join(work, "trace", f"{a.workload}-{a.seed}.spans.jsonl")
    if os.path.exists(spans):
        shutil.copy(spans, os.path.join(out_dir, "traces", tag + ".spans.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    if not lines:
        print(tail(log), file=sys.stderr)
        fail(f"workload {a.workload} did not finish ({err or 'no result line'}); log in {log}")
    if err:
        # the workload stopped early but reported what it attempted
        print(tail(log), file=sys.stderr)
    raw = json.loads(lines[-1][len("PERFBENCH "):])
    if steal is not None:
        # CPU time the hypervisor gave to other guests while the run went on:
        # context for a slow run, not a metric
        raw["metrics"]["host.steal_share"] = steal
        print(f"perfbench: host CPU steal during the run: {steal:.1%}", file=sys.stderr)
    if oracle_verdict is not None:
        bad = {q: why for q, why in oracle_verdict.items() if why}
        for name, why in bad.items():
            print(f"perfbench: {name} differs from the DuckDB oracle: {why}", file=sys.stderr)
        ok = bool(oracle_verdict) and not bad
        raw["checks"]["analytics: every query equals its DuckDB oracle"] = ok
        raw["metrics"]["analytics.oracle_match_share"] = 1 - len(bad) / max(1, len(oracle_verdict))
        raw["correct"] = raw["correct"] and ok
    with open(os.path.join(out_dir, "results", tag + ".json"), "w") as f:
        json.dump(raw, f, indent=1, sort_keys=True)
    for name, ok in raw["checks"].items():
        if not ok:
            print(f"perfbench: check failed: {name}", file=sys.stderr)

    metrics, missing = {}, []
    for m in declared:
        v = raw["metrics"].get(mapping.get(m["name"], ""))
        if v is None:
            missing.append(m["name"])
        else:
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    if missing:
        print(f"perfbench: not measured: {', '.join(missing)}", file=sys.stderr)
    report_overhead(out_dir, a, raw, mapping, bench["end_to_end"])
    correct = bool(raw["correct"]) and not missing and not err
    print(json.dumps({"correct": correct, "attempted": raw["attempted"],
                      "failed": raw["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


def report_overhead(out_dir, a, raw, mapping, end_to_end):
    """Tracing overhead: a traced run's end-to-end numbers minus the
    untraced run's of the same workload and seed, when both exist."""
    other = os.path.join(out_dir, "results",
                         f"{a.workload}-seed{a.seed}-trace{1 - a.trace}.json")
    if not os.path.exists(other):
        return
    with open(other) as f:
        other = json.load(f)
    traced, untraced = (raw, other) if a.trace else (other, raw)
    rows = {}
    for m in end_to_end:
        k = mapping.get(m["name"])
        t, u = traced["metrics"].get(k), untraced["metrics"].get(k)
        if t is not None and u:
            rows[m["name"]] = {"traced": t, "untraced": u, "overhead_share": (t - u) / u}
    path = os.path.join(out_dir, "results", f"{a.workload}-seed{a.seed}-overhead.json")
    with open(path, "w") as f:
        json.dump(rows, f, indent=1, sort_keys=True)
    for name, r in rows.items():
        print(f"perfbench: tracing overhead {name}: {r['overhead_share']:+.1%}", file=sys.stderr)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""perfbench: the repository benchmark. Run from the repository root:

    python3 perfbench/run.py --workload qa_mixed --seed 1 --seconds 12 --trace 0

Builds the engine and the benchmark from source (perfbench/build.py),
generates the seeded inputs (perfbench/gen.py), runs the workload in one
JVM at local[4], checks the outputs (in the JVM, and against the DuckDB
oracle SQL here), and prints one JSON line as the last line of stdout:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
The traced run also writes its spans and samples to
.bench_build/traces/<workload>-<seed>.json. See perfbench/README.md.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("qa_mixed", "admin_mixed")
JVM_TIMEOUT_S = 170
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]

# per-layer metrics, unit from the name suffix: timings and sizes are
# the median of every sample, counters the mean over the run's
# fixed-length request prefix
TIMING_LAYERS = [
    "sessions.start_ms", "chunkindex.write_ms",
    "chunkindex.search.build_ms", "chunkindex.search.plan_ms", "chunkindex.search.exec_ms",
    "chunkindex.upsert_ms", "curate.survivors_ms",
    "pack.trainprep_cold.build_ms", "pack.trainprep_cold.plan_ms", "pack.trainprep_cold.exec_ms",
    "pack.trainprep.build_ms", "pack.trainprep.plan_ms", "pack.trainprep.exec_ms",
] + [f"analytics.{p}.{s}_ms" for p in gen.PANELS for s in ("build", "plan", "exec")] + [
    "spark.task_run_ms", "spark.gc_ms", "spark.idle_ms",
]
COUNTER_LAYERS = [
    "chunkindex.search.jobs", "chunkindex.search.tasks",
    "chunkindex.upsert.jobs", "chunkindex.upsert.tasks", "chunkindex.live_files",
    "pack.trainprep.jobs", "pack.trainprep.tasks",
    "dfcache.memo_computes", "dfcache.staging_rebuilds",
]
SIZE_LAYERS = ["spark.shuffle_write_mb", "spark.spill_mb"]


def percentile(xs, q):
    """Nearest-rank percentile; failed operations are +inf samples."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, math.ceil(q / 100.0 * len(s)) - 1))]


def unit_of(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    return "count"


def run_jvm(cp, workload, in_dir, work_dir, seconds, trace, out_json):
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_GRAFT_", "SPARK_LOCAL_DIRS"))}
    env["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # build.sbt's forked run uses the JDK default collector (G1) and an
    # 8g heap; the parallel collector in 3g gives steadier runs (README.md,
    # "JVM settings"). No perf-data file, and every temp dir under the
    # run directory.
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Dderby.system.home=" + tmp] + opens + [
        "-cp", cp, "graft.perfbench.Main",
        workload, in_dir, work_dir, str(seconds), str(trace), out_json]
    p = subprocess.Popen(cmd, cwd=work_dir, env=env, stdout=subprocess.PIPE,
                         stderr=subprocess.STDOUT, text=True)
    try:
        log, _ = p.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        log, _ = p.communicate()
        sys.exit(f"perfbench: {workload} JVM timed out\n{log[-3000:]}")
    if p.returncode != 0 or not os.path.exists(out_json):
        sys.exit(f"perfbench: {workload} JVM failed (rc={p.returncode})\n{log[-3000:]}")
    with open(out_json) as f:
        return json.load(f)


def timings(res):
    return {k: [float(x) for x in v] for k, v in res["timings"].items()}


def end_to_end(res, gen_s):
    t = timings(res)
    ops = t["op_ms"]
    return {
        "setup_s": gen_s + t["jvm_session_s"][0] + t["warmup_s"][0],
        "build_s": statistics.median(t["build_s"]),
        "op_p50_ms": percentile(ops, 50),
        "update_p50_ms": percentile(t["update_ms"], 50),
    }


def per_layer(res):
    samples = res["samples"]
    counted = res["counted_req"]
    out = {}
    for name in TIMING_LAYERS + SIZE_LAYERS:
        xs = [v for _, v in samples.get(name, [])]
        out[name] = statistics.median(xs) if xs else 0.0
    for name in COUNTER_LAYERS:
        xs = [v for r, v in samples.get(name, []) if r <= counted]
        out[name] = sum(xs) / len(xs) if xs else 0.0
    t = timings(res)
    out["dfcache.staged_mb"] = t["staged_mb"][0]
    out["disk_mb"] = t["disk_mb"][0]
    out["cached_mb"] = t["cached_mb"][0]
    out["trace.op_p50_ms"] = percentile(t["op_ms"], 50)
    return out


def self_times(spans):
    """Span duration minus the part of it its child spans cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur = 0, s["start_ns"]
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_ns"]):
            a, b = max(c["start_ns"], cur), min(c["end_ns"], s["end_ns"])
            if b > a:
                covered += b - a
                cur = b
        out.setdefault(s["name"], []).append((s["end_ns"] - s["start_ns"] - covered) / 1e6)
    return {k: {"n": len(v), "median_ms": statistics.median(v)} for k, v in out.items()}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    root = os.getcwd()
    cp = build.build(root)

    run_dir = os.path.join(root, build.BUILD_DIR, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    in_dir, work_dir = os.path.join(run_dir, "input"), os.path.join(run_dir, "work")
    os.makedirs(work_dir)
    try:
        t0 = time.monotonic()
        gen.generate(a.seed, a.workload, in_dir)
        gen_s = time.monotonic() - t0
        res = run_jvm(cp, a.workload, in_dir, work_dir, a.seconds, a.trace,
                      os.path.join(run_dir, "result.json"))
        failures = [c for c in res["checks"] if not c["ok"]]
        oracle_failures = oracle.check(root, in_dir, res["outputs"], res["oracle_sql"])
        failed = res["failed"] + len(oracle_failures)
        attempted = res["attempted"]
        for c in failures[:5]:
            print(f"check failed: {c['name']}: {c['detail']}", file=sys.stderr)
        for msg in oracle_failures[:5]:
            print(f"oracle check failed: {msg}", file=sys.stderr)
        if a.trace:
            metrics = per_layer(res)
            trace_dir = os.path.join(root, build.BUILD_DIR, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            with open(os.path.join(trace_dir, f"{a.workload}-{a.seed}.json"), "w") as f:
                json.dump({"workload": a.workload, "seed": a.seed, "metrics": metrics,
                           "sample_counts": {k: len(v) for k, v in res["samples"].items()},
                           "self_time": self_times(res["spans"]),
                           "samples": res["samples"], "counted_req": res["counted_req"],
                           "spans": res["spans"], "timings": res["timings"]}, f)
        else:
            metrics = end_to_end(res, gen_s)
        units = {"setup_s": "s", "build_s": "s"}
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": units.get(k, unit_of(k))}
                        for k, v in metrics.items()}}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()

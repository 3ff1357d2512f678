#!/usr/bin/env python3
"""Run one workload untraced and traced on one seed, and print every
end-to-end metric with its unit, every per-layer metric, and the tracing
overhead (traced minus untraced median operation latency).

    python3 perfbench/report.py --workload qa_mixed --seed 1 --seconds 10
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       stdout=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.exit(p.returncode)
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    a = ap.parse_args()
    plain = run(a.workload, a.seed, a.seconds, 0)
    traced = run(a.workload, a.seed, a.seconds, 1)
    print(f"{a.workload} seed {a.seed}: correct={plain['correct'] and traced['correct']} "
          f"attempted={plain['attempted']} failed={plain['failed']}")
    for name, m in list(plain["metrics"].items()) + list(traced["metrics"].items()):
        print(f"  {name:42s} {m['value']:14.3f} {m['unit']}")
    base = plain["metrics"]["op_p50_ms"]["value"]
    over = traced["metrics"]["trace.op_p50_ms"]["value"] - base
    print(f"  tracing overhead on op_p50_ms: {over:+.3f} ms ({100 * over / base:+.1f}% of {base:.3f} ms)")


if __name__ == "__main__":
    main()

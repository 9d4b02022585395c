#!/usr/bin/env python3
"""Run every workload untraced and traced for one seed and print every
metric with its unit, the tracing overhead (traced minus untraced
end-to-end figures) and the share checks that confirm each workload's
purpose.

    python3 perfbench/report.py --seed 1 --seconds 10
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import workloads  # noqa: E402


def run(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace)],
                       capture_output=True, text=True, check=True)
    lines = p.stdout.strip().splitlines()
    for line in lines[:-1]:
        print(f"  [{workload} trace={trace}] {line}")
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    a = ap.parse_args()
    layer = {}
    for w in workloads.NAMES:
        plain = run(w, a.seed, a.seconds, 0)
        traced = run(w, a.seed, a.seconds, 1)
        layer[w] = traced["metrics"]
        print(f"== {w}: correct={plain['correct'] and traced['correct']} "
              f"attempted={plain['attempted']} failed={plain['failed']}")
        for name, m in {**plain["metrics"], **traced["metrics"]}.items():
            print(f"   {name:28s} {m['value']:14.6g} {m['unit']}")
        for e2e, tr in (("ops_per_s", "traced.ops_per_s"), ("op_p50_s", "traced.op_p50_s")):
            base = plain["metrics"][e2e]["value"]
            diff = traced["metrics"][tr]["value"] - base
            print(f"   tracing overhead on {e2e}: {diff:+.4g} ({diff / base:+.1%})")
    v = lambda w, k: layer[w][k]["value"]
    top = lambda k: max(workloads.NAMES, key=lambda w: v(w, k))
    print("== purpose checks")
    print(f"   largest driver-side share (share.driver): {top('share.driver')}")
    print(f"   highest executor core use (exec.core_util): {top('exec.core_util')}")
    print(f"   largest store/fs share (share.store_fs): {top('share.store_fs')}")


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""The repository's benchmark: one command, three workloads.

    python3 perfbench/run.py --workload sql_text --seed 1 --seconds 10 --trace 0

Builds the engine from this checkout (perfbench/build.py), generates every
input from --seed, runs the workload in one JVM as a closed loop with one
client on local[4], checks every answer, and prints one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones. See
perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import metrics  # noqa: E402
import workloads  # noqa: E402

CORES = 4
JVM_TIMEOUT_S = 165
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def run_jvm(config_path, work, timeout):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed-size heap, so the resident set does not follow heap resizing
    cmd = ["java", "-Xms2560m", "-Xmx2560m", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(), "perfbench.Harness", config_path]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=work)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=workloads.NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    t_start = time.monotonic()

    build.build()
    wl = workloads.WORKLOADS[a.workload]
    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        n_passes = max(1, round(a.seconds / wl.PASS_S))
        plan = wl.generate(os.path.join(work, "data"), a.seed, n_passes)
        out = os.path.join(work, "out")
        cfg = dict(plan.get("config", {}), workload=a.workload,
                   data=os.path.join(work, "data"), work=work,
                   op_log=plan["op_log"], out=out,
                   deadline=wl.DEADLINE_S,
                   trace=bool(a.trace), cores=CORES)
        cfg_path = os.path.join(work, "config.json")
        with open(cfg_path, "w") as f:
            json.dump(cfg, f)
        left = JVM_TIMEOUT_S - (time.monotonic() - t_start)
        rc = run_jvm(cfg_path, work, left)
        if rc != 0:
            sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-4000:])
            raise SystemExit(f"perfbench: harness exited with {rc}")
        with open(os.path.join(out, "result.json")) as f:
            res = json.load(f)
        verdicts = wl.verify(res, plan, out)
        ops = metrics.classify(res["ops"], verdicts, wl.DEADLINE_S)
        if a.trace:
            extra = wl.extra(res, ops, plan) if hasattr(wl, "extra") else {}
            m = metrics.per_layer(res, ops, CORES, extra)
            self_s = m.pop("self_s")
            print("self time by span, s: " + json.dumps(
                {k: round(v, 4) for k, v in sorted(self_s.items())}))
            spans = os.path.join(HERE, ".work", f"spans-{a.workload}-{a.seed}.json")
            with open(spans, "w") as f:
                json.dump(res["trace"], f)
            units = dict(metrics.PER_LAYER)
        else:
            m = {k: v for k, (v, _) in metrics.end_to_end(res, ops).items()}
            units = dict(metrics.END_TO_END)
        for o in ops:
            if o["failed"]:
                print(f"failed op {o['i']} {o['name']}: {o['why']}")
        final_ok = getattr(wl, "final_ok", lambda *_: True)
        line = {"correct": all(v["correct"] for v in verdicts.values())
                and final_ok(res, plan, out),
                "attempted": len(ops),
                "failed": sum(1 for o in ops if o["failed"]),
                "metrics": {k: {"value": m[k], "unit": u} for k, u in units.items()}}
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(line))


if __name__ == "__main__":
    main()

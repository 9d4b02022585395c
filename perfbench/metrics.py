"""Metrics from a run's results: end-to-end (untraced run) and per-layer
(traced run). Names and units here must match BENCHMARK.json."""
import statistics

MB = 1048576.0

END_TO_END = [("setup_s", "s"), ("ops_per_s", "1/s"), ("op_p50_s", "s"),
              ("peak_rss_mb", "MB")]

STORE_KINDS = ["sink.upsert", "sink.delete", "sink.compact", "sink.point_read",
               "sink.scan", "lex.upsert", "lex.delete", "lex.compact",
               "lex.search", "vec.upsert", "vec.delete", "vec.compact",
               "vec.search"]

PER_LAYER = (
    [("traced.ops_per_s", "1/s"), ("traced.op_p50_s", "s"),
     ("share.driver", "ratio"), ("share.store_fs", "ratio"),
     ("sql.analyze_s", "s"), ("plan.optimize_s", "s"), ("plan.physical_s", "s"),
     ("ops.call_s", "s"), ("exec.action_s", "s"),
     ("sched.jobs_per_op", "count"), ("sched.stages_per_op", "count"),
     ("sched.tasks_per_op", "count"), ("sched.driver_idle_s", "s"),
     ("sched.task_overhead_s", "s"), ("sched.max_concurrent_jobs", "count"),
     ("exec.task_s", "s"), ("exec.cpu_s", "s"), ("exec.gc_s", "s"),
     ("exec.core_util", "ratio"), ("exec.input_mb", "MB"),
     ("exec.shuffle_read_mb", "MB"), ("exec.shuffle_write_mb", "MB"),
     ("exec.spill_mb", "MB"), ("exec.peak_mem_mb", "MB"),
     ("exec.failed_tasks", "count"),
     ("tables.warm_s", "s"), ("tables.cached_mb", "MB"),
     ("tables.cached_partitions", "count")]
    + [(k + "_s", "s") for k in STORE_KINDS]
    + [("store.jobs_per_write", "count"), ("store.files_written", "count"),
       ("store.bytes_written_mb", "MB"), ("store.files_live", "count"),
       ("store.marker_files", "count"),
       ("fs.bytes_read_mb", "MB"), ("fs.bytes_written_mb", "MB"),
       ("jvm.driver_gc_s", "s"), ("jvm.heap_peak_mb", "MB"),
       ("lifecycle.write_p50_s", "s"), ("lifecycle.read_p50_s", "s"),
       ("lifecycle.write_amp", "ratio"), ("lifecycle.space_amp", "ratio"),
       ("lifecycle.recall_at_10", "ratio")])


def classify(ops, verdicts, deadline):
    """Mark each operation failed if it threw, ran past its deadline or
    gave a wrong answer. A failed operation counts as missing every
    latency limit: its latency is at least the deadline."""
    out = []
    for op in ops:
        v = verdicts.get(op["i"], {"correct": True, "why": ""})
        failed = op["status"] != "ok" or not v["correct"]
        why = op["error"] if op["status"] != "ok" else v["why"]
        lat = max(op["dur_s"], deadline) if failed else op["dur_s"]
        out.append(dict(op, failed=failed, why=why, lat_s=lat))
    return out


def percentile(ops, p):
    """Nearest-rank percentile of operation latency; failed operations
    sort above every success."""
    if not ops:
        return 0.0
    keys = sorted((o["failed"], o["lat_s"]) for o in ops)
    k = max(0, min(len(keys) - 1, -(-p * len(keys) // 100) - 1))
    return keys[k][1]


def end_to_end(res, ops):
    return {
        "setup_s": (res["setup_s"], "s"),
        "ops_per_s": (len(ops) / res["loop_s"], "1/s"),
        "op_p50_s": (percentile(ops, 50), "s"),
        "peak_rss_mb": (res["jvm"]["rss_peak_mb"], "MB"),
    }


def _union_ms(intervals, lo, hi):
    """Length of the union of `intervals` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def max_concurrent(intervals):
    events = sorted([(s, 1) for s, _ in intervals] + [(e, -1) for _, e in intervals],
                    key=lambda x: (x[0], x[1]))
    cur = best = 0
    for _, d in events:
        cur += d
        best = max(best, cur)
    return best


def self_times(spans, jobs):
    """Self time per span name: a span's duration minus the spans and jobs
    that ran inside it (same operation, nested in time)."""
    out = {}
    for s in spans:
        inner = [(c["start_ms"], c["end_ms"]) for c in spans
                 if c is not s and c["op"] == s["op"]
                 and c["start_ms"] >= s["start_ms"] and c["end_ms"] <= s["end_ms"]]
        inner += [(j["start_ms"], j.get("end_ms", j["start_ms"])) for j in jobs
                  if j["op"] == s["op"]]
        own = (s["end_ms"] - s["start_ms"]) - _union_ms(inner, s["start_ms"], s["end_ms"])
        out[s["name"]] = out.get(s["name"], 0.0) + own / 1e3
    return out


def per_layer(res, ops, cores, extra):
    n = max(1, len(ops))
    tr = res.get("trace", {})
    spans, jobs, stages = tr.get("spans", []), tr.get("jobs", []), tr.get("stages", [])
    op_s = sum(o["dur_s"] for o in ops) or 1.0

    def span_s(name):
        return sum(s["end_ms"] - s["start_ms"] for s in spans if s["name"] == name) / 1e3

    def stage_sum(k):
        return sum(st[k] for st in stages if st["op"] >= 0)

    op_jobs = [j for j in jobs if j["op"] >= 0]
    intervals = [(j["start_ms"], j.get("end_ms", j["start_ms"])) for j in op_jobs]
    jobs_of = {}
    for j in op_jobs:
        jobs_of.setdefault(j["op"], []).append((j["start_ms"], j.get("end_ms", j["start_ms"])))

    def idle_ms(op_i, lo, hi):
        return (hi - lo) - _union_ms(jobs_of.get(op_i, []), lo, hi)

    idle = sum(idle_ms(o["i"], o["start_ms"], o["end_ms"]) for o in ops) / 1e3
    # driver time inside module calls with no job running: file listing,
    # commit markers and other driver-side work of the stored structures
    call_idle = sum(idle_ms(s["op"], s["start_ms"], s["end_ms"])
                    for s in spans if s["name"] == "ops.call") / 1e3
    by_kind = {}
    for o in ops:
        by_kind.setdefault(o["kind"], []).append(o["dur_s"])
    kinds = {o["i"]: o["kind"] for o in ops}
    writes = [o for o in ops if o["kind"] in extra.get("write_kinds", ())]
    fs, store, jvm = res["fs"], res["store"], res["jvm"]
    driver = span_s("sql.analyze") + span_s("plan.optimize") + span_s("plan.physical") + idle
    m = {
        "traced.ops_per_s": len(ops) / res["loop_s"],
        "traced.op_p50_s": percentile(ops, 50),
        "share.driver": driver / op_s,
        "share.store_fs": call_idle / op_s,
        "sql.analyze_s": span_s("sql.analyze") / n,
        "plan.optimize_s": span_s("plan.optimize") / n,
        "plan.physical_s": span_s("plan.physical") / n,
        "ops.call_s": span_s("ops.call") / n,
        "exec.action_s": span_s("action") / n,
        "sched.jobs_per_op": len(op_jobs) / n,
        "sched.stages_per_op": sum(j["stages"] for j in op_jobs) / n,
        "sched.tasks_per_op": stage_sum("tasks") / n,
        "sched.driver_idle_s": idle / n,
        "sched.task_overhead_s": stage_sum("overhead_s") / n,
        "sched.max_concurrent_jobs": max_concurrent(intervals),
        "exec.task_s": stage_sum("run_s") / n,
        "exec.cpu_s": stage_sum("cpu_s") / n,
        "exec.gc_s": stage_sum("gc_s") / n,
        "exec.core_util": stage_sum("run_s") / (res["loop_s"] * cores),
        "exec.input_mb": stage_sum("input_b") / MB / n,
        "exec.shuffle_read_mb": stage_sum("shuffle_read_b") / MB / n,
        "exec.shuffle_write_mb": stage_sum("shuffle_write_b") / MB / n,
        "exec.spill_mb": stage_sum("spill_b") / MB / n,
        "exec.peak_mem_mb": max([st["peak_mem_b"] for st in stages] or [0]) / MB,
        "exec.failed_tasks": stage_sum("failed_tasks"),
        "tables.warm_s": store.get("warm_s", 0.0),
        "tables.cached_mb": store.get("cached_mb", 0.0),
        "tables.cached_partitions": store.get("cached_partitions", 0),
        "store.jobs_per_write": (sum(1 for j in op_jobs if kinds.get(j["op"]) in
                                     extra.get("write_kinds", ()))
                                 / max(1, len(writes))),
        "store.files_written": store.get("files_written", 0),
        "store.bytes_written_mb": store.get("bytes_written_live", 0) / MB,
        "store.files_live": store.get("files_live", 0),
        "store.marker_files": store.get("marker_files", 0),
        "fs.bytes_read_mb": fs["bytes_read"] / MB,
        "fs.bytes_written_mb": fs["bytes_written"] / MB,
        "jvm.driver_gc_s": jvm["loop_gc_s"],
        "jvm.heap_peak_mb": jvm["heap_peak_mb"],
    }
    for k in STORE_KINDS:
        m[k + "_s"] = statistics.mean(by_kind[k]) if k in by_kind else 0.0
    m.update({k: extra.get(k, 0.0) for k in
              ("lifecycle.write_p50_s", "lifecycle.read_p50_s", "lifecycle.write_amp",
               "lifecycle.space_amp", "lifecycle.recall_at_10")})
    m["self_s"] = self_times(spans, jobs)
    return m

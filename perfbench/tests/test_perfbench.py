"""The benchmark's own tests: metric names, the percentile rule, failure
accounting and deterministic generators.

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import json
import os
import re
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import metrics  # noqa: E402
import workloads  # noqa: E402


def op(i, dur, status="ok", kind="sql", start_ms=0, end_ms=None):
    return {"i": i, "kind": kind, "name": kind, "dur_s": dur, "status": status,
            "error": "" if status == "ok" else status,
            "start_ms": start_ms, "end_ms": end_ms if end_ms is not None
            else start_ms + dur * 1e3}


def fake_result(ops):
    return {"setup_s": 2.5, "loop_s": 5.0, "ops": ops,
            "fs": {"bytes_read": 10, "bytes_written": 10},
            "store": {"warm_s": 1.0, "cached_mb": 2.0, "cached_partitions": 3},
            "jvm": {"rss_peak_mb": 100.0, "heap_peak_mb": 50.0, "loop_gc_s": 0.1},
            "trace": {"spans": [], "jobs": [], "stages": []}}


class MetricNames(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            self.spec = json.load(f)

    def test_end_to_end_names_and_units_match_benchmark_json(self):
        want = [(m["name"], m["unit"]) for m in self.spec["end_to_end"]]
        self.assertEqual(sorted(want), sorted(metrics.END_TO_END))
        ops = metrics.classify([op(0, 0.5)], {}, 10.0)
        printed = metrics.end_to_end(fake_result(ops), ops)
        self.assertEqual(sorted(printed), sorted(n for n, _ in want))
        self.assertEqual({k: u for k, (_, u) in printed.items()}, dict(want))

    def test_per_layer_names_and_units_match_benchmark_json(self):
        want = [(m["name"], m["unit"]) for m in self.spec["per_layer"]]
        self.assertEqual(sorted(want), sorted(metrics.PER_LAYER))
        ops = metrics.classify([op(0, 0.5)], {}, 10.0)
        printed = metrics.per_layer(fake_result(ops), ops, 4, {})
        printed.pop("self_s")
        self.assertEqual(sorted(printed), sorted(n for n, _ in want))

    def test_every_workload_is_in_benchmark_json(self):
        self.assertEqual(sorted(w["name"] for w in self.spec["workloads"]),
                         workloads.NAMES)


class PercentileRule(unittest.TestCase):
    def test_only_percentiles_with_ten_samples_beyond_are_named(self):
        """A tail percentile is named only if a run has ten samples above
        it. A run holds one pass of 10 to 17 operations, so p75 and p90
        never qualify; the median is always reported."""
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            spec = json.load(f)
        named = {int(p) for m in spec["end_to_end"] + spec["per_layer"]
                 for p in re.findall(r"_p(\d+)_", m["name"])}
        self.assertEqual(named, {50})
        passes = [len(workloads.SqlText.STATEMENTS), len(workloads.Curation.QUERIES),
                  len(workloads.Lifecycle.CYCLE)]
        for n in passes:
            self.assertLess(n * 0.25, 10)

    def test_nearest_rank(self):
        ops = metrics.classify([op(i, d) for i, d in enumerate([4, 1, 3, 2])], {}, 10)
        self.assertEqual(metrics.percentile(ops, 50), 2)
        self.assertEqual(metrics.percentile(ops, 75), 3)
        self.assertEqual(metrics.percentile(ops, 100), 4)


class FailureAccounting(unittest.TestCase):
    """A planted throwing operation and a planted slow operation both count
    as failed and both sort above every success in the percentiles."""

    def setUp(self):
        raw = [op(i, 0.1 * (i + 1)) for i in range(8)]
        raw.append(op(8, 0.01, status="error"))      # threw at once
        raw.append(op(9, 20.5, status="deadline"))   # still running at 20 s
        wrong = {3: {"correct": False, "why": "digest differs"}}
        self.ops = metrics.classify(raw, wrong, 20.0)

    def test_thrown_slow_and_wrong_operations_fail(self):
        failed = sorted(o["i"] for o in self.ops if o["failed"])
        self.assertEqual(failed, [3, 8, 9])

    def test_failures_miss_every_latency_limit(self):
        # 7 successes below 1 s; the three failures take the top ranks
        self.assertEqual(metrics.percentile(self.ops, 70), 0.8)
        self.assertGreaterEqual(metrics.percentile(self.ops, 80), 20.0)
        self.assertGreaterEqual(metrics.percentile(self.ops, 90), 20.0)
        self.assertEqual(metrics.percentile(self.ops, 100), 20.5)

    def test_throughput_counts_failed_operations_as_attempted(self):
        m = metrics.end_to_end(fake_result(self.ops), self.ops)
        self.assertEqual(m["ops_per_s"][0], 10 / 5.0)


class DriverIdle(unittest.TestCase):
    def test_idle_is_operation_time_without_a_job(self):
        ops = metrics.classify([op(0, 1.0, start_ms=0, end_ms=1000)], {}, 10)
        res = fake_result(ops)
        res["trace"]["jobs"] = [
            {"id": 0, "op": 0, "start_ms": 100, "end_ms": 300, "stages": 1, "tasks": 2},
            {"id": 1, "op": 0, "start_ms": 200, "end_ms": 400, "stages": 1, "tasks": 2}]
        m = metrics.per_layer(res, ops, 4, {})
        self.assertAlmostEqual(m["sched.driver_idle_s"], 0.7)
        self.assertEqual(m["sched.max_concurrent_jobs"], 2)


def _files(d):
    return sorted(os.path.relpath(os.path.join(r, f), d)
                  for r, _, fs in os.walk(d) for f in fs)


class Generators(unittest.TestCase):
    def assert_same_tree(self, a, b):
        self.assertEqual(_files(a), _files(b))
        for f in _files(a):
            self.assertTrue(filecmp.cmp(os.path.join(a, f), os.path.join(b, f),
                                        shallow=False), f)

    def test_same_seed_gives_byte_identical_inputs(self):
        for wl in (workloads.SqlText, workloads.Curation, workloads.Lifecycle):
            with tempfile.TemporaryDirectory() as t:
                a, b = os.path.join(t, "a"), os.path.join(t, "b")
                wl.generate(a, 7, 1)
                wl.generate(b, 7, 1)
                self.assert_same_tree(a, b)

    def test_another_seed_gives_other_inputs(self):
        with tempfile.TemporaryDirectory() as t:
            a, b = os.path.join(t, "a"), os.path.join(t, "b")
            gen.warehouse(a, 0.001, 1)
            gen.warehouse(b, 0.001, 2)
            self.assertFalse(filecmp.cmp(os.path.join(a, "lineitem.parquet"),
                                         os.path.join(b, "lineitem.parquet"),
                                         shallow=False))

    def test_lifecycle_ids_stay_below_the_insert_offset(self):
        with tempfile.TemporaryDirectory() as t:
            plan = workloads.Lifecycle.generate(os.path.join(t, "d"), 3, 2)
            import pyarrow.parquet as pq
            for line in open(plan["op_log"]):
                o = json.loads(line)
                if "file" in o:
                    tab = pq.read_table(os.path.join(t, "d", o["file"]))
                    for c in ("doc_id", "vec_id"):
                        if c in tab.column_names:
                            self.assertLess(max(tab.column(c).to_pylist()), 1_000_000)


if __name__ == "__main__":
    unittest.main()

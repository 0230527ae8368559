"""Tests of the benchmark's own accounting.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import accounting as acc  # noqa: E402
import metrics  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_samples_needed_beyond_each_percentile(self):
        self.assertEqual(acc.needed_samples(0.50), 20)
        self.assertEqual(acc.needed_samples(0.95), 200)
        self.assertEqual(acc.needed_samples(0.99), 1000)

    def test_too_few_samples_give_no_percentile(self):
        self.assertIsNone(acc.percentile(list(range(199)), 0.95))
        self.assertIsNotNone(acc.percentile(list(range(200)), 0.95))
        self.assertIsNone(acc.percentile(list(range(19)), 0.50))
        self.assertIsNone(acc.percentile([], 0.50))

    def test_nearest_rank_leaves_ten_beyond(self):
        values = list(range(1, 201))
        p95 = acc.percentile(values, 0.95)
        self.assertEqual(p95, 190)
        self.assertEqual(sum(1 for v in values if v > p95), 10)
        self.assertEqual(acc.percentile(list(range(1, 1001)), 0.99), 990)
        self.assertEqual(acc.percentile(list(range(20, 0, -1)), 0.50), 10)


class FailureTest(unittest.TestCase):
    def test_failures_enter_as_infinity(self):
        samples = acc.latency_samples([(5.0, True), (7.0, False), (1.0, True)])
        self.assertEqual(samples, [5.0, acc.INF, 1.0])

    def test_failures_push_percentiles_up(self):
        ok = [(float(i), True) for i in range(1, 21)]
        base = acc.percentile(acc.latency_samples(ok), 0.50)
        with_fail = acc.percentile(
            acc.latency_samples(ok[:-11] + [(1.0, False)] * 11), 0.50)
        self.assertEqual(base, 10.0)
        self.assertEqual(with_fail, acc.INF)


class JobUnionTest(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        jobs = [(0, 100), (50, 150), (200, 300), (250, 260), (900, 1200)]
        self.assertEqual(acc.interval_union(jobs), 150 + 100 + 300)
        self.assertEqual(acc.interval_union(jobs, (100, 1000)), 50 + 100 + 100)
        self.assertEqual(acc.interval_union([]), 0)

    def test_job_time_and_gap_over_query_windows(self):
        jobs = [(1000, 1400), (1300, 1600), (2500, 2600), (5000, 6000)]
        windows = [(1000, 2000), (2000, 3000)]
        job_s = acc.job_time(jobs, windows)
        self.assertAlmostEqual(job_s, 0.7)
        self.assertAlmostEqual(acc.driver_gap(2.0, job_s), 1.3)
        self.assertEqual(acc.driver_gap(0.5, 0.7), 0.0)

    def test_layer_metrics_from_synthetic_listener_events(self):
        rec = {
            "workload": "queries", "cpus": 4, "jvm_gc_s": 0.1,
            "queries": [
                {"name": "a", "start_ms": 0, "end_ms": 1000,
                 "build_s": 0.4, "action_s": 0.6, "wall_s": 1.0},
                {"name": "b", "start_ms": 2000, "end_ms": 2500,
                 "build_s": 0.1, "action_s": 0.4, "wall_s": 0.5}],
            "trace": {
                "spark": {
                    "jobs": [[0, 100, 300, "build", "a", 0, True],
                             [1, 200, 400, "build", "a", 1, True],
                             [2, 500, 1000, "action", "a", 0, True],
                             [3, 2100, 2400, "action", "b", 2, True],
                             [4, 3000, 3100, "replay", "x", 0, True]],
                    "stages": 6, "tasks": 12, "task_run_s": 2.0},
                "catalyst": {"optimize_ms": 5, "plan_ms": 3}}}
        m = metrics.layer_metrics(rec, 1.5)
        self.assertEqual(m["spark.jobs"], 4)
        self.assertEqual(m["spark.stages_skipped"], 3)
        self.assertEqual(m["queries.build_jobs"], 2)
        self.assertAlmostEqual(m["queries.probe_share"], 0.5)
        self.assertAlmostEqual(m["spark.job_s"], 1.1)
        self.assertAlmostEqual(m["driver.gap_s"], 0.4)
        self.assertAlmostEqual(m["spark.core_busy"], 2.0 / (1.1 * 4))
        self.assertAlmostEqual(m["queries.build_s"], 0.5)


class VerdictTest(unittest.TestCase):
    def record(self, rows, hash_):
        return {"workload": "queries", "setup_s": [9.0, 3.0, 1.0, 2.0],
                "heap_retained_mb": 80.0, "jvm_gc_s": 0.0, "cpus": 4,
                "queries": [{"name": "sf1:q", "ok": True, "start_ms": 0,
                             "end_ms": 10, "build_s": 0.1, "action_s": 0.9,
                             "wall_s": 1.0, "rows": rows, "hash": hash_}]}

    def test_fingerprint_mismatch_is_a_failure(self):
        expected = {"sf1:q": {"rows": 5, "hash": "123"}}
        good = metrics.query_metrics(self.record(5, "123"), expected)
        bad = metrics.query_metrics(self.record(5, "124"), expected)
        self.assertEqual(good[1], [])
        self.assertEqual(len(bad[1]), 1)
        self.assertEqual(bad[3]["error_rate"], 1.0)

    def test_setup_is_the_median_of_the_warm_setups(self):
        out = metrics.evaluate(self.record(5, "123"), HERE, trace=False)
        self.assertEqual(out["line"]["metrics"]["setup_s"]["value"], 2.0)
        self.assertEqual(out["extended"]["setup_cold_s"], 9.0)


class BenchmarkFileTest(unittest.TestCase):
    def test_metric_lists_match_benchmark_json(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]},
                         metrics.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]},
                         metrics.PER_LAYER)


if __name__ == "__main__":
    unittest.main()

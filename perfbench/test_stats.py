"""Tests of the benchmark's pure helpers.

    python3 perfbench/test_stats.py
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import oracle  # noqa: E402
import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        xs = list(range(1, 20))  # 19 samples: even p50 leaves only 9 beyond
        self.assertIsNone(stats.tail(xs))
        self.assertEqual(stats.tail(list(range(1, 21))), (50, 10))

    def test_picks_highest_qualifying_percentile(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.tail(xs), (90, 90))  # p95 leaves 5 beyond
        self.assertEqual(stats.tail(list(range(1, 1001))), (99, 990))

    def test_order_does_not_matter(self):
        self.assertEqual(stats.tail(list(range(100, 0, -1))), (90, 90))

    def test_empty(self):
        self.assertIsNone(stats.tail([]))


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(stats.union_length([(0, 10), (2, 3)]), 10)

    def test_union_clips(self):
        self.assertEqual(stats.union_length([(0, 10), (20, 30)], 5, 25), 10)

    def test_driver_time_is_what_no_job_covers(self):
        # span 0..100, jobs 10..30 and 20..50, 90..120 -> covered 10..50, 90..100
        self.assertEqual(stats.uncovered(0, 100, [(10, 30), (20, 50), (90, 120)]), 50)
        self.assertEqual(stats.uncovered(0, 100, []), 100)
        self.assertEqual(stats.uncovered(0, 100, [(-5, 200)]), 0)

    def test_driver_times_subtract_children_and_own_jobs(self):
        spans = [{"id": 0, "parent": -1, "start_ns": 0, "end_ns": 100},
                 {"id": 1, "parent": 0, "start_ns": 10, "end_ns": 40}]
        jobs = [{"span": 0, "start_ns": 50, "end_ns": 70},
                {"span": 1, "start_ns": 15, "end_ns": 35}]
        self.assertEqual(stats.driver_times(spans, jobs), {0: 50, 1: 10})


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_child_coverage(self):
        spans = [{"id": 0, "parent": -1, "start_ns": 0, "end_ns": 100},
                 {"id": 1, "parent": 0, "start_ns": 10, "end_ns": 40},
                 {"id": 2, "parent": 0, "start_ns": 30, "end_ns": 60},
                 {"id": 3, "parent": 1, "start_ns": 12, "end_ns": 20}]
        self.assertEqual(stats.self_times(spans), {0: 50, 1: 22, 2: 30, 3: 8})

    def test_self_times_sum_to_top_level_duration(self):
        spans = [{"id": 0, "parent": -1, "start_ns": 0, "end_ns": 100},
                 {"id": 1, "parent": 0, "start_ns": 0, "end_ns": 100},
                 {"id": 2, "parent": 1, "start_ns": 25, "end_ns": 75}]
        self.assertEqual(sum(stats.self_times(spans).values()), 100)


class FingerprintTest(unittest.TestCase):
    def test_match_needs_rows_and_hash(self):
        exp = {"rows": 3, "hash": "00ff"}
        self.assertTrue(stats.fingerprint_matches(exp, 3, "00ff"))
        self.assertFalse(stats.fingerprint_matches(exp, 4, "00ff"))
        self.assertFalse(stats.fingerprint_matches(exp, 3, "00fe"))
        self.assertFalse(stats.fingerprint_matches(None, 3, "00ff"))

    def test_fingerprint_ignores_row_and_column_order(self):
        a = oracle.fingerprint(["b", "a"], [(1, "x"), (2, "y")])
        b = oracle.fingerprint(["a", "b"], [("y", 2), ("x", 1)])
        self.assertEqual(a, b)
        self.assertNotEqual(a, oracle.fingerprint(["a", "b"], [("y", 2), ("x", 3)]))

    def test_doubles_round_to_twelve_digits(self):
        self.assertEqual(oracle.canon(0.1 + 0.2), "0.3")
        self.assertEqual(oracle.canon(-0.0), "0")
        self.assertEqual(oracle.canon(1e16), "1e+16")
        self.assertEqual(oracle.canon(float("nan")), "NaN")


class PassTest(unittest.TestCase):
    def test_measured_passes_drop_the_cold_one(self):
        self.assertEqual(stats.measured_passes([0, 0, 1, 2]), [1, 2])
        self.assertEqual(stats.measured_passes([0, 0]), [0])

    def test_layer_of(self):
        self.assertEqual(stats.layer_of("operators.Dedup.clustersOfVerified"), "operators.Dedup")


if __name__ == "__main__":
    unittest.main()

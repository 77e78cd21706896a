"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertIsNone(stats.highest_supported_percentile(19))
        self.assertEqual(stats.highest_supported_percentile(20), 50.0)
        self.assertEqual(stats.highest_supported_percentile(99), 50.0)
        self.assertEqual(stats.highest_supported_percentile(100), 90.0)
        self.assertEqual(stats.highest_supported_percentile(999), 90.0)
        self.assertEqual(stats.highest_supported_percentile(1000), 99.0)
        self.assertEqual(stats.highest_supported_percentile(10000), 99.9)

    def test_percentile_interpolates(self):
        self.assertEqual(stats.percentile([4, 1, 3, 2], 50), 2.5)
        self.assertEqual(stats.percentile(range(101), 99), 99)
        self.assertIsNone(stats.percentile([], 50))


class SpanTest(unittest.TestCase):
    def test_self_time_subtracts_union_of_children(self):
        spans = [
            {"id": 1, "parent": -1, "start": 0, "end": 100},
            # overlapping children cover 10..50 once, not twice
            {"id": 2, "parent": 1, "start": 10, "end": 40},
            {"id": 3, "parent": 1, "start": 30, "end": 50},
            # a grandchild counts against its parent only
            {"id": 4, "parent": 2, "start": 15, "end": 25},
            # a child running past its parent's end is clipped
            {"id": 5, "parent": 1, "start": 90, "end": 120},
        ]
        self.assertEqual(stats.self_times(spans),
                         {1: 100 - 40 - 10, 2: 30 - 10, 3: 20, 4: 10, 5: 30})

    def test_driver_gap_is_wall_minus_union_of_jobs(self):
        jobs = [(10, 20), (15, 30), (50, 60), (95, 130), (200, 210)]
        # covered inside [0, 100]: 10..30, 50..60, 95..100 = 35
        self.assertEqual(stats.driver_gap(0, 100, jobs), 65)
        self.assertEqual(stats.driver_gap(0, 100, []), 100)
        self.assertEqual(stats.union_length([(0, 5), (5, 10), (3, 4)]), 10)


class ExactlyOnceTest(unittest.TestCase):
    SENT = [(1, 10), (2, 20), (3, 30), (2, 20), (3, 30)]  # 2 and 3 re-sent

    def test_resends_committed_once_pass(self):
        r = stats.exactly_once(self.SENT, [(3, 30), (1, 10), (2, 20)])
        self.assertEqual((r["sent"], r["missing"], r["duplicated"], r["wrong"]), (3, 0, 0, 0))
        self.assertEqual(r["sent_sum"], 60)
        self.assertEqual(r["committed_sum"], 60)

    def test_resend_committed_twice_is_a_duplicate(self):
        r = stats.exactly_once(self.SENT, [(1, 10), (2, 20), (2, 20), (3, 30)])
        self.assertEqual((r["missing"], r["duplicated"], r["wrong"]), (0, 1, 0))
        self.assertEqual(r["committed_sum"] - r["sent_sum"], 20)

    def test_missing_and_altered_events(self):
        r = stats.exactly_once(self.SENT, [(1, 11), (2, 20), (9, 1)])
        self.assertEqual((r["missing"], r["duplicated"], r["wrong"]), (1, 0, 2))


class GrowthTest(unittest.TestCase):
    def test_last_quarter_over_first_quarter(self):
        self.assertEqual(stats.growth([1, 1, 2, 2, 3, 3, 4, 4]), 4.0)
        self.assertEqual(stats.growth([2, 3]), 1.5)
        self.assertIsNone(stats.growth([5]))


class TracingOverheadTest(unittest.TestCase):
    def test_linear_drift_cancels(self):
        # warming up by 1 s a window, tracing costs 0.5 s
        self.assertAlmostEqual(stats.tracing_overhead(10.0, 9.0 + 0.5, 8.0), 0.5)

    def test_no_drift_no_cost(self):
        self.assertEqual(stats.tracing_overhead(3.0, 3.0, 3.0), 0.0)


if __name__ == "__main__":
    unittest.main()

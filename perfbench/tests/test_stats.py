"""Self-tests of the benchmark's arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(stats.percentile(xs, 0.5), 3)
        self.assertEqual(stats.percentile([1, 2, 3, 4], 0.5), 2)
        self.assertEqual(stats.percentile(xs, 1.0), 5)
        self.assertIsNone(stats.percentile([], 0.5))

    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertIsNone(stats.percentile(range(99), 0.9, min_beyond=10))
        self.assertEqual(stats.percentile(range(100), 0.9, min_beyond=10), 89)
        self.assertEqual(stats.percentile(range(1, 101), 0.9, min_beyond=10), 90)

    def test_p50_of_few_samples_is_still_reported(self):
        self.assertEqual(stats.percentile([7.0], 0.5), 7.0)


class FailedFracTest(unittest.TestCase):
    def test_each_failure_counts_once(self):
        # 3 passes x 4 queries timed + 4 verified; one throw, one time-limit
        # cancel, one output mismatch
        self.assertAlmostEqual(stats.failed_frac(16, 3), 3 / 16)
        self.assertEqual(stats.failed_frac(5, 0), 0.0)

    def test_nothing_attempted_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.failed_frac(0, 0)


class SelfTimeTest(unittest.TestCase):
    def test_parent_minus_union_of_children(self):
        # children overlap (4-6) and one pokes out of the parent (9-12)
        self.assertAlmostEqual(stats.self_time((0, 10), [(2, 6), (4, 7), (9, 12)]), 4.0)

    def test_no_children_is_the_whole_span(self):
        self.assertEqual(stats.self_time((3, 8), []), 5)

    def test_disjoint_children(self):
        self.assertEqual(stats.union_length([(0, 1), (2, 3), (2.5, 4)]), 3)

    def test_by_kind(self):
        spans = [
            {"id": 1, "parent": 0, "kind": "query", "start_ms": 0, "end_ms": 100},
            {"id": 2, "parent": 1, "kind": "build", "start_ms": 0, "end_ms": 30},
            {"id": 3, "parent": 1, "kind": "execute", "start_ms": 30, "end_ms": 100},
            {"id": 4, "parent": 3, "kind": "plan", "start_ms": 30, "end_ms": 40},
            {"id": 5, "parent": 3, "kind": "job", "start_ms": 45, "end_ms": 95},
            {"id": 6, "parent": 5, "kind": "stage", "start_ms": 50, "end_ms": 90},
            {"id": 7, "parent": 3, "kind": "job", "start_ms": 60, "end_ms": None},
        ]
        s = stats.self_times_by_kind(spans)
        self.assertEqual(s["query"], 0)
        self.assertEqual(s["build"], 30)
        self.assertEqual(s["execute"], 70 - 10 - 50)
        self.assertEqual(s["job"], 10)
        self.assertEqual(s["stage"], 40)


if __name__ == "__main__":
    unittest.main()

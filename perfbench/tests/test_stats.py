"""Tests for perfbench's statistics and span arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""

import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import stats  # noqa: E402


class Median(unittest.TestCase):
    def test_median_odd_even_empty(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        self.assertEqual(stats.median([]), 0.0)


class Tail(unittest.TestCase):
    def test_exactly_ten_samples_beyond(self):
        xs = list(range(1, 101))           # 1..100
        v, pct, n = stats.tail(xs)
        self.assertEqual((v, n), (90, 100))
        self.assertEqual(sum(x > v for x in xs), 10)
        self.assertAlmostEqual(pct, 90.0)

    def test_percentile_follows_sample_count(self):
        v, pct, n = stats.tail([float(i) for i in range(40)])
        self.assertEqual(v, 29.0)
        self.assertAlmostEqual(pct, 75.0)

    def test_order_does_not_matter(self):
        xs = [7.0, 1.0, 30.0, 12.0, 5.0, 9.0, 3.0, 22.0, 4.0, 8.0, 6.0, 2.0]
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))
        self.assertEqual(stats.tail(xs)[0], 2.0)   # 10 samples above 2.0

    def test_too_few_samples_report_the_maximum(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))
        self.assertEqual(stats.tail([float(i) for i in range(10)]), (9.0, 100.0, 10))


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps_and_touching(self):
        self.assertEqual(stats.union([(5, 7), (0, 2), (1, 3), (3, 4)]), [(0, 4), (5, 7)])
        self.assertEqual(stats.union([(2, 2), (4, 3)]), [])

    def test_length_counts_overlap_once(self):
        self.assertEqual(stats.length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(stats.length([]), 0)

    def test_clip(self):
        self.assertEqual(stats.clip([(0, 5), (8, 12), (20, 30)], 3, 10), [(3, 5), (8, 10)])

    def test_minus(self):
        self.assertEqual(stats.minus([(0, 10)], [(2, 4), (3, 6), (9, 20)]), 5)
        self.assertEqual(stats.minus([(0, 10)], []), 10)


class SelfTime(unittest.TestCase):
    def test_self_time_subtracts_covered_children(self):
        self.assertEqual(stats.self_time((0, 100), [(10, 30), (20, 40), (60, 70)]), 60)

    def test_children_outside_the_span_do_not_count(self):
        self.assertEqual(stats.self_time((0, 100), [(-10, 10), (90, 120), (200, 300)]), 80)

    def test_decompose_sums_to_wall_when_nested(self):
        # request 0..100: plans.execute 5..40 with sources.read 10..20 inside,
        # client.collect 45..95 holding catalyst 46..50 and two jobs
        spans = [(1, 0, "plans.execute", 5, 40), (2, 1, "sources.read", 10, 20),
                 (3, 0, "client.collect", 45, 95)]
        jobs = [(52, 70), (60, 80)]
        catalyst = [(46, 50), (12, 14)]
        parts = stats.decompose((0, 100), spans, jobs, catalyst)
        self.assertEqual(parts["jobs"], 28)
        self.assertEqual(parts["catalyst"], 6)
        self.assertEqual(parts["sources.read"], 8)
        self.assertEqual(parts["plans.execute"], 25)
        self.assertEqual(parts["client.collect"], 18)
        self.assertEqual(parts["client"], 15)
        self.assertAlmostEqual(sum(parts.values()), 100)

    def test_decompose_shows_records_outside_the_request(self):
        parts = stats.decompose((0, 100), [], [(90, 130)], [])
        self.assertEqual(sum(parts.values()) - 100, 30)


class CoreBusy(unittest.TestCase):
    def test_task_time_over_job_union_times_cores(self):
        # jobs cover 0..10 and 20..30 (20 ms); 4 cores; 40 ms of tasks
        self.assertAlmostEqual(stats.core_busy(40.0, [(0, 10), (5, 10), (20, 30)], 4), 0.5)

    def test_no_jobs(self):
        self.assertEqual(stats.core_busy(10.0, [], 4), 0.0)


class TraceOverhead(unittest.TestCase):
    def test_linear_drift_cancels(self):
        # kinds alternate, traced in blocks of 2; latency drifts down by 1
        # per request, and traced requests (blocks 1, 3) cost 10% more
        reqs = {}
        for i in range(8):
            traced = i // 2 % 2 == 1
            base = 100.0 - i + (0 if i % 2 else 50)
            reqs[i] = (base * (1.1 if traced else 1.0), i % 2, traced)
        self.assertAlmostEqual(stats.trace_overhead(reqs), 0.1)

    def test_neighbours_are_the_nearest_untraced_of_the_same_kind(self):
        reqs = {0: (10.0, "a", False), 1: (30.0, "b", True), 2: (10.0, "a", False)}
        self.assertEqual(stats.trace_overhead(reqs), 0.0)
        # a at 1 and 4 interpolate to 30 at index 3; b is skipped
        reqs = {1: (10.0, "a", False), 2: (5.0, "b", False), 3: (33.0, "a", True),
                4: (40.0, "a", False), 5: (9.0, "a", True)}
        self.assertAlmostEqual(stats.trace_overhead(reqs), 0.1)


if __name__ == "__main__":
    unittest.main()

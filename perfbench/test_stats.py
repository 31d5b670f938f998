"""Self-tests for the benchmark's statistics (no Spark needed).

    python3 -m pytest perfbench/test_stats.py -q
"""

from __future__ import annotations

import math
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402
from spans import Tracer  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_too_few_samples_has_no_tail(self):
        self.assertIsNone(stats.tail_percentile(0))
        self.assertIsNone(stats.tail_percentile(19))

    def test_twenty_samples_tail_is_the_median(self):
        self.assertEqual(stats.tail_percentile(20), 50)

    def test_hundred_samples_give_p90(self):
        self.assertEqual(stats.tail_percentile(100), 90)

    def test_ten_samples_always_lie_beyond(self):
        for n in range(20, 400):
            p = stats.tail_percentile(n)
            rank = math.ceil(p / 100 * n)
            self.assertGreaterEqual(n - rank, stats.TAIL_BEYOND, n)
            if p < 99:  # the next percentile up would leave fewer than ten
                self.assertLess(n - math.ceil((p + 1) / 100 * n), stats.TAIL_BEYOND, n)

    def test_nearest_rank(self):
        values = list(range(1, 101))
        self.assertEqual(stats.percentile(values, 50), 50)
        self.assertEqual(stats.percentile(values, 90), 90)
        self.assertEqual(stats.percentile([3.0], 50), 3.0)
        self.assertEqual(stats.percentile([5.0, 1.0, float("inf")], 50), 5.0)


class MedianLatency(unittest.TestCase):
    @staticmethod
    def records(*latencies: float, failed: int = 0) -> list:
        from harness import OpRecord

        recs = [OpRecord(i, f"op{i}", 0.0, t) for i, t in enumerate(latencies)]
        recs += [OpRecord(len(recs) + i, "bad", 0.0, 0.1, error="boom") for i in range(failed)]
        return recs

    def test_even_count_takes_the_mean_of_the_middle_two(self):
        from harness import median_latency

        self.assertAlmostEqual(median_latency(self.records(4.0, 1.0, 2.0, 3.0), 99.0), 2.5)

    def test_failed_ops_rank_above_every_good_op(self):
        from harness import median_latency

        # the fast failed op ranks last, so the median moves up to 3.0
        self.assertAlmostEqual(median_latency(self.records(1.0, 3.0, failed=1), 99.0), 3.0)

    def test_failed_middle_op_gives_the_timed_wall_time(self):
        from harness import median_latency

        self.assertEqual(median_latency(self.records(1.0, failed=1), 99.0), 99.0)


class SelfTime(unittest.TestCase):
    def test_no_children(self):
        self.assertAlmostEqual(stats.self_time(0.0, 10.0, []), 10.0)

    def test_overlapping_children_count_once(self):
        self.assertAlmostEqual(stats.self_time(0.0, 10.0, [(1.0, 4.0), (3.0, 6.0)]), 5.0)

    def test_children_are_clipped_to_the_parent(self):
        self.assertAlmostEqual(stats.self_time(2.0, 10.0, [(0.0, 4.0), (9.0, 12.0)]), 5.0)

    def test_tracer_self_times(self):
        tr = Tracer()
        with tr.span("outer") as outer:
            with tr.span("inner") as inner:
                pass
        st = tr.self_times()
        self.assertAlmostEqual(st[outer.id], (outer.end - outer.start) - (inner.end - inner.start), places=6)
        self.assertEqual(inner.parent, outer.id)


class ErrorRate(unittest.TestCase):
    def test_counts_raised_and_wrong(self):
        self.assertEqual(stats.error_rate(10, 0, 0), 0.0)
        self.assertAlmostEqual(stats.error_rate(10, 1, 2), 0.3)

    def test_rejects_bad_counts(self):
        with self.assertRaises(ValueError):
            stats.error_rate(0, 0, 0)
        with self.assertRaises(ValueError):
            stats.error_rate(3, 2, 2)


class Spread(unittest.TestCase):
    def test_quartiles_match_statistics(self):
        q1, med, q3 = stats.quartiles([1.0, 2.0, 3.0, 4.0, 5.0])
        self.assertEqual((q1, med, q3), (1.5, 3.0, 4.5))
        self.assertAlmostEqual(stats.relative_spread([1.0, 2.0, 3.0, 4.0, 5.0]), 1.0)


if __name__ == "__main__":
    unittest.main()

"""Tests for the benchmark's arithmetic. Run: python3 -m unittest discover -s perfbench -p 'test_*.py'"""

import statistics
import unittest

import stats
from stats import Span

MS = stats.MS


class OrderStatistics(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([3.0]), 3.0)
        self.assertEqual(stats.median([5.0, 1.0, 3.0]), 3.0)
        self.assertEqual(stats.median([4.0, 1.0, 3.0, 2.0]), 2.5)
        with self.assertRaises(ValueError):
            stats.median([])

    def test_median_matches_statistics(self):
        xs = [0.41, 0.38, 0.52, 0.40, 0.39, 0.44, 0.61]
        self.assertEqual(stats.median(xs), statistics.median(xs))

    def test_highest_percentile_keeps_ten_samples_beyond(self):
        self.assertIsNone(stats.highest_percentile([1.0, 2.0, 3.0]))
        self.assertIsNone(stats.highest_percentile([float(i) for i in range(20)]))
        p, v, n = stats.highest_percentile([float(i) for i in range(1, 41)])
        self.assertEqual((p, v, n), (75, 30.0, 40))
        self.assertEqual(sum(1 for x in range(1, 41) if x > v), 10)
        p, v, n = stats.highest_percentile([float(i) for i in range(1, 1001)])
        self.assertEqual((p, v, n), (99, 990.0, 1000))
        self.assertIsNone(stats.highest_percentile([]))

    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1.0, 4.0]), 2.0)
        self.assertAlmostEqual(stats.geomean([0.5, 2.0, 1.0]), 1.0)
        with self.assertRaises(ValueError):
            stats.geomean([1.0, 0.0])
        with self.assertRaises(ValueError):
            stats.geomean([])


class SelfTimes(unittest.TestCase):
    def test_union_counts_overlap_once(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(stats.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(stats.union_length([(5, 5), (7, 6)]), 0)
        self.assertEqual(stats.union_length([]), 0)

    def test_self_time_with_overlapping_children(self):
        spans = [
            Span(1, 0, "run", "pass 0", 0, 100),
            Span(2, 1, "graft.queries", "q07", 10, 90),
            # two concurrent jobs: 20..60 and 40..70 cover 50 units together
            Span(3, 2, "spark", "job 1", 20, 60),
            Span(4, 2, "spark", "job 2", 40, 70),
            Span(5, 3, "spark", "stage 1", 20, 50),
        ]
        s = stats.self_times(spans)
        self.assertEqual(s[1], 100 - 80)
        self.assertEqual(s[2], 80 - 50)
        self.assertEqual(s[3], 40 - 30)
        self.assertEqual(s[4], 30)
        self.assertEqual(s[5], 30)
        # concurrent siblings each keep their own self time, so the tree's
        # self times exceed the root's wall time by exactly the overlap
        self.assertEqual(sum(s.values()), 100 + 20)

    def test_child_outside_parent_is_clipped(self):
        spans = [Span(1, 0, "run", "p", 0, 10), Span(2, 1, "spark", "job", 5, 30)]
        self.assertEqual(stats.self_times(spans)[1], 5)

    def test_layer_self_times_only_inside_passes(self):
        spans = [
            Span(1, 0, "graft.data", "setup", 0, 50),
            Span(2, 1, "spark", "job 0", 10, 40),
            Span(3, 0, "run", "pass 0", 100, 200),
            Span(4, 3, "graft.agg", "cm", 110, 190),
            Span(5, 4, "spark", "job 1", 120, 180),
        ]
        layers = stats.layer_self_times(spans)
        self.assertEqual(layers, {"run": 20, "graft.agg": 20, "spark": 60})

    def test_streaming_batches_are_attached(self):
        spans = [
            Span(1, 0, "run", "pass 0", 0, 1000 * MS),
            Span(2, 1, "graft.streaming", "q78", 100 * MS, 900 * MS),
            Span(3, 2, "spark", "job 7", 210 * MS, 300 * MS),
            Span(4, 2, "spark", "job 8", 600 * MS, 700 * MS),
            # the listener reports the batch without a parent, ms-rounded
            Span(5, 0, "graft.streaming", "batch 0", 200 * MS, 301 * MS),
        ]
        out = {s.id: s for s in stats.attach_batches(spans)}
        self.assertEqual(out[5].parent, 2)
        self.assertEqual(out[3].parent, 5)
        self.assertEqual(out[4].parent, 2)
        s = stats.self_times(list(out.values()))
        self.assertEqual(s[5], 11 * MS)
        self.assertEqual(sum(s.values()), 1000 * MS)


if __name__ == "__main__":
    unittest.main()

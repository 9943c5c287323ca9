"""Tests of the benchmark's metric reduction. Run from the repository root:
python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import metrics  # noqa: E402


class PercentileRule(unittest.TestCase):

    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(metrics.percentile(list(range(19)), 0.5))
        self.assertIsNotNone(metrics.percentile(list(range(20)), 0.5))
        self.assertIsNone(metrics.percentile(list(range(99)), 0.9))
        self.assertIsNotNone(metrics.percentile(list(range(100)), 0.9))

    def test_min_samples_matches_rule(self):
        self.assertEqual(metrics.min_samples(0.5), 20)
        self.assertEqual(metrics.min_samples(0.9), 100)
        for q in (0.5, 0.75, 0.9, 0.99):
            n = metrics.min_samples(q)
            self.assertIsNotNone(metrics.percentile([1.0] * n, q))
            self.assertIsNone(metrics.percentile([1.0] * (n - 1), q))

    def test_interpolates_between_ranks(self):
        xs = [float(i) for i in range(1, 21)]  # 1..20
        self.assertAlmostEqual(metrics.percentile(xs, 0.5), 10.5)
        self.assertAlmostEqual(metrics.percentile(list(reversed(xs)), 0.5), 10.5)
        self.assertAlmostEqual(metrics.percentile([float(i) for i in range(101)], 0.9), 90.0)

    def test_empty(self):
        self.assertIsNone(metrics.percentile([], 0.5, min_beyond=0))


def span(i, parent, start, end, name="s"):
    return {"id": i, "parent": parent, "start": start, "end": end, "name": name}


class SelfTime(unittest.TestCase):

    def test_tree(self):
        spans = [span(1, None, 0, 10, "op"), span(2, 1, 0, 4, "build"),
                 span(3, 1, 4, 10, "execute"),
                 span(4, 3, 5, 7, "job"), span(5, 3, 6, 9, "job")]
        st = metrics.self_times(spans)
        self.assertEqual(st, {1: 0, 2: 4, 3: 2, 4: 2, 5: 3})
        self.assertEqual(metrics.self_time_by_name(spans),
                         {"op": 0, "build": 4, "execute": 2, "job": 5})

    def test_children_clipped_to_parent(self):
        spans = [span(1, None, 0, 10), span(2, 1, 8, 15), span(3, 1, -5, 1)]
        self.assertEqual(metrics.self_times(spans)[1], 7)

    def test_self_times_sum_to_root(self):
        spans = [span(1, None, 0, 100), span(2, 1, 10, 40), span(3, 1, 50, 90),
                 span(4, 2, 12, 20), span(5, 3, 60, 61)]
        self.assertAlmostEqual(sum(metrics.self_times(spans).values()), 100)

    def test_union_length(self):
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(metrics.union_length([]), 0)

    def test_job_spans_hang_under_their_span(self):
        jobs = [{"id": 7, "span": 3, "start": 5.0, "end": 6.0},
                {"id": 8, "span": 3, "start": 6.0, "end": None}]
        self.assertEqual(metrics.job_spans(jobs),
                         [{"id": "job7", "name": "job", "parent": 3, "start": 5.0, "end": 6.0}])


class TracingOverhead(unittest.TestCase):

    def test_pairs_cancel_a_linear_trend(self):
        # untraced passes speed up by 1 s a pass; tracing adds 0.5 s
        passes = [{"idx": i, "kind": "traced" if i % 2 == 0 else "warm",
                   "wall_s": 10.0 - i + (0.5 if i % 2 == 0 else 0.0)} for i in range(1, 6)]
        self.assertAlmostEqual(metrics.tracing_overhead(passes), 0.5)

    def test_no_traced_pass(self):
        self.assertIsNone(metrics.tracing_overhead([{"idx": 1, "kind": "warm", "wall_s": 1.0}]))


if __name__ == "__main__":
    unittest.main()

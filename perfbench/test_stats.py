"""Tests for the benchmark's own arithmetic.

Run from the repository root: python3 -m unittest discover -s perfbench
"""
import json
import math
import os
import unittest

import run
import stats


class TailPercentileTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(list(range(10))))
        # 11 samples: only the smallest has ten beyond it.
        self.assertEqual(stats.tail_percentile(list(range(11))),
                         (0, 100.0 / 11))

    def test_highest_rank_with_ten_beyond(self):
        xs = list(range(1, 101))  # 1..100, shuffled order must not matter
        xs.reverse()
        value, pct = stats.tail_percentile(xs)
        self.assertEqual(value, 90)
        self.assertEqual(pct, 90.0)
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_ties_rank_beyond(self):
        value, pct = stats.tail_percentile([1.0] * 5 + [2.0] * 10)
        self.assertEqual((value, pct), (1.0, 100.0 * 5 / 15))


class GeomeanTest(unittest.TestCase):
    def test_equal_weight_to_relative_changes(self):
        self.assertAlmostEqual(stats.geomean([0.3, 15.0]), math.sqrt(4.5))
        # A 2x slip on the short query moves it as much as on the long one.
        self.assertAlmostEqual(stats.geomean([0.6, 15.0]),
                               stats.geomean([0.3, 30.0]))

    def test_single(self):
        self.assertAlmostEqual(stats.geomean([2.5]), 2.5)


class UnionTest(unittest.TestCase):
    def test_overlap_counts_once(self):
        self.assertEqual(stats.union_length([(0, 4), (2, 6), (8, 9)]), 7)

    def test_clip_and_empty(self):
        self.assertEqual(stats.union_length([(0, 10)], 2, 5), 3)
        self.assertEqual(stats.union_length([(0, 1)], 2, 5), 0)
        self.assertEqual(stats.union_length([]), 0)


def span(i, parent, start, end):
    return {"id": i, "parent": parent, "name": "s%d" % i,
            "start_ms": start, "end_ms": end}


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_children(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 50), span(3, 1, 30, 70),
                 span(4, 1, 90, 95)]
        self.assertEqual(stats.self_times(spans),
                         {1: 100 - 60 - 5, 2: 40, 3: 40, 4: 5})

    def test_child_outside_parent_is_clipped(self):
        spans = [span(1, 0, 0, 10), span(2, 1, 8, 20)]
        self.assertEqual(stats.self_times(spans)[1], 8)

    def test_nested_levels_count_only_direct_children(self):
        spans = [span(1, 0, 0, 10), span(2, 1, 0, 10), span(3, 2, 2, 4)]
        self.assertEqual(stats.self_times(spans), {1: 0, 2: 8, 3: 2})


class DriverGapTest(unittest.TestCase):
    def test_wall_minus_union_of_jobs(self):
        # Query [0, 10]; jobs overlap at [3, 4] and one starts before it.
        jobs = [(2, 4), (3, 5), (-1, 1), (8, 9)]
        self.assertEqual(stats.driver_gap(0, 10, jobs), 10 - (1 + 3 + 1))

    def test_no_jobs(self):
        self.assertEqual(stats.driver_gap(1, 4, []), 3)


class SkewTest(unittest.TestCase):
    def test_stage_skew(self):
        self.assertEqual(stats.stage_skew([[1, 1, 4], [2, 2], [0, 0], []]),
                         (4.0 + 1.0) / 2)
        self.assertEqual(stats.stage_skew([]), 1.0)


class BenchmarkFileTest(unittest.TestCase):
    """BENCHMARK.json names exactly the metrics and workloads run.py
    reports, with the same units."""

    def setUp(self):
        path = os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")
        with open(path) as fh:
            self.bench = json.load(fh)

    def test_metrics_match(self):
        for key, listed in (("end_to_end", run.END_TO_END),
                            ("per_layer", run.PER_LAYER)):
            self.assertEqual(
                [(m["name"], m["unit"], m["better"]) for m in self.bench[key]],
                listed)

    def test_workloads_match(self):
        self.assertEqual(
            {w["name"]: w["why"] for w in self.bench["workloads"]},
            {name: w["why"] for name, w in run.WORKLOADS.items()})


if __name__ == "__main__":
    unittest.main()

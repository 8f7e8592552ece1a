"""Self-tests of the benchmark's pure logic. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import stats  # noqa: E402


def span(i, parent, name, op, a, b):
    return {"id": i, "parent": parent, "name": name, "op": op,
            "start_ns": a, "end_ns": b, "attrs": {}}


class PercentileTest(unittest.TestCase):
    def test_linear_between_ranks(self):
        xs = [4, 1, 3, 2]
        self.assertEqual(stats.percentile(xs, 0), 1)
        self.assertEqual(stats.percentile(xs, 100), 4)
        self.assertAlmostEqual(stats.percentile(xs, 50), 2.5)
        self.assertAlmostEqual(stats.percentile(xs, 90), 3.7)

    def test_median_odd_and_even(self):
        self.assertEqual(stats.median([5, 1, 3]), 3)
        self.assertAlmostEqual(stats.median([1, 2, 3, 10]), 2.5)
        self.assertEqual(stats.median([7]), 7)

    def test_empty_sample_raises(self):
        with self.assertRaises(ValueError):
            stats.median([])


class SelfTimeTest(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(stats.union_ns([(10, 30), (20, 50), (60, 70)]), 50)
        self.assertEqual(stats.union_ns([]), 0)
        self.assertEqual(stats.union_ns([(0, 5), (5, 9)]), 9)

    def test_self_time_subtracts_covered_part(self):
        spans = [span(1, 0, "op", "a", 0, 100),
                 span(2, 1, "pipeline.run", "a", 10, 30),
                 span(3, 1, "io.write", "a", 20, 50),
                 span(4, 1, "io.status", "a", 60, 70)]
        own = stats.self_times(spans)
        self.assertEqual(own[1], 50)
        self.assertEqual(own[2], 20)

    def test_children_are_clipped_to_the_parent(self):
        spans = [span(1, 0, "op", "a", 0, 100), span(2, 1, "engine.job", "a", 90, 130)]
        self.assertEqual(stats.self_times(spans)[1], 90)

    def test_engine_spans_get_the_innermost_containing_parent(self):
        spans = [span(1, 0, "op", "a", 0, 100_000_000),
                 span(2, 1, "pipeline.run", "a", 10_000_000, 90_000_000),
                 span(3, 0, "io.write", "a", 20_000_000, 40_000_000),
                 span(4, 3, "engine.job", "a", 21_000_000, 39_000_000),
                 span(5, 0, "io.status", "b", 20_000_000, 30_000_000)]
        out = {s["id"]: s["parent"] for s in stats.assign_parents(spans)}
        self.assertEqual(out[3], 2)
        self.assertEqual(out[4], 3)
        self.assertEqual(out[5], 0)  # no span of operation b to hang under

    def test_table_aggregates_by_name(self):
        spans = [span(1, 0, "op", "a", 0, 10**9), span(2, 1, "io.write", "a", 0, 4 * 10**8),
                 span(3, 0, "op", "b", 0, 10**9)]
        rows = {r[0]: r[1:] for r in stats.self_time_table(spans)}
        self.assertEqual(rows["op"][0], 2)
        self.assertAlmostEqual(rows["op"][1], 2.0)
        self.assertAlmostEqual(rows["op"][2], 1.6)
        self.assertAlmostEqual(rows["io.write"][2], 0.4)


if __name__ == "__main__":
    unittest.main()

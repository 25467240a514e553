"""Unit checks for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import statistics
import unittest

import benchstats as bs

HERE = os.path.dirname(os.path.abspath(__file__))


class TailTest(unittest.TestCase):
    def test_no_percentile_below_twenty_samples(self):
        # the median needs ten samples beyond it, so n >= 20
        self.assertIsNone(bs.tail(list(range(19))))

    def test_median_at_twenty(self):
        p, v, n = bs.tail([float(x) for x in range(1, 21)])
        self.assertEqual((p, n), (50.0, 20))
        self.assertEqual(v, 10.0)  # nearest rank: ceil(0.5 * 20) = 10th

    def test_highest_supported_percentile(self):
        self.assertEqual(bs.tail(list(range(39)))[0], 50.0)
        self.assertEqual(bs.tail(list(range(40)))[0], 75.0)
        self.assertEqual(bs.tail(list(range(100)))[0], 90.0)
        self.assertEqual(bs.tail(list(range(200)))[0], 95.0)
        self.assertEqual(bs.tail(list(range(1000)))[0], 99.0)

    def test_value_is_nearest_rank(self):
        xs = [float(x) for x in range(100, 0, -1)]  # unsorted input
        p, v, _ = bs.tail(xs)
        self.assertEqual((p, v), (90.0, 90.0))


class QuartileTest(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        xs = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.0, 6.0, 5.5, 3.5]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        self.assertEqual(bs.quartiles(xs), (q1, q2, q3))
        self.assertAlmostEqual(bs.iqr(xs), q3 - q1)
        self.assertAlmostEqual(bs.spread(xs), (q3 - q1) / statistics.median(xs))

    def test_constant_has_no_spread(self):
        self.assertEqual(bs.iqr([2.0] * 10), 0.0)
        self.assertEqual(bs.spread([2.0] * 10), 0.0)

    def test_single_value(self):
        self.assertEqual(bs.quartiles([7.0]), (7.0, 7.0, 7.0))


class WinsTest(unittest.TestCase):
    def test_ties_count_for_neither(self):
        parent = [10.0] * 10
        change = [9.0] * 8 + [10.0, 11.0]
        self.assertEqual(bs.wins(parent, change, "lower"), (8, 1))
        self.assertEqual(bs.wins(parent, change, "higher"), (1, 8))

    def test_nine_of_ten(self):
        self.assertTrue(bs.claims_gain(9, 10))
        self.assertFalse(bs.claims_gain(8, 10))
        # a tie is not a win: 8 wins and 2 ties out of 10 is no claim
        self.assertFalse(bs.claims_gain(bs.wins([5.0] * 10,
                                                [4.0] * 8 + [5.0] * 2,
                                                "lower")[0], 10))
        self.assertTrue(bs.claims_gain(18, 20))
        self.assertFalse(bs.claims_gain(17, 20))
        self.assertFalse(bs.claims_gain(0, 0))


class VerdictTest(unittest.TestCase):
    parent = [100.0, 101.0, 99.0, 100.5, 99.5, 100.0, 101.5, 98.5, 100.0, 100.2]

    def test_better_needs_wins_and_gap_beyond_iqr(self):
        change = [x - 10 for x in self.parent]
        self.assertEqual(bs.verdict(self.parent, change, "lower", 0.1), "better")
        # same gap in a higher-is-better metric is a loss
        self.assertEqual(bs.verdict(self.parent, change, "higher", 0.05), "worse")

    def test_small_gap_is_no_worse(self):
        change = [x + 1 for x in self.parent]
        self.assertEqual(bs.verdict(self.parent, change, "lower", 0.05), "no worse")

    def test_gap_beyond_bound_is_worse(self):
        change = [x * 1.2 for x in self.parent]
        self.assertEqual(bs.verdict(self.parent, change, "lower", 0.1), "worse")

    def test_gain_inside_parent_iqr_is_not_better(self):
        change = [x - 0.2 for x in self.parent]  # wins every pair
        self.assertEqual(bs.wins(self.parent, change, "lower"), (10, 0))
        self.assertEqual(bs.verdict(self.parent, change, "lower", 0.1), "no worse")

    def test_wide_parent_spread_is_unresolved(self):
        parent = [50.0, 150.0, 80.0, 120.0, 60.0, 140.0, 100.0, 90.0, 110.0, 70.0]
        change = [x * 1.1 for x in reversed(parent)]
        self.assertEqual(bs.verdict(parent, change, "lower", 0.1), "unresolved")

    def test_wide_spread_with_full_separation(self):
        parent = [50.0, 150.0, 80.0, 120.0, 60.0, 140.0, 100.0, 90.0, 110.0, 70.0]
        self.assertEqual(bs.verdict(parent, [200.0] * 10, "lower", 0.1), "worse")
        self.assertEqual(bs.verdict(parent, [10.0] * 10, "lower", 0.1), "better")


class NormalisationTest(unittest.TestCase):
    def test_float_rounding_column_and_row_order(self):
        a = [{"x": 1, "y": 0.1 + 0.2}, {"x": 2, "y": 1.0}]
        b = [{"y": 1.0000000001, "x": 2}, {"y": 0.3, "x": 1}]
        self.assertEqual(bs.table_key(["x", "y"], a), bs.table_key(["y", "x"], b))

    def test_values_still_matter(self):
        a = [{"x": 1, "y": 0.3}]
        b = [{"x": 1, "y": 0.30001}]
        self.assertNotEqual(bs.table_key(["x", "y"], a), bs.table_key(["x", "y"], b))

    def test_nulls_nan_lists_and_bytes(self):
        self.assertIsNone(bs.norm(None))
        self.assertEqual(bs.norm(float("nan")), "nan")
        self.assertEqual(bs.norm(b"\x01\xff"), "01ff")
        self.assertEqual(bs.norm([1.23456789, "a"]), (1.234568, "a"))
        # integers and their text compare equal, as in the oracle checker
        self.assertEqual(bs.norm(7), bs.norm("7"))

    def test_rows_with_nulls_sort(self):
        rows = [{"x": None}, {"x": 2.0}, {"x": 1.0}]
        cols, rs = bs.table_key(["x"], rows)
        self.assertEqual(len(rs), 3)


class SpecTest(unittest.TestCase):
    """BENCHMARK.json names what run.py reports."""

    def test_metric_names_and_bounds(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            spec = json.load(f)
        names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        self.assertIn("setup_s", [m["name"] for m in spec["end_to_end"]])
        for m in spec["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
        self.assertEqual(setup["bound"], max(m["bound"] for m in spec["end_to_end"]))


if __name__ == "__main__":
    unittest.main()

"""Self-tests of the benchmark's maths on synthetic inputs (no Spark).

Run with `python3 perfbench/run.py selftest`.
"""
import statistics
import unittest

import benchstats as bs


class TailTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        xs = list(range(1, 21))  # 20 samples
        value, pct, n = bs.tail(xs)
        self.assertEqual(n, 20)
        self.assertEqual(value, 10)  # 10, 11 .. 20: ten samples beyond it
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertAlmostEqual(pct, 50.0)

    def test_percentile_rises_with_samples(self):
        value, pct, _ = bs.tail(list(range(100)))
        self.assertEqual(value, 89)
        self.assertAlmostEqual(pct, 90.0)

    def test_smallest_sample_count(self):
        value, pct, n = bs.tail([5.0] + [1.0] * 10)
        self.assertEqual((value, n), (1.0, 11))
        self.assertAlmostEqual(pct, 100.0 / 11)

    def test_order_does_not_matter(self):
        xs = [3.0, 9.0, 1.0, 7.0, 5.0, 2.0, 8.0, 4.0, 6.0, 0.0, 10.0, 11.0]
        self.assertEqual(bs.tail(xs), bs.tail(sorted(xs)))

    def test_too_few_samples(self):
        with self.assertRaises(ValueError):
            bs.tail([1.0] * 10)


class QuartileTest(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        xs = [4.0, 1.0, 9.0, 2.5, 7.0, 3.0, 8.0, 6.5, 5.0, 10.0]
        q1, med, q3 = bs.quartiles(xs)
        self.assertEqual([q1, med, q3], statistics.quantiles(xs, n=4))
        self.assertEqual(med, statistics.median(xs))

    def test_spread_is_iqr_over_median(self):
        xs = [1.0, 2.0, 3.0, 4.0, 5.0]
        q1, med, q3 = bs.quartiles(xs)
        self.assertAlmostEqual(bs.spread(xs), (q3 - q1) / med)

    def test_single_value(self):
        self.assertEqual(bs.quartiles([2.0]), (2.0, 2.0, 2.0))
        self.assertEqual(bs.spread([2.0]), 0.0)


def span(i, parent, start, end, layer="x"):
    return {"id": i, "parent": parent, "start": start, "end": end, "layer": layer}


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        spans = [span(0, -1, 0.0, 10.0, "query"),
                 span(1, 0, 1.0, 4.0, "job"),
                 span(2, 0, 3.0, 6.0, "job"),    # overlaps span 1
                 span(3, 0, 9.0, 12.0, "job"),   # runs past its parent: clipped
                 span(4, 1, 1.5, 3.5, "stage")]  # grandchild
        st = bs.self_times(spans)
        self.assertAlmostEqual(st[0], 10.0 - (5.0 + 1.0))
        self.assertAlmostEqual(st[1], 3.0 - 2.0)
        self.assertAlmostEqual(st[2], 3.0)
        self.assertAlmostEqual(st[4], 2.0)

    def test_layer_totals(self):
        spans = [span(0, -1, 0.0, 4.0, "query"), span(1, 0, 0.0, 1.0, "queries"),
                 span(2, 0, 1.0, 4.0, "exec"), span(3, -1, 5.0, 6.0, "queries")]
        self.assertEqual(bs.layer_self_times(spans),
                         {"query": 0.0, "queries": 2.0, "exec": 3.0})

    def test_union_length(self):
        self.assertAlmostEqual(bs.union_length([(0, 2), (1, 3), (5, 6), (6, 6)]), 4.0)
        self.assertEqual(bs.union_length([]), 0.0)


class CoverageTest(unittest.TestCase):
    def test_share_of_wall(self):
        self.assertAlmostEqual(bs.coverage(1.0, 0.5, 3.0, 5.0), 0.9)

    def test_full_cover(self):
        self.assertAlmostEqual(bs.coverage(0.2, 0.1, 0.7, 1.0), 1.0)


class PairWinTest(unittest.TestCase):
    def test_ties_are_counted_apart(self):
        parent = {1: 10.0, 2: 10.0, 3: 10.0, 4: 10.0}
        change = {1: 9.0, 2: 10.0, 3: 11.0, 5: 1.0}  # seed 4 and 5 are unpaired
        self.assertEqual(bs.pair_wins(parent, change, "lower"), (1, 1, 1))
        self.assertEqual(bs.pair_wins(parent, change, "higher"), (1, 1, 1))

    def test_direction(self):
        self.assertEqual(bs.pair_wins({1: 1.0}, {1: 2.0}, "higher"), (1, 0, 0))
        self.assertEqual(bs.pair_wins({1: 1.0}, {1: 2.0}, "lower"), (0, 1, 0))


class VerdictTest(unittest.TestCase):
    parent = {s: 10.0 + 0.1 * (s % 3) for s in range(10)}

    def test_improved_needs_nine_of_ten_decided_pairs(self):
        change = {s: v * 0.8 for s, v in self.parent.items()}
        self.assertEqual(bs.verdict(self.parent, change, "lower", 0.1)["verdict"], "improved")

    def test_ties_do_not_count_against_improved(self):
        change = {s: (v if s < 3 else v * 0.8) for s, v in self.parent.items()}
        change[3] = self.parent[3] * 1.01  # one loss among seven decided pairs
        parent = dict(self.parent)
        v = bs.verdict(parent, change, "lower", 0.5)
        self.assertEqual((v["wins"], v["losses"], v["ties"]), (6, 1, 3))
        self.assertEqual(v["verdict"], "no worse")  # 6/7 < 0.9
        change[3] = self.parent[3] * 0.8
        v = bs.verdict(parent, change, "lower", 0.5)
        self.assertEqual((v["wins"], v["losses"], v["ties"]), (7, 0, 3))
        self.assertEqual(v["verdict"], "improved")

    def test_small_gain_inside_iqr_is_no_worse(self):
        parent = {s: 10.0 + s for s in range(10)}
        change = {s: v - 0.5 for s, v in parent.items()}
        self.assertEqual(bs.verdict(parent, change, "lower", 0.5)["verdict"], "no worse")

    def test_regressed_beyond_bound(self):
        change = {s: v * 1.3 for s, v in self.parent.items()}
        v = bs.verdict(self.parent, change, "lower", 0.1)
        self.assertEqual(v["verdict"], "regressed")
        self.assertAlmostEqual(v["ratio"], 1.3)

    def test_within_bound_is_no_worse(self):
        change = {s: v * 1.05 for s, v in self.parent.items()}
        self.assertEqual(bs.verdict(self.parent, change, "lower", 0.1)["verdict"], "no worse")

    def test_higher_is_better(self):
        change = {s: v * 1.3 for s, v in self.parent.items()}
        self.assertEqual(bs.verdict(self.parent, change, "higher", 0.1)["verdict"], "improved")

    def test_wide_spread_is_unresolved(self):
        change = {s: 10.0 * (1 + s) for s in range(10)}
        self.assertEqual(bs.verdict(self.parent, change, "lower", 0.1)["verdict"], "unresolved")


if __name__ == "__main__":
    unittest.main()

"""Tests of the benchmark's metric math.

    python3 -m unittest discover -s perfbench/tests
"""
import math
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import metrics as m  # noqa: E402
import run  # noqa: E402


class TailPercentileTest(unittest.TestCase):
    def test_too_few_samples(self):
        self.assertIsNone(m.tail_percentile(list(range(10))))
        self.assertIsNone(m.tail_percentile([]))

    def test_known_points(self):
        # 11 samples: only the smallest has ten beyond it
        self.assertEqual(m.tail_percentile(list(range(11))), (9, 0))
        self.assertEqual(m.tail_percentile(list(range(20))), (50, 9))
        self.assertEqual(m.tail_percentile(list(range(100))), (90, 89))
        self.assertEqual(m.tail_percentile(list(range(1000))), (99, 989))

    def test_order_of_input_does_not_matter(self):
        self.assertEqual(m.tail_percentile(list(range(40))[::-1]), m.tail_percentile(list(range(40))))

    def test_ten_beyond_and_highest(self):
        for n in range(11, 600):
            p, value = m.tail_percentile(list(range(n)))
            rank = value + 1  # values are 0..n-1, so the value is its rank - 1
            self.assertGreaterEqual(n - rank, 10, n)
            next_rank = math.ceil((p + 1) * n / 100)
            self.assertLess(n - next_rank, 10, n)


class SelfTimeTest(unittest.TestCase):
    def test_differences_of_cumulative_cuts(self):
        cuts = [("gen", 1.0), ("render", 3.0), ("parse", 6.5), ("enrich", 7.0), ("route", 10.0)]
        selves = m.self_times(cuts)
        self.assertEqual([name for name, _ in selves], ["gen", "render", "parse", "enrich", "route"])
        for (_, got), want in zip(selves, [1.0, 2.0, 3.5, 0.5, 3.0]):
            self.assertAlmostEqual(got, want)
        self.assertAlmostEqual(sum(s for _, s in selves), 10.0)

    def test_layer_sum_residual(self):
        selves = m.self_times([("gen", 2.0), ("route", 6.0)])
        self.assertAlmostEqual(m.layer_sum_residual(selves, 6.0), 0.0)
        self.assertAlmostEqual(m.layer_sum_residual(selves, 5.0), 0.2)
        self.assertAlmostEqual(m.layer_sum_residual(selves, 7.5), -0.2)

    def test_span_self_times_subtract_covered_child_time(self):
        spans = [
            {"id": 1, "name": "query", "parent": 0, "start_s": 0.0, "end_s": 10.0},
            {"id": 2, "name": "frontend", "parent": 1, "start_s": 1.0, "end_s": 3.0},
            {"id": 3, "name": "plan", "parent": 1, "start_s": 2.0, "end_s": 5.0},  # overlaps 2
            {"id": 4, "name": "exec", "parent": 1, "start_s": 6.0, "end_s": 7.0},
            {"id": 5, "name": "query", "parent": 0, "start_s": 20.0, "end_s": 21.0},
        ]
        got = m.span_self_times(spans)
        self.assertAlmostEqual(got["query"], 10.0 - 5.0 + 1.0)
        self.assertAlmostEqual(got["frontend"], 2.0)
        self.assertAlmostEqual(got["plan"], 3.0)
        self.assertAlmostEqual(got["exec"], 1.0)


class RatioTest(unittest.TestCase):
    def test_scaling_efficiency(self):
        self.assertAlmostEqual(m.scaling_efficiency(20.0, 5.0, 4), 1.0)
        self.assertAlmostEqual(m.scaling_efficiency(24.0, 7.5, 4), 0.8)

    def test_error_ratio(self):
        self.assertEqual(m.error_ratio(10, 0), 0.0)
        self.assertAlmostEqual(m.error_ratio(8, 2), 0.25)
        with self.assertRaises(ValueError):
            m.error_ratio(0, 0)

    def test_overhead(self):
        self.assertAlmostEqual(m.overhead(1.1, 1.0), 0.1)

    def test_spread_uses_statistics_quartiles(self):
        # statistics.quantiles([1..5], n=4) is [1.5, 3.0, 4.5]
        self.assertAlmostEqual(m.spread([1, 2, 3, 4, 5]), 1.0)
        self.assertAlmostEqual(m.spread([10.0] * 10), 0.0)


class HostRuleTest(unittest.TestCase):
    def test_heap_follows_the_test_command_rule(self):
        self.assertEqual(run.heap_gb(16479424), 7)  # 15.7 GiB MemTotal
        self.assertEqual(run.heap_gb(2 * 1048576), 2)
        self.assertEqual(run.heap_gb(64 * 1048576), 8)

    def test_every_seed_gives_a_valid_input_offset(self):
        self.assertEqual(run.input_seed(7), 7)
        self.assertEqual(run.input_seed(3141592653), 592653)
        self.assertEqual(run.input_seed(-1), run.INPUT_SEEDS - 1)
        for seed in (0, 2**63, -(2**63), 10**30):
            self.assertTrue(0 <= run.input_seed(seed) < run.INPUT_SEEDS)


if __name__ == "__main__":
    unittest.main()

"""Unit tests for the benchmark's statistics: python3 graftbench/test_stats.py"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_too_few_samples_has_no_tail(self):
        self.assertIsNone(stats.tail(list(range(10))))

    def test_at_least_ten_samples_lie_beyond(self):
        for n in (11, 20, 37, 100, 101, 999, 5000):
            xs = list(range(n))
            p, v = stats.tail(xs)
            self.assertGreaterEqual(sum(1 for x in xs if x > v), 10, n)
            # one percentile higher would leave fewer than ten beyond
            if p < stats.TAIL_CAP:
                rank = -(-(p + 1) * n // 100)
                self.assertLess(n - rank, 10, n)

    def test_known_values(self):
        self.assertEqual(stats.tail(list(range(1, 101))), (90, 90))
        self.assertEqual(stats.tail(list(range(1, 21))), (50, 10))
        self.assertEqual(stats.tail(list(range(1, 2001)))[0], stats.TAIL_CAP)

    def test_order_does_not_matter(self):
        xs = [5, 1, 9, 3, 7, 2, 8, 6, 4, 10, 11, 12, 0, 13, 14, 15, 16, 17, 18, 19]
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))


class PairRatiosTest(unittest.TestCase):
    def test_each_op_over_the_reference_after_it(self):
        ops = [("a", 4.0), ("a_ref", 2.0), ("b", 9.0), ("a", 3.0), ("b_ref", 1.0),
               ("a_ref", 1.0)]
        self.assertEqual(stats.pair_ratios(ops, "a", "a_ref"), [2.0, 3.0])
        self.assertEqual(stats.pair_ratios(ops, "b", "b_ref"), [9.0])

    def test_a_reference_without_an_op_before_it_is_skipped(self):
        ops = [("a_ref", 2.0), ("a", 4.0), ("a", 6.0), ("a_ref", 3.0), ("a_ref", 5.0)]
        self.assertEqual(stats.pair_ratios(ops, "a", "a_ref"), [2.0])


class TrimmedMeanTest(unittest.TestCase):
    def test_drops_a_tenth_at_each_end(self):
        xs = list(range(1, 11)) + [1000]  # 11 samples: one dropped per end
        self.assertEqual(stats.trimmed_mean(xs), sum(range(2, 11)) / 9)

    def test_small_samples_keep_everything(self):
        self.assertEqual(stats.trimmed_mean([1, 2, 6]), 3)
        self.assertEqual(stats.trimmed_mean([]), 0.0)


class DriverOnlyTest(unittest.TestCase):
    def test_no_jobs_is_all_driver(self):
        self.assertEqual(stats.driver_only((0, 100), []), 100)

    def test_overlapping_jobs_count_once(self):
        # jobs [10,40] and [30,60] cover 50 of the op's 100
        self.assertEqual(stats.driver_only((0, 100), [(10, 40), (30, 60)]), 50)

    def test_nested_and_disjoint_jobs(self):
        jobs = [(10, 50), (20, 30), (70, 80)]
        self.assertEqual(stats.driver_only((0, 100), jobs), 50)

    def test_jobs_are_clipped_to_the_op(self):
        self.assertEqual(stats.driver_only((0, 100), [(-20, 10), (90, 150)]), 80)
        self.assertEqual(stats.driver_only((0, 100), [(200, 300)]), 100)


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted(self):
        self.assertEqual(stats.self_time((0, 100), [(0, 30), (50, 70)]), 50)

    def test_children_covering_everything(self):
        self.assertEqual(stats.self_time((5, 15), [(0, 20)]), 0)

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(stats.union_length([]), 0)


class TracingOverheadTest(unittest.TestCase):
    def test_weighted_by_the_step_mix(self):
        # 9 batches (1 ms untraced, 2 ms traced), 1 plan (10 ms either way):
        # 9 * 1 + 10 = 19 untraced, 9 * 2 + 10 = 28 traced
        steps = ([("batch", 1.0, False)] * 5 + [("batch", 2.0, True)] * 4
                 + [("plan", 10.0, False), ("plan", 10.0, True)])
        n_plan = 2
        on, off = 9 * 2.0 + n_plan * 10.0, 9 * 1.0 + n_plan * 10.0
        self.assertAlmostEqual(stats.tracing_overhead_pct(steps), 100 * (on - off) / off)

    def test_kinds_seen_one_way_only_are_left_out(self):
        steps = [("a", 4.0, False), ("a", 5.0, True), ("b", 100.0, True)]
        self.assertAlmostEqual(stats.tracing_overhead_pct(steps), 25.0)
        self.assertEqual(stats.tracing_overhead_pct([("a", 1.0, True)]), 0.0)


if __name__ == "__main__":
    unittest.main()

"""Tests of the benchmark's own arithmetic.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402
from run import copy_text_fields, load_layers  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_median_below_twenty_samples(self):
        for n in (1, 6, 17, 20):
            self.assertEqual(stats.tail_q(n), 0.5, n)

    def test_highest_percentile_leaving_ten_beyond(self):
        self.assertAlmostEqual(stats.tail_q(40), 0.75)
        self.assertAlmostEqual(stats.tail_q(100), 0.9)
        # 121 queries: p90 leaves 12 samples beyond it
        self.assertAlmostEqual(stats.tail_q(121), 0.9)
        self.assertGreaterEqual(121 * (1 - stats.tail_q(121)), 10)

    def test_capped_at_the_cap(self):
        self.assertAlmostEqual(stats.tail_q(10000), 0.9)
        self.assertAlmostEqual(stats.tail_q(10000, cap=0.99), 0.99)

    def test_tail_value(self):
        xs = list(range(1, 41))  # 40 samples → p75
        self.assertAlmostEqual(stats.tail(xs), stats.percentile(xs, 0.75))
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), 2.0)

    def test_percentile_interpolates_and_median_agrees(self):
        self.assertEqual(stats.percentile([1, 2, 3, 4], 0.5), 2.5)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        self.assertEqual(stats.percentile([5], 0.9), 5)
        with self.assertRaises(ValueError):
            stats.percentile([], 0.5)
        with self.assertRaises(ValueError):
            stats.tail_q(0)


class SelfTime(unittest.TestCase):
    def span(self, id_, parent, start, end):
        return {"id": id_, "parent": parent, "start": start, "end": end}

    def test_overlapping_concurrent_children_use_the_union(self):
        spans = [self.span(1, 0, 0, 100),
                 self.span(2, 1, 10, 50), self.span(3, 1, 30, 70),
                 self.span(4, 1, 60, 65)]
        st = stats.self_times(spans)
        # children cover [10, 70): 60 of 100; a sum would say 85
        self.assertEqual(st[1], 40)
        self.assertEqual(st[2], 40)

    def test_children_outside_the_parent_are_clipped(self):
        spans = [self.span(1, 0, 0, 10), self.span(2, 1, 5, 20)]
        self.assertEqual(stats.self_times(spans)[1], 5)

    def test_disjoint_and_nested(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 0, 10),
                 self.span(3, 1, 90, 100), self.span(4, 2, 2, 4)]
        st = stats.self_times(spans)
        self.assertEqual(st[1], 80)
        self.assertEqual(st[2], 8)
        self.assertEqual(st[4], 2)

    def test_union(self):
        self.assertEqual(stats.union_ns([]), 0)
        self.assertEqual(stats.union_ns([(0, 5), (5, 7), (1, 2), (9, 10)]), 8)

    def test_load_layers_phases_and_slots(self):
        # run 0..100; two parallel tasks of table t (20..60, 30..80) with
        # one send each; DDL before and after the COPY window
        spans = [
            [1, 0, "run", "load", 0, 100],
            [2, 0, "task", "t", 20, 60], [3, 2, "send", "t", 25, 35],
            [4, 0, "task", "t", 30, 80], [5, 4, "send", "t", 40, 70],
            [6, 0, "ddl", "other", 5, 15], [7, 0, "ddl", "fk", 85, 95],
            [-1, 0, "job", "0", 20, 80],
        ]
        m = load_layers(spans, slots=2)
        ns = 1e9
        self.assertAlmostEqual(m["orchestration.first_copy_s"], 20 / ns)
        self.assertAlmostEqual(m["orchestration.copy_window_s"], 60 / ns)
        self.assertAlmostEqual(m["orchestration.post_tail_s"], 20 / ns)
        self.assertAlmostEqual(m["orchestration.slot_busy_ratio"],
                               (40 + 50) / (60 * 2))
        self.assertAlmostEqual(m["self.pre_s"], 10 / ns)
        self.assertAlmostEqual(m["self.post_s"], 10 / ns)
        self.assertAlmostEqual(m["sinks.send_s"], 40 / ns)
        self.assertAlmostEqual(m["sinks.upstream_s"], (30 + 20) / ns)
        self.assertAlmostEqual(m["orchestration.fk_s"], 10 / ns)
        self.assertEqual(m["orchestration.ddl_statements"], 2)
        self.assertAlmostEqual(m["spark.driver_gap_s"], 40 / ns)


class Ratios(unittest.TestCase):
    def test_commit_ratio(self):
        self.assertEqual(stats.commit_ratio(100, 100), 1.0)
        self.assertEqual(stats.commit_ratio(90, 120), 0.75)
        # nothing transmitted wastes nothing
        self.assertEqual(stats.commit_ratio(0, 0), 1.0)

    def test_failed_ratio(self):
        self.assertEqual(stats.failed_ratio(0, 6), 0.0)
        self.assertEqual(stats.failed_ratio(6, 6), 1.0)
        with self.assertRaises(ValueError):
            stats.failed_ratio(0, 0)

    def test_a_cli_that_exits_non_zero_fails_every_table(self):
        ok = {t: True for t in "abcdef"}
        self.assertEqual(stats.load_failures(ok, 1, 0), 6)
        self.assertEqual(stats.load_failures(ok, 0, 0), 0)

    def test_rejects_expected_make_exit_one_the_success_code(self):
        ok = dict.fromkeys("abcdef", True)
        ok["c"] = False
        self.assertEqual(stats.load_failures(ok, 1, 1), 1)
        self.assertEqual(stats.load_failures(ok, 0, 1), 6)


class OracleComparison(unittest.TestCase):
    def test_counts(self):
        oracle = {"a": 3, "b": 0}
        self.assertEqual(stats.oracle_mismatches({"a": 3, "b": 0}, oracle), [])
        self.assertEqual(stats.oracle_mismatches({"a": 4}, oracle), ["a"])

    def test_query_without_oracle_only_needs_to_succeed(self):
        self.assertEqual(stats.oracle_mismatches({"z": 7}, {}), [])
        self.assertEqual(stats.oracle_mismatches({"z": None}, {}), ["z"])

    def test_failed_query_is_a_mismatch(self):
        self.assertEqual(stats.oracle_mismatches({"a": None}, {"a": 3}), ["a"])


class Rejects(unittest.TestCase):
    def test_copy_text_fields(self):
        self.assertEqual(copy_text_fields("1\tab\\tc\t\\N\n"),
                         ["1", "ab\tc", None])
        self.assertEqual(copy_text_fields("a\\\\b"), ["a\\b"])

    def test_multiset(self):
        self.assertTrue(stats.multiset_equal([["a"], ["b"], ["a"]],
                                             [["b"], ["a"], ["a"]]))
        self.assertFalse(stats.multiset_equal([["a"]], [["a"], ["a"]]))


if __name__ == "__main__":
    unittest.main()

"""Tests of the harness's tail-percentile rule and failed-op accounting.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from metrics import account, tail_latency, tail_percentile  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_hundred_samples_give_p90(self):
        p, v, n = tail_percentile(range(1, 101))
        self.assertEqual((p, v, n), (90, 90, 100))

    def test_exactly_ten_samples_beyond(self):
        xs = list(range(1, 41))
        p, v, _ = tail_percentile(xs)
        self.assertEqual((p, v), (75, 30))
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_highest_qualifying_percentile_is_taken(self):
        # n=21: p52 has rank 11 (10 beyond), p53 has rank 12 (9 beyond)
        p, v, _ = tail_percentile(range(1, 22))
        self.assertEqual((p, v), (52, 11))

    def test_order_of_samples_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0] * 10
        self.assertEqual(tail_percentile(xs), tail_percentile(sorted(xs)))

    def test_small_sample_falls_back_to_the_largest(self):
        self.assertEqual(tail_percentile([3, 1, 2]), (100, 3, 3))
        self.assertEqual(tail_percentile(range(19)), (100, 18, 19))

    def test_twenty_samples_reach_the_median(self):
        self.assertEqual(tail_percentile(range(1, 21)), (50, 10, 20))

    def test_empty_sample_is_an_error(self):
        with self.assertRaises(ValueError):
            tail_percentile([])


class TailLatency(unittest.TestCase):
    def test_rule_over_every_sample_of_every_op(self):
        # 3 ops x 10 passes: 30 samples, p66 has rank 20 and 10 beyond
        per_op = {"a": list(range(1, 11)), "b": list(range(11, 21)),
                  "c": list(range(21, 31))}
        self.assertEqual(tail_latency(per_op), (66, 20, 30))

    def test_too_few_samples_give_the_slowest_ops_median(self):
        per_op = {"a": [1, 2, 3], "b": [10, 11, 90], "c": [5, 6, 7]}
        self.assertEqual(tail_latency(per_op), (100, 11, 9))


class Accounting(unittest.TestCase):
    def rec(self, name, status="ok"):
        return {"name": name, "status": status}

    def test_all_ok(self):
        self.assertEqual(account([self.rec("a"), self.rec("b")], set()),
                         (2, 0, {"timeout": 0, "error": 0, "mismatch": 0}))

    def test_each_reason_counts_against_attempts(self):
        ops = [self.rec("a", "timeout"), self.rec("b", "error"), self.rec("c"),
               self.rec("d")]
        attempted, failed, reasons = account(ops, {"c"})
        self.assertEqual((attempted, failed), (4, 3))
        self.assertEqual(reasons, {"timeout": 1, "error": 1, "mismatch": 1})

    def test_mismatch_counts_every_attempt_of_the_entry(self):
        ops = [self.rec("a"), self.rec("a"), self.rec("b")]
        self.assertEqual(account(ops, {"a"})[:2], (3, 2))

    def test_an_op_fails_once_even_when_it_also_mismatches(self):
        attempted, failed, reasons = account([self.rec("a", "timeout")], {"a"})
        self.assertEqual((attempted, failed), (1, 1))
        self.assertEqual(reasons["mismatch"], 0)

    def test_sources_ops_without_oracle_fail_only_on_status(self):
        ops = [{"name": "land", "status": "ok"}, {"name": "list", "status": "error"}]
        self.assertEqual(account(ops, set())[:2], (2, 1))


if __name__ == "__main__":
    unittest.main()

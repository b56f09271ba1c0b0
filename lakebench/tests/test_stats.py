"""Tests for the benchmark's own statistics.

    python3 -m unittest discover -s lakebench/tests
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_ten_or_fewer_samples_have_no_tail(self):
        self.assertIsNone(stats.tail([]))
        self.assertIsNone(stats.tail(list(range(10))))

    def test_eleven_samples_tail_is_the_minimum(self):
        pct, value, n = stats.tail([5, 1, 9, 3, 7, 2, 8, 4, 6, 10, 11])
        self.assertEqual(value, 1)
        self.assertEqual(n, 11)
        self.assertAlmostEqual(pct, 100 / 11)

    def test_tail_has_exactly_ten_samples_beyond_it(self):
        samples = [float(i) for i in range(1000)]
        pct, value, n = stats.tail(list(reversed(samples)))
        self.assertEqual(sum(1 for s in samples if s > value), 10)
        self.assertEqual(value, 989.0)
        self.assertAlmostEqual(pct, 99.0)

    def test_ties_still_leave_ten_samples_at_or_beyond(self):
        samples = [1.0] * 30 + [2.0] * 10
        _, value, _ = stats.tail(samples)
        self.assertEqual(value, 1.0)


class FailureCountingTest(unittest.TestCase):
    OPS = [
        {"kind": "read", "ms": 10.0, "ok": True},
        {"kind": "read", "ms": 5000.0, "ok": False},
        {"kind": "read", "ms": 12.0, "ok": True},
        {"kind": "write", "ms": 40.0, "ok": False},
        {"kind": "write", "ms": 30.0, "ok": True},
    ]

    def test_failed_op_counts_as_attempted_and_failed(self):
        s = stats.op_summary(self.OPS, {"read"})
        self.assertEqual(s["attempted"], 3)
        self.assertEqual(s["failed"], 1)

    def test_failed_op_never_gives_a_latency_sample(self):
        s = stats.op_summary(self.OPS, {"read"})
        self.assertEqual(s["samples"], [10.0, 12.0])
        s = stats.op_summary(self.OPS, {"read", "write"})
        self.assertNotIn(5000.0, s["samples"])
        self.assertNotIn(40.0, s["samples"])

    def test_failed_ratio_uses_attempted_as_denominator(self):
        s = stats.op_summary(self.OPS, {"read", "write"})
        self.assertEqual(stats.failed_ratio(s["attempted"], s["failed"]), 2 / 5)
        self.assertEqual(stats.failed_ratio(0, 0), 0.0)


class SideLatencyTest(unittest.TestCase):
    def test_mean_of_medians_weights_each_kind_once(self):
        appends = [400.0, 410.0, 430.0]
        deletes = [600.0, 640.0, 900.0, 980.0]
        self.assertEqual(stats.mean_of_medians([appends, deletes]), (410.0 + 770.0) / 2)

    def test_mean_of_medians_skips_empty_groups(self):
        self.assertEqual(stats.mean_of_medians([[3.0, 1.0, 2.0], []]), 2.0)
        self.assertIsNone(stats.mean_of_medians([[], []]))


class RecallTest(unittest.TestCase):
    def test_pair_recall_on_hand_built_pairs(self):
        exact = [[1, 2], [1, 3], [4, 5], [6, 7]]
        found = [[2, 1], [4, 5], [8, 9]]  # one reversed, one false positive
        self.assertEqual(stats.pair_recall(found, exact), 0.5)

    def test_pair_recall_ignores_duplicates(self):
        self.assertEqual(stats.pair_recall([[1, 2], [2, 1], [1, 2]], [[1, 2], [3, 4]]), 0.5)

    def test_pair_recall_with_no_exact_pairs_is_one(self):
        self.assertEqual(stats.pair_recall([[1, 2]], []), 1.0)

    def test_topk_recall_is_the_mean_over_queries(self):
        results = [
            {"exact": [1, 2, 3, 4], "approx": [1, 2, 3, 4]},  # 1.0
            {"exact": [5, 6, 7, 8], "approx": [5, 9, 10, 11]},  # 0.25
            {"exact": [1, 2, 3, 4], "approx": [4, 3, 12, 13]},  # 0.5, order ignored
        ]
        self.assertAlmostEqual(stats.topk_recall(results), (1.0 + 0.25 + 0.5) / 3)


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_child_spans(self):
        ms = 1_000_000
        spans = [
            {"id": 0, "parent": -1, "name": "op.read", "start_ns": 0, "end_ns": 100 * ms},
            {"id": 1, "parent": 0, "name": "meta.load", "start_ns": 0, "end_ns": 10 * ms},
            {"id": 2, "parent": 0, "name": "sql.analysis", "start_ns": 10 * ms, "end_ns": 30 * ms},
            {"id": 3, "parent": 0, "name": "scan.exec", "start_ns": 40 * ms, "end_ns": 95 * ms},
        ]
        self.assertEqual(stats.self_times_ms(spans),
                         {"client": 15.0, "meta": 10.0, "plan": 20.0, "scan": 55.0})


if __name__ == "__main__":
    unittest.main()

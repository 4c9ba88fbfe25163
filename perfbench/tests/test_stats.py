"""Unit tests for the benchmark's statistics rules.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import stats  # noqa: E402


def span(i, name, parent, start, end, op=0):
    return {"id": i, "name": name, "parent": parent, "op": op,
            "start_ns": int(start * 1e9), "end_ns": int(end * 1e9)}


class TailRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        with self.assertRaises(stats.TooFewSamples):
            stats.tail(list(range(99)))
        self.assertAlmostEqual(stats.tail(list(range(100))), 89.1)

    def test_p90_interpolates_like_numpy(self):
        xs = [float(x) for x in range(1, 201)]
        self.assertAlmostEqual(stats.tail(xs), 180.1)

    def test_median_and_percentile(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.percentile([1, 2, 3, 4], 0.5), 2.5)
        with self.assertRaises(stats.TooFewSamples):
            stats.median([])


class Outcomes(unittest.TestCase):
    def test_failed_check_fails_its_operation(self):
        checks = [{"op": 0, "ok": True}, {"op": 1, "ok": False}, {"op": 1, "ok": False}]
        self.assertEqual(stats.outcomes([True, True, True], checks), (3, 1))

    def test_operation_marked_failed_counts_once(self):
        checks = [{"op": 2, "ok": False}]
        self.assertEqual(stats.outcomes([True, True, False], checks), (3, 1))

    def test_setup_check_is_its_own_operation(self):
        checks = [{"op": -1, "ok": True}, {"op": -1, "ok": False}]
        self.assertEqual(stats.outcomes([True, True], checks), (4, 1))


class SelfTime(unittest.TestCase):
    def test_duration_minus_children(self):
        spans = [span(0, "op", -1, 0.0, 10.0), span(1, "a", 0, 1.0, 4.0),
                 span(2, "b", 0, 5.0, 6.0), span(3, "c", 1, 2.0, 3.5)]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[0], 6.0)   # 10 - (3 + 1); grandchild not subtracted twice
        self.assertAlmostEqual(st[1], 1.5)   # 3 - 1.5
        self.assertAlmostEqual(st[2], 1.0)
        self.assertAlmostEqual(st[3], 1.5)

    def test_per_op_sums_same_named_spans(self):
        spans = [span(0, "q", -1, 0, 1, op=1), span(1, "q", -1, 2, 4, op=1),
                 span(2, "q", -1, 5, 6, op=2)]
        self.assertEqual(stats.per_op(spans, "q"), {1: 3.0, 2: 1.0})


if __name__ == "__main__":
    unittest.main()

"""Unit tests for the runner's metric helpers.

    python3 -m unittest discover -s perfbench/tests
"""

import math
import sys
import unittest
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import metrics  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_interpolates_and_counts(self):
        self.assertEqual(metrics.percentile([4, 1, 3, 2], 50), (2.5, 4))
        self.assertEqual(metrics.percentile([1, 2, 3, 4, 5], 0), (1, 5))
        self.assertEqual(metrics.percentile([1, 2, 3, 4, 5], 100), (5, 5))
        self.assertAlmostEqual(metrics.percentile(list(range(101)), 95)[0], 95.0)

    def test_empty_is_nan_with_zero_count(self):
        v, n = metrics.percentile([], 50)
        self.assertTrue(math.isnan(v))
        self.assertEqual(n, 0)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertEqual(metrics.tail_percentile(list(range(200)))[0], 95)
        self.assertEqual(metrics.tail_percentile(list(range(199)))[0], 90)
        self.assertEqual(metrics.tail_percentile(list(range(20)))[0], 50)
        q, v, n = metrics.tail_percentile(list(range(19)))
        self.assertIsNone(q)
        self.assertTrue(math.isnan(v))
        self.assertEqual(n, 19)


class RecallTest(unittest.TestCase):
    def test_overlap_over_k(self):
        self.assertEqual(metrics.recall([[1, 2, 3]], [[3, 2, 1]], 3), 1.0)
        self.assertEqual(metrics.recall([[1, 2, 9]], [[1, 2, 3]], 3), 2 / 3)
        self.assertEqual(metrics.recall([[1, 2], [5, 6]], [[1, 3], [7, 8]], 2), 0.25)

    def test_only_top_k_counts(self):
        self.assertEqual(metrics.recall([[1, 2, 3]], [[3, 1, 2]], 1), 0.0)

    def test_empty(self):
        self.assertTrue(math.isnan(metrics.recall([], [], 10)))


class ErrorRateTest(unittest.TestCase):
    def test_rate(self):
        self.assertEqual(metrics.error_rate(40, 0), 0.0)
        self.assertEqual(metrics.error_rate(40, 10), 0.25)
        self.assertTrue(math.isnan(metrics.error_rate(0, 0)))


class SpanTest(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(metrics.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(metrics.union_length([]), 0)

    def test_self_time_subtracts_covered_children(self):
        parent = {"start": 0, "end": 10}
        kids = [{"start": 1, "end": 3}, {"start": 2, "end": 4}, {"start": 8, "end": 12}]
        self.assertEqual(metrics.self_time(parent, kids), 10 - 3 - 2)
        self.assertEqual(metrics.self_time(parent, []), 10)

    def test_attribute_to_innermost_open_span(self):
        spans = [{"id": 0, "start": 0, "end": 100}, {"id": 1, "start": 10, "end": 20},
                 {"id": 2, "start": 12, "end": 15}, {"id": 3, "start": 50, "end": 60}]
        self.assertEqual(metrics.attribute([5, 11, 13, 17, 55, 99, 150], spans),
                         [0, 1, 2, 1, 3, 0, None])


class ChecksTest(unittest.TestCase):
    def record(self, checks, phase="measure"):
        ops = [{"id": i, "phase": phase} for i in range(10)]
        return {"truth": {"t": [[0, 1, 2], [3, 4, 5]]}, "checks": checks, "ops": ops}

    def test_clean_results_pass_and_give_recall(self):
        failed, failures, rec, n = metrics.evaluate_checks(self.record([
            {"op": 0, "kind": "ann_topk", "k": 3, "corpus": 10, "truth": "t",
             "qidx": [0, 1], "ids": [[0, 1, 9], [3, 4, 5]]},
            {"op": 1, "kind": "count", "expected": 7, "actual": 7},
            {"op": 2, "kind": "self", "expected": 4, "ids": [4, 1]}]))
        self.assertEqual((failed, failures), (set(), []))
        self.assertAlmostEqual(rec, 5 / 6)
        self.assertEqual(n, 2)

    def test_recall_only_from_timed_operations(self):
        chk = {"op": 0, "kind": "ann_topk", "k": 3, "corpus": 10, "truth": "t",
               "qidx": [0], "ids": [[0, 1, 9]]}
        failed, _, rec, n = metrics.evaluate_checks(self.record([chk], phase="post"))
        self.assertEqual(failed, set())
        self.assertTrue(math.isnan(rec))
        self.assertEqual(n, 0)

    def test_each_gate_fails_its_op(self):
        failed, failures, _, _ = metrics.evaluate_checks(self.record([
            {"op": 0, "kind": "ann_topk", "k": 3, "corpus": 10, "truth": "t",
             "qidx": [0], "ids": [[0, 0, 1]]},
            {"op": 1, "kind": "ann_topk", "k": 3, "corpus": 4, "truth": "t",
             "qidx": [1], "ids": [[3, 4, 5]]},
            {"op": 2, "kind": "exact_topk", "k": 3, "corpus": 10, "truth": "t",
             "qidx": [0], "ids": [[0, 2, 1]]},
            {"op": 3, "kind": "counts", "expected": [1, 2], "actual": [1, 3]},
            {"op": 4, "kind": "self", "expected": 4, "ids": [1, 4]},
            {"op": 5, "kind": "ann_topk", "k": 3, "corpus": 10, "truth": "t",
             "qidx": [0], "ids": [[0, 1]]}]))
        self.assertEqual(failed, {0, 1, 2, 3, 4, 5})
        self.assertEqual(len(failures), 6)


if __name__ == "__main__":
    unittest.main()

"""Unit tests for the benchmark's metric math.

    python3 -m unittest discover -s perfbench/tests
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import metrics  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 50), 50)
        self.assertEqual(metrics.percentile(xs, 90), 90)
        self.assertEqual(metrics.percentile([7], 99), 7)

    def test_samples_beyond(self):
        self.assertEqual(metrics.beyond(100, 90), 10)
        self.assertEqual(metrics.beyond(99, 90), 9)
        self.assertEqual(metrics.beyond(20, 50), 10)
        self.assertEqual(metrics.beyond(19, 50), 9)

    def test_highest_reportable_keeps_ten_beyond(self):
        self.assertEqual(metrics.highest_reportable(100), 90)
        self.assertEqual(metrics.highest_reportable(99), 75)
        self.assertEqual(metrics.highest_reportable(144), 90)
        self.assertEqual(metrics.highest_reportable(1000), 99)
        self.assertEqual(metrics.highest_reportable(40), 75)
        self.assertIsNone(metrics.highest_reportable(16))


class Geomean(unittest.TestCase):
    def test_values(self):
        self.assertAlmostEqual(metrics.geomean([1, 4]), 2.0)
        self.assertAlmostEqual(metrics.geomean([2, 8, 4]), 4.0)
        self.assertAlmostEqual(metrics.geomean([3.5]), 3.5)

    def test_rejects_non_positive(self):
        with self.assertRaises(ValueError):
            metrics.geomean([1, 0])
        with self.assertRaises(ValueError):
            metrics.geomean([])


class IntervalUnion(unittest.TestCase):
    def test_disjoint_overlapping_nested_unsorted(self):
        self.assertEqual(metrics.union_length([]), 0.0)
        self.assertEqual(metrics.union_length([(0, 1), (2, 4)]), 3)
        self.assertEqual(metrics.union_length([(0, 3), (1, 4)]), 4)
        self.assertEqual(metrics.union_length([(0, 10), (2, 3), (4, 5)]), 10)
        self.assertEqual(metrics.union_length([(5, 6), (0, 2), (1, 3)]), 4)
        self.assertEqual(metrics.union_length([(0, 1), (1, 2)]), 2)


class SelfTime(unittest.TestCase):
    def test_children_clipped_and_merged(self):
        # covered inside (0, 10): [1, 5] and [8, 10]
        self.assertEqual(
            metrics.self_time((0, 10), [(1, 3), (2, 5), (8, 12)]), 4)

    def test_no_children(self):
        self.assertEqual(metrics.self_time((2, 5), []), 3)

    def test_child_outside_span(self):
        self.assertEqual(metrics.self_time((0, 4), [(5, 9)]), 4)


class ColdMinusWarm(unittest.TestCase):
    def test_sum_over_queries_timed_both_ways(self):
        cold = {"a": 5.0, "b": 2.0, "only_cold": 7.0}
        warm = {"a": 1.0, "b": 2.5, "only_warm": 9.0}
        self.assertAlmostEqual(metrics.cold_minus_warm(cold, warm), 3.5)


def record():
    """Two query operations in one pass; the first started two overlapping
    jobs from its exec span, the second one job from its own span."""
    spans = [
        {"id": 0, "name": "run", "parent": -1, "start": 0.0, "end": 20.0},
        {"id": 1, "name": "catalog", "parent": 0, "start": 1.0, "end": 19.0},
        {"id": 2, "name": "query q1", "parent": 1, "start": 1.0, "end": 7.0},
        {"id": 3, "name": "build", "parent": 2, "start": 1.0, "end": 2.0},
        {"id": 4, "name": "exec", "parent": 2, "start": 2.0, "end": 7.0},
        {"id": 5, "name": "query q2", "parent": 1, "start": 8.0, "end": 10.0},
    ]
    ops = [
        {"kind": "query", "name": "q1", "catalog": "Relational", "pass": 0,
         "phase": "cold", "span": 2, "start": 1.0, "end": 7.0, "ok": True,
         "error": "", "build_s": 1.0, "exec_s": 5.0, "memo_s": 0.5},
        {"kind": "query", "name": "q1", "catalog": "Relational", "pass": 0,
         "phase": "warm", "span": 5, "start": 8.0, "end": 10.0, "ok": True,
         "error": "", "build_s": 0.5, "exec_s": 1.5, "memo_s": 0.0},
    ]
    jobs = [{"id": 0, "group": 4, "start": 2.0, "end": 4.0},
            {"id": 1, "group": 4, "start": 3.0, "end": 5.0},
            {"id": 2, "group": 5, "start": 8.5, "end": 9.0},
            {"id": 3, "group": 0, "start": 15.0, "end": 16.0}]
    return {"setup_s": [9.0, 2.0, 3.0], "passes": [[1.0, 19.0]], "ops": ops,
            "peak_heap_bytes": 3 * 2**20, "spans": spans, "jobs": jobs,
            "measure_start": 1.0, "measure_end": 19.0,
            "task_fields": ["tasks", "cpu_s"],
            "tasks_by_group": {"4": [6, 2.0], "5": [2, 0.5], "0": [9, 9.0]}}


class Reduction(unittest.TestCase):
    def test_end_to_end(self):
        m = metrics.end_to_end(record())
        self.assertEqual(m["setup_s"], 3.0)
        self.assertEqual(m["pass_s"], 8.0)  # 6 s + 2 s of operations
        self.assertAlmostEqual(m["op_geomean_s"], 12 ** 0.5)
        self.assertEqual(m["op_p50_s"], 4.0)
        self.assertEqual(m["peak_heap_mb"], 3.0)

    def test_per_layer_attribution(self):
        m = metrics.per_layer(record())
        self.assertEqual(m["driver.jobs"], 3)  # job 3 belongs to no operation
        self.assertAlmostEqual(m["driver.job_s"], 3.5)
        self.assertAlmostEqual(m["driver.gap_s"], 4.5)
        self.assertEqual(m["tasks.count"], 8)
        self.assertAlmostEqual(m["tasks.cpu_s"], 2.5)
        self.assertAlmostEqual(m["artifacts.build_s"], 4.0)
        self.assertAlmostEqual(m["memo.build_s"], 0.5)
        self.assertAlmostEqual(m["operators.Relational.total_s"], 8.0)
        self.assertAlmostEqual(m["harness.self_s"], 10.0)

    def test_spans_self_time_counts_jobs(self):
        by_id = {s["id"]: s for s in metrics.spans_with_self_time(record())}
        self.assertAlmostEqual(by_id[4]["self_s"], 2.0)  # 5 s minus jobs [2, 5]
        self.assertAlmostEqual(by_id[2]["self_s"], 0.0)
        self.assertAlmostEqual(by_id[1]["self_s"], 10.0)


if __name__ == "__main__":
    unittest.main()

"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import compare  # noqa: E402
import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(19))
        self.assertEqual(stats.tail_percentile(20), 50.0)
        self.assertEqual(stats.tail_percentile(39), 50.0)
        self.assertEqual(stats.tail_percentile(40), 75.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(200), 95.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)

    def test_tail_value_is_nearest_rank(self):
        values = list(range(1, 101))  # 1..100
        self.assertEqual(stats.tail(values), (90.0, 90))
        # ten values lie beyond the reported one
        p, v = stats.tail(values)
        self.assertEqual(sum(1 for x in values if x > v), 10)

    def test_small_sample_has_no_tail(self):
        self.assertIsNone(stats.tail(list(range(19))))
        self.assertEqual(stats.tail(list(range(20))), (50.0, 9))

    def test_percentile(self):
        self.assertEqual(stats.percentile([3, 1, 2], 50), 2)
        self.assertEqual(stats.percentile([1, 2, 3, 4], 50), 2)
        self.assertEqual(stats.percentile([1, 2, 3, 4], 100), 4)
        self.assertEqual(stats.percentile([7], 99.9), 7)


class DriverGap(unittest.TestCase):
    def test_gap_is_wall_minus_union_of_jobs(self):
        # op 0..100; jobs 10..30 and 20..50 overlap (union 40), 60..70 adds 10
        self.assertEqual(stats.driver_gap(0, 100, [(10, 30), (20, 50), (60, 70)]), 50)

    def test_jobs_are_clipped_to_the_op(self):
        self.assertEqual(stats.driver_gap(10, 20, [(0, 15), (18, 40)]), 3)

    def test_no_jobs_means_all_gap(self):
        self.assertEqual(stats.driver_gap(5, 9, []), 4)

    def test_nested_and_touching_intervals(self):
        self.assertEqual(stats.union_length([(0, 10), (2, 3), (10, 12)]), 12)


class SelfTime(unittest.TestCase):
    def test_children_coverage_is_subtracted_once(self):
        self.assertEqual(stats.self_time(0, 100, [(10, 40), (30, 60)]), 50)

    def test_duration_children_and_floor(self):
        self.assertEqual(stats.self_time(0, 100, [(0, 50)], [20]), 30)
        self.assertEqual(stats.self_time(0, 10, [(0, 10)], [5]), 0)

    def test_tree_self_times_add_up_to_the_op(self):
        raw = {
            "ops": [{"i": 0, "kind": "query", "group": "G", "t0": 0, "t1": 1000,
                     "traced": True, "span": 1, "ok": True, "counters": {}}],
            "spans": [
                {"id": 1, "parent": 0, "layer": "client", "name": "op:query", "t0": 0, "t1": 1000},
                {"id": 2, "parent": 1, "layer": "queries", "name": "construct", "t0": 0, "t1": 300},
                {"id": 3, "parent": 1, "layer": "queries", "name": "action", "t0": 300, "t1": 1000},
            ],
            # one job in the action with one stage; one streaming job without a span
            "jobs": [{"id": 0, "span": 3, "t0": 400, "t1": 900, "stages": [0]},
                     {"id": 1, "span": 0, "t0": 100, "t1": 200, "stages": []}],
            "stages": [{"id": 0, "attempt": 0, "t0": 450, "t1": 850}],
            "plans": [{"t0": 320, "t1": 350, "analysis_ms": 0, "optimization_ms": 0,
                       "planning_ms": 0, "scans": 1}],
            "progress": [],
        }
        tree = stats.Tree(raw)
        total = sum(us for _l, _n, op, us in tree.self_times() if op == 1)
        self.assertEqual(total, 1000)
        by = {}
        for layer, name, _op, us in tree.self_times():
            by[(layer, name)] = by.get((layer, name), 0) + us
        self.assertEqual(by[("queries", "action")], 700 - 500)
        self.assertEqual(by[("queries", "construct")], 300 - 100)
        self.assertEqual(by[("spark", "job")], 100 + 100)
        self.assertEqual(by[("spark", "stage")], 400)
        self.assertEqual(len(tree.jobs_of_op(1)), 2)

    def test_overlapping_jobs_count_once(self):
        raw = {
            "ops": [{"i": 0, "kind": "q", "group": "", "t0": 0, "t1": 100,
                     "traced": True, "span": 1, "ok": True, "counters": {}}],
            "spans": [{"id": 1, "parent": 0, "layer": "client", "name": "op:q", "t0": 0, "t1": 100}],
            "jobs": [{"id": 0, "span": 1, "t0": 10, "t1": 60, "stages": [0]},
                     {"id": 1, "span": 1, "t0": 40, "t1": 80, "stages": []}],
            "stages": [{"id": 0, "attempt": 0, "t0": 20, "t1": 50}],
            "plans": [], "progress": [],
        }
        times = stats.Tree(raw).self_times()
        self.assertEqual(sum(us for *_x, us in times), 100)
        self.assertIn(("spark", "stage", 1, 30), times)
        self.assertIn(("spark", "job", 1, 40), times)


class ErrorRate(unittest.TestCase):
    def test_failed_over_attempted(self):
        ops = [{"ok": True}, {"ok": False}, {"ok": True}, {"ok": True}]
        self.assertEqual(stats.error_rate(ops), 0.25)
        self.assertEqual(stats.error_rate([{"ok": True}]), 0.0)

    def test_nothing_attempted_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.error_rate([])


class Recall(unittest.TestCase):
    def test_recall_at_10(self):
        truth = {1: list(range(10)), 2: list(range(10, 20))}
        results = {1: list(range(10)), 2: [10, 11, 12, 13, 14, 99, 98, 97, 96, 95]}
        self.assertEqual(stats.recall_at_k(results, truth), 0.75)

    def test_order_and_extra_ranks_do_not_count(self):
        truth = {1: list(range(12))}
        self.assertEqual(stats.recall_at_k({1: list(reversed(range(10))) + [10, 11]}, truth), 1.0)
        self.assertEqual(stats.recall_at_k({1: [10, 11] + list(range(8))}, truth), 0.8)


class TracingOverhead(unittest.TestCase):
    @staticmethod
    def op(query, traced, wall):
        return {"kind": "query", "query": query, "traced": traced, "t0": 0, "t1": wall}

    def test_median_of_traced_over_untraced_per_query(self):
        ops = [self.op("a", True, 110), self.op("a", False, 100),
               self.op("b", False, 200), self.op("b", True, 220),
               self.op("c", True, 300), self.op("c", False, 300)]
        self.assertAlmostEqual(stats.tracing_overhead(ops), 10.0)

    def test_a_query_run_only_one_way_does_not_count(self):
        ops = [self.op("a", True, 150), self.op("b", True, 220), self.op("b", False, 200)]
        self.assertAlmostEqual(stats.tracing_overhead(ops), 10.0)
        self.assertIsNone(stats.tracing_overhead(ops[:1]))


class Verdict(unittest.TestCase):
    def test_improved_needs_nine_tenths_of_pairs_and_a_gap(self):
        a = [100, 101, 99, 100, 102, 98, 100, 101, 99, 100]
        b = [x - 20 for x in a]
        self.assertEqual(compare.verdict(a, b, "lower", 0.1)[0], "improved")

    def test_worse_beyond_bound(self):
        a = [100, 101, 99, 100, 102, 98, 100, 101, 99, 100]
        b = [x * 1.2 for x in a]
        self.assertEqual(compare.verdict(a, b, "lower", 0.1)[0], "worse")
        self.assertEqual(compare.verdict(a, [x * 1.05 for x in a], "lower", 0.1)[0], "within bound")

    def test_wide_spread_is_unresolved(self):
        a = [50, 150, 60, 140, 70, 130, 80, 120, 90, 110]
        b = [55, 145, 65, 135, 75, 125, 85, 115, 95, 105]
        self.assertEqual(compare.verdict(a, b, "lower", 0.1)[0], "unresolved")


if __name__ == "__main__":
    unittest.main()

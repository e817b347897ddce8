"""Summary statistics and per-layer arithmetic over a raw trace.

    python3 -m unittest discover -s perfbench/tests
"""

import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import measure  # noqa: E402


class Summary(unittest.TestCase):

    def test_median_and_count(self):
        self.assertEqual(measure.summary([3.0, 1.0, 2.0]),
                         {"median": 2.0, "n": 3})
        self.assertEqual(measure.summary([1.0, 2.0, 3.0, 4.0]),
                         {"median": 2.5, "n": 4})

    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(measure.tail_percentile(list(range(19))))
        self.assertEqual(measure.tail_percentile(list(range(1, 21))),
                         ("p50", 10))
        self.assertEqual(measure.tail_percentile(list(range(1, 101))),
                         ("p90", 90))
        self.assertEqual(measure.tail_percentile(list(range(1, 1001))),
                         ("p99", 990))
        s = measure.summary(list(range(1, 101)))
        self.assertEqual((s["n"], s["p90"]), (100, 90))

    def test_quartile_spread_matches_statistics(self):
        v = [10.0, 11.0, 9.5, 10.4, 12.0, 10.1, 9.9, 10.7, 10.2, 11.5]
        q1, _, q3 = statistics.quantiles(v, n=4)
        self.assertAlmostEqual(measure.quartile_spread(v),
                               (q3 - q1) / statistics.median(v))


class DriverGap(unittest.TestCase):

    def test_union_of_overlapping_intervals(self):
        self.assertEqual(measure.union_length([]), 0)
        self.assertEqual(measure.union_length([(0, 10), (5, 15)]), 15)
        self.assertEqual(measure.union_length([(0, 10), (2, 3), (20, 25)]),
                         15)
        self.assertEqual(measure.union_length([(5, 5), (1, 2)]), 1)

    def test_gap_is_wall_minus_stage_union(self):
        span = {"start_ms": 1000, "end_ms": 3000, "s": 2.0}
        stages = [{"start_ms": 1200, "end_ms": 1800},
                  {"start_ms": 1500, "end_ms": 2000},   # overlaps
                  {"start_ms": 2900, "end_ms": 3500}]   # clipped at end
        # covered: 1200-2000 (800 ms) + 2900-3000 (100 ms)
        self.assertAlmostEqual(measure.driver_gap_s(span, stages), 1.1)

    def test_no_stages_is_all_gap(self):
        span = {"start_ms": 0, "end_ms": 500, "s": 0.5}
        self.assertAlmostEqual(measure.driver_gap_s(span, []), 0.5)


class PerLayer(unittest.TestCase):

    TRACE = {
        "spans": [
            {"id": "s0", "name": "phase1", "parent": None, "run": "t1",
             "start_ms": 0, "end_ms": 1000, "s": 1.0},
            {"id": "s1", "name": "io.read", "parent": "s0", "run": "t1",
             "start_ms": 100, "end_ms": 400, "s": 0.3, "files": 2},
            {"id": "s2", "name": "io.read", "parent": "s0", "run": "t1",
             "start_ms": 500, "end_ms": 900, "s": 0.4, "files": 4},
        ],
        "jobs": [{"job": 0, "span": "s1", "start_ms": 110},
                 {"job": 1, "span": "s2", "start_ms": 510},
                 {"job": 2, "span": "s2", "start_ms": 700}],
        "stages": [
            {"stage": 0, "span": "s1", "start_ms": 110, "end_ms": 300,
             "tasks": 4, "executor_cpu_ns": 2e8, "gc_ms": 10,
             "shuffle_write_bytes": 100, "shuffle_records": 5},
            {"stage": 1, "span": "s2", "start_ms": 510, "end_ms": 800,
             "tasks": 2, "executor_cpu_ns": 1e8, "gc_ms": 0,
             "shuffle_write_bytes": 0, "shuffle_records": 0}],
        "phases": [{"phase": "analysis", "start_ms": 105, "end_ms": 108},
                   {"phase": "planning", "start_ms": 505, "end_ms": 510}],
    }

    def test_parent_includes_children(self):
        m = dict(measure.call_measures(self.TRACE).values())["phase1"]
        self.assertEqual((m["jobs"], m["stages"], m["tasks"]), (3, 2, 6))
        self.assertAlmostEqual(m["executor_cpu_s"], 0.3)
        self.assertAlmostEqual(m["planning_s"], 0.008)
        self.assertAlmostEqual(m["driver_gap_s"], 1.0 - 0.48)

    def test_medians_over_calls(self):
        out = measure.per_layer(self.TRACE, {"io.read.s", "io.read.jobs",
                                             "io.read.files"})
        self.assertAlmostEqual(out["io.read.s"], 0.35)
        self.assertEqual(out["io.read.jobs"], 1.5)
        self.assertEqual(out["io.read.files"], 3)


if __name__ == "__main__":
    unittest.main()

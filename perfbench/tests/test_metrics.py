"""Tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import metrics  # noqa: E402


class TailPercentileRule(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertTrue(metrics.supports(100, 90))
        self.assertFalse(metrics.supports(99, 90))
        self.assertTrue(metrics.supports(1000, 99))
        self.assertFalse(metrics.supports(999, 99))

    def test_highest_supported_candidate(self):
        self.assertIsNone(metrics.tail_percentile(39))
        self.assertEqual(metrics.tail_percentile(40), 75.0)
        self.assertEqual(metrics.tail_percentile(199), 90.0)
        self.assertEqual(metrics.tail_percentile(200), 95.0)
        self.assertEqual(metrics.tail_percentile(1000), 99.0)
        self.assertEqual(metrics.tail_percentile(10000), 99.9)

    def test_percentile_interpolates(self):
        xs = list(range(1, 101))  # 1..100
        self.assertAlmostEqual(metrics.percentile(xs, 50), 50.5)
        self.assertAlmostEqual(metrics.percentile(xs, 99), 99.01)
        self.assertEqual(metrics.percentile([7.0], 99), 7.0)


class IntervalArithmetic(unittest.TestCase):
    def test_union_merges_overlaps_and_gaps(self):
        self.assertEqual(metrics.union_length([]), 0.0)
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 30)]), 25.0)
        self.assertEqual(metrics.union_length([(20, 30), (0, 10), (10, 12)]), 22.0)
        self.assertEqual(metrics.union_length([(0, 10), (2, 3)]), 10.0)
        self.assertEqual(metrics.union_length([(5, 5), (7, 6)]), 0.0)

    def test_driver_floor_is_wall_minus_job_union_inside_the_span(self):
        # jobs overlap each other and one starts before the span
        self.assertEqual(metrics.driver_floor(100, 200, [(90, 120), (110, 150), (180, 260)]), 30.0)
        self.assertEqual(metrics.driver_floor(0, 50, []), 50.0)
        self.assertEqual(metrics.driver_floor(0, 50, [(60, 70)]), 50.0)

    def test_self_time_subtracts_covered_children(self):
        self.assertEqual(metrics.self_time((0, 100), [(10, 30), (20, 40), (90, 120)]), 60.0)
        self.assertEqual(metrics.self_time((0, 100), []), 100.0)


class TraceBilling(unittest.TestCase):
    def phase(self):
        # op 1: root span 1 (0-100) with children 2 (10-40) and 3 (50-90)
        spans = [[1, 1, "op.agg", -1, 0.0, 100.0], [2, 1, "plan.execute", 1, 10.0, 40.0],
                 [3, 1, "query.collect", 1, 50.0, 90.0]]
        job = lambda i, g, s, e, tasks: [i, g, s, e, 1, tasks, 0, 0.0, 0, 0, 7, 0]
        jobs = [job(1, "pb-3", 55.0, 70.0, 4), job(2, "pb-3", 65.0, 85.0, 2),
                # started on another thread, inside span 2: billed by time
                job(3, "statement-x", 20.0, 30.0, 1),
                # outside every span: billed to none
                job(4, "", 200.0, 210.0, 1)]
        return {"spans": spans, "jobs": jobs, "measure_start_ms": 0.0, "measure_end_ms": 150.0,
                "ops": 1}

    def test_jobs_roll_up_and_floor(self):
        tr = metrics.Trace(self.phase())
        root = tr.named("op.agg")[0]
        self.assertEqual(sorted(j["id"] for j in tr.jobs_of(root)), [1, 2, 3])
        # wall 100 minus union of (55-85) and (20-30)
        self.assertEqual(tr.floor_ms(root), 60.0)
        # self time of the root: 100 minus children (10-40) and (50-90)
        self.assertEqual(tr.self_ms(root), 30.0)
        st = metrics.span_stats(tr, "op.agg")
        self.assertEqual((st["jobs"], st["tasks"], st["shuffle_bytes"]), (3, 7, 21))


class TracingOverhead(unittest.TestCase):
    def test_overhead_is_taken_within_each_kind(self):
        # the traced side has the slow kind twice, the untraced side the
        # fast one: a pooled mean would report the mix, not the tracing
        samples = {"slow@t": [(0, 1010.0), (1, 1030.0)], "slow@u": [(2, 1000.0)],
                   "fast@t": [(3, 105.0)], "fast@u": [(4, 100.0), (5, 100.0)],
                   "only@t": [(6, 500.0)]}
        self.assertEqual(metrics.paired_overhead(samples, ("slow", "fast", "only")), 12.5)


class WindowMapping(unittest.TestCase):
    def test_window_result_maps_to_the_event_that_closed_it(self):
        # a count window of 3 over events 1..6 emits when events 3..6 arrive;
        # each result carries the closing event's id first
        values = [5, 1, 4, 2, 8, 3]
        rows = []
        for newest in range(3, 7):
            window = values[newest - 3:newest]
            rows.append([newest, len(window), sum(window), 1000.0 + newest])
        due = [10.0 * i for i in range(1, 7)]
        self.assertEqual([metrics.window_newest_event(r) for r in rows], [3, 4, 5, 6])
        lat = metrics.window_latencies(rows, due, first_measured_id=5)
        self.assertEqual(lat, [(50.0, 1005.0 - 50.0), (60.0, 1006.0 - 60.0)])


if __name__ == "__main__":
    unittest.main()

"""Tests for the benchmark's metric rules.

    python3 -m unittest discover -s sidebench/tests
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_tail_percentile_needs_ten_samples_beyond_it(self):
        lat = [float(v) for v in range(1, 101)]  # 100 samples
        self.assertEqual(stats.percentile(lat, 0.9), 90.0)  # 10 beyond
        self.assertIsNone(stats.percentile(lat[:99], 0.9))  # 9 beyond
        self.assertIsNone(stats.percentile(lat, 0.95))

    def test_ties_at_the_percentile_are_not_beyond_it(self):
        lat = [1.0] * 95 + [2.0] * 5
        self.assertIsNone(stats.percentile(lat, 0.5))


class OpenLoopLatency(unittest.TestCase):
    def test_latency_runs_from_due_time_not_send_time(self):
        # the generator sent the second unit 300 ms late; the system
        # committed both 100 ms after they were sent
        units = [[1000.0, 1000.0, 1100.0], [1050.0, 1350.0, 1450.0]]
        self.assertEqual(stats.latencies(units), [100.0, 400.0])

    def test_units_due_outside_the_timed_window_are_skipped(self):
        units = [[10.0, 10.0, 20.0], [50.0, 50.0, 70.0], [99.0, 99.0, 150.0]]
        self.assertEqual(stats.latencies(units, window=(40.0, 90.0)), [20.0])

    def test_a_unit_that_never_completed_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.latencies([[0.0, 0.0, float("nan")]])


class WarmupIsSetup(unittest.TestCase):
    # the timed phase starts at 10 000 ms, after two warm-up batches
    window = (10000.0, 20000.0)
    batches = [
        {"rows": 100, "busy_ms": 3000.0, "end_ms": 9000.0},  # slow first batch
        {"rows": 100, "busy_ms": 1000.0, "end_ms": 9900.0},
        {"rows": 100, "busy_ms": 1000.0, "end_ms": 11000.0},
        {"rows": 200, "busy_ms": 1000.0, "end_ms": 12000.0},
        {"rows": 100, "busy_ms": 500.0, "end_ms": 13000.0},
    ]

    def test_warmup_rows_and_time_stay_out_of_the_timed_rate(self):
        self.assertEqual(stats.busy_rate(self.batches, self.window), 200.0)

    def test_warmup_counts_in_setup(self):
        setup = {"session_s": 5.0, "stage_s": [3.0, 1.0, 2.0], "stage_parts": 3,
                 "warmup_s": 10.0}
        self.assertEqual(stats.setup_seconds(setup), 5.0 + 3 * 2.0 + 10.0)

    def test_batches_of_one_group_form_one_sample(self):
        grouped = [dict(b, group=i // 2) for i, b in enumerate(self.batches[2:])]
        # groups: 300 rows in 2000 ms, 100 rows in 500 ms
        self.assertEqual(stats.busy_rate(grouped, self.window), (150.0 + 200.0) / 2)

    def test_no_timed_batch_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.busy_rate(self.batches[:2], self.window)


class Operations(unittest.TestCase):
    def test_an_operation_of_parts_sums_the_part_medians(self):
        samples = {"op_parts": {"a": [1.0, 9.0, 2.0], "b": [3.0, 4.0]}}
        self.assertEqual(stats.op_seconds(samples), 2.0 + 3.5)

    def test_a_plain_operation_is_the_median(self):
        self.assertEqual(stats.op_seconds({"ops": [3.0, 1.0, 2.0]}), 2.0)


class SelfTime(unittest.TestCase):
    def test_self_time_subtracts_covered_child_intervals(self):
        spans = [
            {"id": 1, "parent": -1, "layer": "engine", "start_ms": 0.0, "end_ms": 100.0},
            {"id": 2, "parent": 1, "layer": "sources", "start_ms": 10.0, "end_ms": 40.0},
            {"id": 3, "parent": 1, "layer": "sources", "start_ms": 30.0, "end_ms": 50.0},
            {"id": 4, "parent": 1, "layer": "sources", "start_ms": 35.0, "end_ms": 45.0},
        ]
        out = stats.self_times(spans)
        self.assertEqual(out["engine"], 60.0)
        self.assertEqual(out["sources"], 30.0 + 20.0 + 10.0)


if __name__ == "__main__":
    unittest.main()

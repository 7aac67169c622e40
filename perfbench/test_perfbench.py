"""The benchmark's own tests: python3 perfbench/test_perfbench.py"""
import datetime
import math
import random
import sys
import unittest
from decimal import Decimal
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import fingerprint  # noqa: E402
import metrics  # noqa: E402
import workloads  # noqa: E402


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        t = metrics.tail(range(1, 101))
        self.assertEqual((t["value"], t["pct"], t["beyond"], t["n"]), (90, 90, 10, 100))

    def test_no_higher_percentile_keeps_ten_beyond(self):
        for n in range(20, 300):
            s = list(range(n))
            t = metrics.tail(s)
            self.assertEqual(sum(1 for x in s if x > t["value"]), t["beyond"])
            self.assertGreaterEqual(t["beyond"], 10)
            if t["pct"] < 99:
                higher = math.ceil((t["pct"] + 1) * n / 100)
                self.assertLess(n - higher, 10)

    def test_too_few_samples_report_the_maximum(self):
        t = metrics.tail([3.0, 1.0, 2.0] * 6)
        self.assertEqual((t["value"], t["pct"], t["beyond"]), (3.0, 100, 0))


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_covered_child_intervals(self):
        spans = [
            {"id": 0, "parent": -1, "name": "run", "start": 0.0, "end": 10.0},
            # overlapping children cover [1, 5]; the last one is clipped at 10
            {"id": 1, "parent": 0, "name": "a", "start": 1.0, "end": 3.0},
            {"id": 2, "parent": 0, "name": "b", "start": 2.0, "end": 5.0},
            {"id": 3, "parent": 0, "name": "c", "start": 8.0, "end": 12.0},
            {"id": 4, "parent": 1, "name": "d", "start": 1.5, "end": 2.0},
        ]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st[0], 10.0 - 4.0 - 2.0)
        self.assertAlmostEqual(st[1], 2.0 - 0.5)
        self.assertAlmostEqual(st[2], 3.0)
        self.assertAlmostEqual(st[4], 0.5)


class StepMedianTest(unittest.TestCase):
    def test_a_burst_in_one_step_of_one_pass_does_not_move_the_sum(self):
        def p(a, b):
            return {"queries": [{"name": "a", "cpu_s": a}, {"name": "b", "cpu_s": b}]}
        passes = [p(1.0, 2.0), p(1.1, 9.0), p(1.2, 2.2)]
        self.assertAlmostEqual(metrics.step_median_sum(passes, lambda q: q["cpu_s"]), 3.3)


class FingerprintTest(unittest.TestCase):
    COLS = ["b", "a", "ts", "d", "amount"]
    ROWS = [(i, f"user-{i}", datetime.datetime(2024, 3, 1, 12, 0, i % 60),
             datetime.date(2024, 3, 1 + i % 28), 1.25 * i + 0.1) for i in range(200)]

    def test_order_independent(self):
        rows = list(self.ROWS)
        random.Random(7).shuffle(rows)
        self.assertEqual(fingerprint.of(self.COLS, rows), fingerprint.of(self.COLS, self.ROWS))

    def test_one_perturbed_row_fails_the_check(self):
        want = fingerprint.of(self.COLS, self.ROWS)
        rows = list(self.ROWS)
        b, a, ts, d, amount = rows[123]
        rows[123] = (b, a, ts, d, amount + 1e-6)
        got = fingerprint.of(self.COLS, rows)
        self.assertEqual(got["rows"], want["rows"])
        raw = {"warm": [],
               "passes": [{"queries": [dict(got, name="q", **{"pass": 1})]}]}
        attempted, failed, problems = metrics.check_batch(raw, {"q": want}, None)
        self.assertEqual((attempted, failed), (1, 1))
        self.assertIn("pass 1 q", problems[0])

    def test_rounding_noise_below_nine_decimals_is_ignored(self):
        rows = [(b, a, ts, d, amount + 1e-13) for b, a, ts, d, amount in self.ROWS]
        self.assertEqual(fingerprint.of(self.COLS, rows), fingerprint.of(self.COLS, self.ROWS))

    def test_canonical_cells(self):
        self.assertEqual(fingerprint.cell(None), "\\N")
        self.assertEqual(fingerprint.cell(True), "true")
        self.assertEqual(fingerprint.cell(-0.0), "0")
        self.assertEqual(fingerprint.cell(2.5e20), "250000000000000000000")
        self.assertEqual(fingerprint.cell(0.1), "0.1")
        self.assertEqual(fingerprint.cell(Decimal("12.3400")), "12.34")
        self.assertEqual(fingerprint.cell(datetime.datetime(1970, 1, 1, 0, 0, 1)), "1000000")


class OpenLoopTest(unittest.TestCase):
    def test_latency_runs_from_due_time_not_landing(self):
        files = [{"name": "f0", "due_ms": 1000, "landed_ms": 1000},
                 # the generator ran 400 ms late: that wait still counts
                 {"name": "f1", "due_ms": 1250, "landed_ms": 1650}]
        lat = metrics.open_loop_latencies(files, {"f0": 1300, "f1": 1900})
        self.assertEqual(lat, [0.3, 0.65])


class PlanTest(unittest.TestCase):
    def test_same_seed_same_plan(self):
        for w in workloads.WORKLOADS:
            self.assertEqual(workloads.plan(w, 5, 10, 0), workloads.plan(w, 5, 10, 0))
            self.assertNotEqual(workloads.plan(w, 5, 10, 0), workloads.plan(w, 6, 10, 0))

    def test_stream_files_land_in_order_and_slices_are_non_empty(self):
        for seed in range(50):
            s = workloads.stream_plan(random.Random(seed))
            self.assertEqual(s["due_offsets_s"], sorted(s["due_offsets_s"]))
            cuts = [0.0] + s["cuts"] + [1.0]
            self.assertTrue(all(b - a > 0.01 for a, b in zip(cuts, cuts[1:])))

    def test_rest_expectation(self):
        opts = workloads.rest_options(random.Random(1))
        self.assertEqual(workloads.rest_expected(opts),
                         {"rows": workloads.REST_DAYS * (86400 + 7 * 1440),
                          "throttled": 8})


if __name__ == "__main__":
    unittest.main()

"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_ten_samples_beyond(self):
        self.assertEqual(metrics.tail_percentile(100), 90.0)
        self.assertEqual(metrics.tail_percentile(1000), 99.0)
        self.assertAlmostEqual(metrics.tail_percentile(40), 75.0)

    def test_never_below_median(self):
        self.assertEqual(metrics.tail_percentile(20), 50.0)
        self.assertEqual(metrics.tail_percentile(4), 50.0)

    def test_no_samples(self):
        with self.assertRaises(ValueError):
            metrics.tail_percentile(0)

    def test_percentile_interpolates(self):
        xs = [4.0, 1.0, 3.0, 2.0]
        self.assertEqual(metrics.percentile(xs, 0), 1.0)
        self.assertEqual(metrics.percentile(xs, 100), 4.0)
        self.assertEqual(metrics.percentile(xs, 50), 2.5)
        # with 40 samples, the tail percentile leaves exactly 10 above it
        vals = list(range(40))
        p = metrics.tail_percentile(len(vals))
        self.assertEqual(sum(v > metrics.percentile(vals, p) for v in vals), 10)


class IntervalUnion(unittest.TestCase):
    def test_overlapping_nested_touching(self):
        iv = [(5, 7), (0, 2), (1, 3), (6, 6.5), (3, 4), (10, 10)]
        self.assertEqual(metrics.union(iv), [(0, 4), (5, 7)])
        self.assertEqual(metrics.length(iv), 6)

    def test_empty(self):
        self.assertEqual(metrics.length([]), 0)

    def test_clip(self):
        self.assertEqual(metrics.clip([(0, 10), (12, 15), (-5, -1)], 2, 13), [(2, 10), (12, 13)])


class Residual(unittest.TestCase):
    def test_parts_add_up_to_wall(self):
        windows = [(0, 100), (200, 260)]
        jobs = [(10, 30), (20, 50), (90, 120), (210, 220)]
        # planning overlapping a job counts once, as job time
        phases = [(5, 15), (60, 70), (250, 300), (150, 160)]
        job, plan, res = metrics.residual(windows, jobs, phases)
        self.assertEqual(job, 40 + 10 + 10)
        self.assertEqual(plan, 5 + 10 + 10)
        self.assertEqual(job + plan + res, 160)

    def test_nothing_inside(self):
        self.assertEqual(metrics.residual([(0, 10)], [(20, 30)], []), (0.0, 0.0, 10.0))


class Amplification(unittest.TestCase):
    def test_write_amp(self):
        self.assertEqual(metrics.write_amp(3000, 1000), 3.0)
        self.assertEqual(metrics.write_amp(3000, 0), 0.0)


class Spread(unittest.TestCase):
    def test_quartiles(self):
        med, q1, q3, rel = metrics.spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10])
        self.assertEqual((med, q1, q3), (5.5, 2.75, 8.25))
        self.assertAlmostEqual(rel, 1.0)


def raw_run(traced=False):
    """A two-op run: op 0 holds one ml fit span with one job; op 1 fails."""
    raw = {
        "launched": 0.0, "session_ready": 2000.0, "generate_ms": 200.0,
        "warm_ms": 1000.0, "first_op": 3300.0, "passes": 1, "cpus": 4, "peak_rss_kb": 2048,
        "codegen_compiles": 3, "codegen_ms": 30.0,
        "facts": {"candidates": 7, "cuts": 2},
        "ops": [
            {"name": "fit", "t0": 10000.0, "t1": 11000.0, "error": None, "cached_blocks": 2},
            {"name": "fit", "t0": 11000.0, "t1": 11500.0, "error": "wrong", "cached_blocks": 0},
        ],
        "trace": None,
    }
    if traced:
        raw["trace"] = {
            "spans": [
                {"id": 0, "layer": "op", "name": "fit", "op": 0, "parent": -1,
                 "t0": 10000.0, "t1": 11000.0},
                {"id": 1, "layer": "ml", "name": "fit", "op": 0, "parent": 0,
                 "t0": 10100.0, "t1": 10900.0},
                {"id": 2, "layer": "op", "name": "fit", "op": 1, "parent": -1,
                 "t0": 11000.0, "t1": 11500.0},
                # a warm-pass span (op -1) is not part of the timed region
                {"id": 3, "layer": "ml", "name": "fit", "op": -1, "parent": -1,
                 "t0": 5000.0, "t1": 6000.0},
            ],
            "jobs": [
                {"id": 0, "span": 1, "t0": 10200.0, "t1": 10600.0, "stages": 2, "tasks": 8,
                 "tasks_failed": 0, "task_ms": 1200, "shuffle_write": 1048576,
                 "shuffle_read": 1048576, "shuffle_records": 10, "spill": 0},
                {"id": 1, "span": 3, "t0": 5100.0, "t1": 5200.0, "stages": 1, "tasks": 1,
                 "tasks_failed": 0, "task_ms": 100, "shuffle_write": 0, "shuffle_read": 0,
                 "shuffle_records": 0, "spill": 0},
            ],
            "phases": [[10100.0, 10250.0], [11100.0, 11200.0]],
        }
    return raw


class EndToEnd(unittest.TestCase):
    def test_metrics(self):
        m = metrics.end_to_end(raw_run())
        self.assertEqual(m["setup_s"], 3.3)
        self.assertEqual(m["ops_per_s"], 1 / 1.5)
        self.assertEqual(m["lat_p50_s"], 1.0)


class PerLayer(unittest.TestCase):
    def test_layers_and_residual_equal_wall(self):
        m = metrics.per_layer(raw_run(traced=True))
        self.assertEqual(m["trace.wall_s"], 1.5)
        self.assertEqual(m["spark.jobs"], 1)
        self.assertAlmostEqual(m["spark.job_s"], 0.4)
        # planning before the job starts, and the phase in the failed op
        self.assertAlmostEqual(m["spark.plan_s"], 0.1 + 0.1)
        self.assertAlmostEqual(m["spark.job_s"] + m["spark.plan_s"] + m["spark.residual_s"], 1.5)
        self.assertAlmostEqual(m["spark.idle_slot_s"], 0.4 * 4 - 1.2)
        self.assertEqual(m["spark.shuffle_write_mb"], 1.0)
        self.assertEqual(m["spark.cached_blocks"], 2)

    def test_ml_attribution(self):
        m = metrics.per_layer(raw_run(traced=True))
        self.assertAlmostEqual(m["ml.fit_s"], 0.8)
        self.assertEqual(m["ml.fit_jobs"], 1)
        self.assertAlmostEqual(m["ml.fit_job_s"], 0.4)
        self.assertAlmostEqual(m["ml.fit_driver_s"], 0.4)
        self.assertEqual((m["ml.candidates"], m["ml.cuts"]), (7, 2))

    def test_self_time(self):
        tr = metrics.Trace(raw_run(traced=True))
        self.assertAlmostEqual(tr.self_seconds(tr.spans[0]), 0.2)


if __name__ == "__main__":
    unittest.main()

"""Self-tests for the arithmetic behind the benchmark's metrics.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import math
import unittest

import metrics


class TailRule(unittest.TestCase):
    def test_unsupported_below_eleven_samples(self):
        self.assertIsNone(metrics.tail(list(range(10))))

    def test_hand_computed(self):
        self.assertEqual(metrics.tail(list(range(11))), (9, 0))
        self.assertEqual(metrics.tail(list(range(20))), (50, 9))
        self.assertEqual(metrics.tail(list(range(100))), (90, 89))
        self.assertEqual(metrics.tail(list(range(105))[::-1]), (90, 94))

    def test_highest_percentile_with_ten_beyond(self):
        for n in range(11, 400):
            p, v = metrics.tail(list(range(n)))
            self.assertGreaterEqual(n - 1 - v, 10, n)
            # one percentile higher would leave fewer than ten beyond
            self.assertLess(n - math.ceil((p + 1) * n / 100), 10, n)


def record(spans=(), jobs=(), stages=(), samples=(), **kw):
    rec = dict(spans=list(spans), jobs=list(jobs), stages=list(stages),
               samples=list(samples), notes={}, session_s=1.0, prepare_s=[2.0, 1.0, 1.5],
               warmup_s=0.5, fresh_bytes_per_row=2.0, heap_after_gc_mb=64.0,
               wall_s=1.0, cores=4, gc_s=0.0, failed_tasks=0)
    rec.update(kw)
    return rec


class Spans(unittest.TestCase):
    def test_self_time_subtracts_the_union_of_children(self):
        t = metrics.Trace([[0, "top", -1, 1, 0, 100], [1, "a", 0, 1, 10, 30],
                           [2, "b", 0, 1, 20, 50], [3, "c", 0, 1, 80, 120]], [], [])
        # children cover 10..50 and 80..100 (clipped): 60 of 100 ns
        self.assertAlmostEqual(t.self_time(t.spans[0]), 40e-9)
        self.assertAlmostEqual(t.self_time(t.spans[1]), 20e-9)

    def test_driver_only_is_wall_minus_union_of_job_intervals(self):
        ms = 1_000_000
        t = metrics.Trace([[0, "write:batch", -1, 1, 0, 1000 * ms]],
                          [[1, 0, 100, 300, [], True], [2, 0, 200, 400, [], True],
                           [3, 0, 900, 1200, [], True]], [])
        # jobs cover 100..400 and 900..1000 inside the span: 400 of 1000 ms
        self.assertAlmostEqual(t.driver_only(t.spans[0]), 0.6)

    def test_stale_tag_falls_back_to_the_span_open_at_job_start(self):
        ms = 1_000_000
        t = metrics.Trace([[0, "write:batch", -1, 1, 0, 100 * ms],
                           [1, "catalog.merge", 0, 1, 10 * ms, 20 * ms],
                           [2, "write:batch", -1, 2, 200 * ms, 300 * ms],
                           [3, "pipeline.append", 2, 2, 210 * ms, 290 * ms]],
                          [[1, 1, 15, 18, [], True], [2, 1, 250, 260, [], True]], [])
        self.assertEqual(t.jobs[1]["span"], 1)
        self.assertEqual(t.jobs[2]["span"], 3)
        self.assertEqual(len(t.jobs_in(t.spans[2])), 1)


class FailuresNeverReadAsFast(unittest.TestCase):
    def test_failed_ops_are_counted_and_excluded_from_latency(self):
        rec = record(samples=[
            dict(kind="write", name="batch", s=2.0, ok=True, rows=100),
            dict(kind="write", name="batch", s=0.01, ok=False, rows=100),
            dict(kind="read", name="q", s=0.5, ok=True, rows=1),
            dict(kind="read", name="q", s=0.001, ok=False, rows=1)])
        e2e = metrics.end_to_end(rec)
        self.assertEqual(e2e["write_p50_s"], 2.0)
        self.assertEqual(e2e["read_p50_s"], 0.5)
        self.assertEqual(e2e["write_rows_per_s"], 50.0)
        self.assertEqual(sum(1 for s in rec["samples"] if not s["ok"]), 2)

    def test_storage_amplification_is_the_median_over_writes(self):
        rec = record(notes={"storage.bytes": [400.0, 900.0, 2000.0],
                            "storage.live_rows": [100, 150, 200]})
        # ratios 2, 3, 5 against 2 bytes per live row
        self.assertEqual(metrics.end_to_end(rec)["storage_amplification"], 3.0)

    def test_setup_is_session_plus_median_preparation_plus_warmup(self):
        self.assertAlmostEqual(metrics.end_to_end(record())["setup_s"], 3.0)


if __name__ == "__main__":
    unittest.main()

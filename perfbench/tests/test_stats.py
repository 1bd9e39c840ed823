"""The benchmark's own arithmetic on fixed inputs.

    python3 -m unittest discover -s perfbench/tests -p 'test_stats.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_hundred_samples_give_p90(self):
        # p95 of 1..100 leaves only 5 samples beyond it; p90 leaves 10
        p, v, n = stats.tail(list(range(1, 101)))
        self.assertEqual((p, v, n), (90.0, 90, 100))

    def test_thousand_samples_give_p99(self):
        p, v, n = stats.tail(list(range(1, 1001)))
        self.assertEqual((p, v, n), (99.0, 990, 1000))

    def test_order_does_not_matter(self):
        xs = [float(i % 37) for i in range(200)]
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))

    def test_twenty_samples_give_median(self):
        p, v, _ = stats.tail(list(range(1, 21)))
        self.assertEqual((p, v), (50.0, 10))

    def test_too_few_samples_fall_back_to_max(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (100.0, 3.0, 3))

    def test_nearest_rank_counts_samples_beyond(self):
        self.assertEqual(stats.nearest_rank(list(range(1, 41)), 75.0), (30, 10))


class DriverGap(unittest.TestCase):
    def test_wall_minus_task_time_over_cores(self):
        self.assertAlmostEqual(stats.driver_gap(10.0, 24.0, 4), 4.0)

    def test_fully_busy_cores_leave_no_gap(self):
        self.assertAlmostEqual(stats.driver_gap(5.0, 20.0, 4), 0.0)


class SelfTime(unittest.TestCase):
    S = 1_000_000_000  # ns per second

    def test_nested_spans(self):
        spans = [
            (1, 0, "pipeline.pass", 0, 10 * self.S),
            (2, 1, "extract.text", 1 * self.S, 4 * self.S),
            (3, 1, "functions.tag", 5 * self.S, 7 * self.S),
            (4, 3, "extract.detect", 5 * self.S, 6 * self.S),
        ]
        self.assertEqual(stats.self_times(spans),
                         {"pipeline": 5.0, "extract": 4.0, "functions": 1.0})

    def test_overlapping_children_count_once(self):
        spans = [
            (1, 0, "store.batch", 0, 10 * self.S),
            (2, 1, "store.ingest", 2 * self.S, 6 * self.S),
            (3, 1, "store.compact", 4 * self.S, 8 * self.S),
        ]
        # children cover [2, 8]: parent keeps 4 s; children 4 s + 4 s
        self.assertEqual(stats.self_times(spans), {"store": 12.0})

    def test_child_clipped_to_parent(self):
        spans = [(1, 0, "ext.pass", 0, 4 * self.S), (2, 1, "ext.gate", 3 * self.S, 9 * self.S)]
        self.assertEqual(stats.self_times(spans), {"ext": 3.0 + 6.0})

    def test_self_times_sum_to_root_durations(self):
        spans = [
            (1, 0, "pipeline.pass", 0, 9 * self.S),
            (2, 1, "pipeline.flow", 1 * self.S, 5 * self.S),
            (3, 2, "functions.tag", 2 * self.S, 3 * self.S),
            (4, 0, "store.resolve", 20 * self.S, 21 * self.S),
        ]
        self.assertAlmostEqual(sum(stats.self_times(spans).values()), 10.0)


class OpenLoop(unittest.TestCase):
    def test_latency_counts_from_due_time(self):
        # files due every second; the second one stalls the system, so
        # the third and fourth wait behind it even though each takes
        # 0.2 s once started
        pairs = [(0, 500), (1000, 3000), (2000, 3200), (3000, 3400)]
        self.assertEqual(stats.open_loop_latencies(pairs), [0.5, 2.0, 1.2, 0.4])

    def test_backlog_max(self):
        pairs = [(0, 500), (1000, 3000), (2000, 3200), (3000, 3400)]
        # at t=3000 the fourth arrives as the second completes
        self.assertEqual(stats.backlog_max(pairs), 2)

    def test_backlog_of_a_keeping_up_system_is_one(self):
        pairs = [(i * 1000, i * 1000 + 300) for i in range(10)]
        self.assertEqual(stats.backlog_max(pairs), 1)


class Metrics(unittest.TestCase):
    RAW = {
        "workload": "stream_serve", "cores": 4, "window_s": 20.0, "peak_rss_mb": 900.0,
        "attempted": 10, "failed": 0,
        "setup": {"session_s": 5.0, "reps_s": [9.0, 2.0, 3.0]},
        "values": {"docs_committed": 1000},
        "samples": {"commit_due_done_ms": [[0, 2000], [3000, 4000], [6000, 9000]],
                    "query_s": [1.0, 2.0, 3.0, 4.0]},
    }

    def test_end_to_end(self):
        m, d = stats.end_to_end(self.RAW)
        self.assertEqual(m["setup_s"], {"value": 8.0, "unit": "s"})
        self.assertEqual(m["docs_per_s"]["value"], 50.0)
        self.assertEqual(m["commit_s_p50"]["value"], 2.0)
        self.assertEqual(m["commit_s_tail"]["value"], 3.0)
        self.assertEqual(m["query_s_p50"]["value"], 2.5)
        self.assertEqual(m["ok_frac"]["value"], 1.0)
        self.assertEqual(d["commit_s_tail"], {"percentile": 100.0, "n": 3})
        self.assertEqual(d["failed_frac"], 0.0)


if __name__ == "__main__":
    unittest.main()

"""Tests for the benchmark's own logic: python3 -m unittest discover perfbench/tests"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertEqual(stats.min_samples(90), 100)
        self.assertEqual(stats.min_samples(50), 20)
        with self.assertRaises(ValueError):
            stats.percentile(range(99), 90)
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(sum(1 for x in xs if x > stats.percentile(xs, 90)), 10)

    def test_order_does_not_matter(self):
        xs = [5, 3, 9, 1, 7] * 40
        self.assertEqual(stats.percentile(xs, 90), stats.percentile(sorted(xs), 90))


class OpenLoopLatency(unittest.TestCase):
    def test_latency_counts_from_due_time_not_send_time(self):
        # the generator stalled: file 2 was due at 1000 ms but only sent at
        # 3000 ms and committed at 3500 ms; its latency is 2500 ms, not 500 ms
        due, sent, commit = [0, 1000], [0, 3000], [400, 3500]
        self.assertEqual(stats.open_loop_latencies(due, commit), [400, 2500])
        self.assertNotEqual(stats.open_loop_latencies(sent, commit),
                            stats.open_loop_latencies(due, commit))

    def test_backlog_counts_the_arrival(self):
        due = [0, 10, 20]
        self.assertEqual(stats.backlog_at_arrivals(due, [5, 15, 25]), 1.0)
        # the first request is still open when the second arrives
        self.assertAlmostEqual(stats.backlog_at_arrivals(due, [15, 16, 25]), 4 / 3)


class Goldens(unittest.TestCase):
    def setUp(self):
        path = os.path.join(os.path.dirname(__file__), "..", "goldens.json")
        with open(path) as f:
            self.goldens = json.load(f)

    def test_matching_fingerprints_pass(self):
        self.assertEqual(stats.compare_goldens(dict(self.goldens), self.goldens), [])

    def test_corrupted_golden_is_detected(self):
        name = sorted(self.goldens)[0]
        corrupted = dict(self.goldens)
        corrupted[name] = dict(corrupted[name], hash="0" * 16)
        self.assertEqual(stats.compare_goldens(self.goldens, corrupted), [name])
        fewer_rows = dict(self.goldens)
        fewer_rows[name] = dict(fewer_rows[name], rows=fewer_rows[name]["rows"] + 1)
        self.assertEqual(stats.compare_goldens(self.goldens, fewer_rows), [name])

    def test_query_without_golden_fails(self):
        self.assertEqual(stats.compare_goldens({"q_new": {"rows": 1, "hash": "x"}}, {}),
                         ["q_new"])


if __name__ == "__main__":
    unittest.main()

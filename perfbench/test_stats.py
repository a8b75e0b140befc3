"""Tests of the benchmark itself: `python3 -m unittest discover -s perfbench`.

The arithmetic tests are pure Python. The generator tests compile the
benchmark (as run.py does) and run its Digest main.
"""
import os
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertEqual(stats.percentile([3.0], 75), 3.0)
        self.assertEqual(stats.percentile([4, 1, 3, 2], 75), 3)

    def test_ten_samples_beyond(self):
        self.assertEqual(stats.beyond(100, 90), 10)
        self.assertEqual(stats.beyond(99, 90), 9)
        self.assertEqual(stats.beyond(40, 75), 10)
        self.assertEqual(stats.beyond(39, 75), 9)
        self.assertEqual(stats.min_samples(90), 100)
        self.assertEqual(stats.min_samples(75), 40)
        self.assertEqual(stats.min_samples(stats.TAIL), 20)
        self.assertEqual(stats.beyond(19, stats.TAIL), 9)
        # the count beyond is what the samples show
        for n in (40, 57, 100, 133):
            xs = list(range(n))
            p = stats.percentile(xs, 75)
            self.assertEqual(sum(1 for x in xs if x > p), stats.beyond(n, 75))

    def test_run_minimum_meets_rule(self):
        import run
        self.assertGreaterEqual(stats.beyond(run.MIN_REQUESTS, stats.TAIL), stats.MIN_BEYOND)

    def test_too_few_requests_refused(self):
        main = {"samples": [["r", 0, "token", 0.0, 1.0, 0]] * 19, "build": {}}
        with self.assertRaises(ValueError):
            stats.end_to_end(main)


class SelfTime(unittest.TestCase):
    def span(self, i, start, end, parent=0):
        return {"id": i, "name": "s%d" % i, "start": start, "end": end,
                "parent": parent, "req": -1}

    def test_leaf_self_is_duration(self):
        self.assertAlmostEqual(stats.self_times([self.span(1, 1.0, 3.5)])[1], 2.5)

    def test_children_subtracted(self):
        spans = [self.span(1, 0.0, 10.0), self.span(2, 1.0, 3.0, 1),
                 self.span(3, 5.0, 6.0, 1), self.span(4, 5.5, 5.7, 3)]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[1], 7.0)
        self.assertAlmostEqual(st[3], 0.8)
        self.assertAlmostEqual(st[4], 0.2)

    def test_overlapping_children_counted_once(self):
        spans = [self.span(1, 0.0, 10.0), self.span(2, 1.0, 4.0, 1),
                 self.span(3, 3.0, 6.0, 1), self.span(4, 9.0, 12.0, 1)]
        # children cover [1, 6] and [9, 10] inside the parent
        self.assertAlmostEqual(stats.self_times(spans)[1], 4.0)

    def test_union_length(self):
        self.assertAlmostEqual(stats.union_length([]), 0.0)
        self.assertAlmostEqual(stats.union_length([(0, 1), (0.5, 2), (3, 4)]), 3.0)


class Ratios(unittest.TestCase):
    def run_docs(self):
        main = {
            "samples": [["req:0:%d" % i, i % 4, ("token", "phrase", "bool", "suggest")[i % 4],
                         float(i), float(i) + 0.1 * (1 + i % 4), 0] for i in range(40)],
            "build": {"build_files": 4000, "build_s": 2.0, "append_s": 1.5, "index_bytes": 500},
            "corpus": {"base_docs": 4000, "delta_docs": 500, "content_bytes": 1000},
            "serve": {"requests": 40, "window_s": 20.0},
            "setup_serve_s": [3.0, 1.0, 1.5],
            "peak_rss_mb": 900.0, "failed": [],
        }
        return main

    def test_end_to_end_arithmetic(self):
        m = stats.end_to_end(self.run_docs())
        v = {k: x["value"] for k, x in m.items()}
        self.assertAlmostEqual(v["build_files_per_s"], 2000.0)
        self.assertAlmostEqual(v["index_bytes_per_content_byte"], 0.5)
        self.assertAlmostEqual(v["req_per_s"], 2.0)
        self.assertAlmostEqual(v["setup_s"], 1.5)
        self.assertAlmostEqual(v["token_p50_s"], 0.1)
        self.assertAlmostEqual(v["suggest_p50_s"], 0.4)
        self.assertAlmostEqual(v["p50_s"], 0.2)

    def test_failed_ops_are_distinct(self):
        main = self.run_docs()
        main["failed"] = ["req:0:1: HTTP 500", "append: hash", "req:0:1: differs"]
        self.assertEqual(stats.failed_ops(main), ["append", "req:0:1"])

    def test_ratio_of_zero(self):
        self.assertNotEqual(stats.ratio(1, 0), stats.ratio(1, 0))  # NaN
        self.assertEqual(stats.ratio(3, 4), 0.75)


class Generator(unittest.TestCase):
    """Same seed -> byte-identical corpus and request list; new seed -> new."""

    @classmethod
    def setUpClass(cls):
        import run
        cls.classpath, _ = run.build()

    def digest(self, seed):
        out = subprocess.run(["java", "-cp", self.classpath, "perfbench.Digest",
                              str(seed), "300"], check=True, capture_output=True,
                             text=True, timeout=120).stdout.split()
        self.assertEqual(len(out), 2)
        return out

    def test_same_seed_same_bytes(self):
        self.assertEqual(self.digest(7), self.digest(7))

    def test_other_seed_other_bytes(self):
        a, b = self.digest(7), self.digest(8)
        self.assertNotEqual(a[0], b[0])
        self.assertNotEqual(a[1], b[1])


if __name__ == "__main__":
    unittest.main()

#!/usr/bin/env python3
"""Tests of the benchmark's own helpers.

    python3 -m unittest discover -s geistbench -p 'test_*.py'

The event-generator test builds the harness (run.py's build) if needed.
"""
import hashlib
import json
import os
import statistics
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import compare  # noqa: E402
import querydata  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_value_has_exactly_ten_samples_beyond(self):
        xs = list(range(1, 41))  # 40 samples
        v, pct, n = stats.tail(xs)
        self.assertEqual(sum(1 for x in xs if x > v), 10)
        self.assertEqual((v, pct, n), (30, 75.0, 40))

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 11.0, 12.0]
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))
        self.assertEqual(stats.tail(xs)[0], 7.0)

    def test_few_samples_fall_back_to_the_upper_median(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (2.0, 200.0 / 3, 3))
        self.assertEqual(stats.tail(list(range(13))), (6, 700.0 / 13, 13))
        self.assertEqual(stats.tail(list(range(21))), (10, 1100.0 / 21, 21))
        self.assertEqual(stats.tail(list(range(22)))[0], 11)
        self.assertEqual(stats.tail(list(range(30)))[0], 19)

    def test_no_samples(self):
        with self.assertRaises(ValueError):
            stats.tail([])


class QuartileAndWinShareTest(unittest.TestCase):
    def test_quartiles_match_statistics_quantiles(self):
        xs = [4.0, 1.0, 3.0, 2.0, 8.0, 5.0, 7.0, 6.0, 10.0, 9.0]
        self.assertEqual(stats.quartiles(xs), tuple(statistics.quantiles(xs, n=4)))
        q1, q2, q3 = stats.quartiles(xs)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / q2)

    def test_win_share(self):
        self.assertEqual(stats.win_share([10, 11], [1, 2], "lower"), 1.0)
        self.assertEqual(stats.win_share([10, 11], [1, 2], "higher"), 0.0)
        self.assertEqual(stats.win_share([1, 2], [1, 2], "lower"), 0.25)
        self.assertEqual(stats.win_share([1, 3], [2], "lower"), 0.5)
        self.assertEqual(stats.win_share([2, 2], [2, 2], "higher"), 0.0)

    def test_verdicts(self):
        base = [100.0, 101.0, 99.0, 100.5, 99.5]
        self.assertEqual(compare.verdict(base, [80.0, 81.0, 79.0], 0.1, "lower")[2], "improved")
        self.assertEqual(compare.verdict(base, [130.0, 131.0, 129.0], 0.1, "lower")[2], "regressed")
        self.assertEqual(compare.verdict(base, [102.0, 98.0, 101.0], 0.1, "lower")[2], "within bound")
        self.assertEqual(compare.verdict(base, [60.0, 200.0, 140.0], 0.1, "lower")[2], "unresolved")
        noisy = [60.0, 100.0, 140.0, 80.0, 120.0]
        self.assertEqual(compare.verdict(noisy, [101.0, 99.0, 100.0], 0.1, "lower")[2], "unresolved")


class FailedFracTest(unittest.TestCase):
    def test_failed_frac(self):
        self.assertEqual(stats.failed_frac(40, 0), 0.0)
        self.assertEqual(stats.failed_frac(40, 10), 0.25)
        with self.assertRaises(ValueError):
            stats.failed_frac(0, 0)
        with self.assertRaises(ValueError):
            stats.failed_frac(3, 4)

    def test_summary_counts_oracle_misses(self):
        raw = {"attempted": 9, "failed": 1, "misses": ["read-back of 7: got nothing"],
               "samples": {"setup_s": [1.0, 2.0, 3.0], "publish_ms": [5.0, 6.0], "query_ms": [9.0]},
               "scalars": {"throughput_per_s": 2.0, "heap_live_mb": 50.0},
               "layers": {}, "info": {"query_total_s": 1.0}}
        line, record = run.summarize("interactive", raw, 1, {"attempted": 3, "misses": ["oracle q: rows 1 != 2"]})
        self.assertEqual((line["attempted"], line["failed"], line["correct"]), (12, 2, False))
        self.assertEqual(record["detail"]["failed_frac"], 2 / 12)
        self.assertEqual(set(line["metrics"]), set(run.PER_LAYER))
        self.assertEqual(record["end_to_end"]["setup_s"], 2.0)


def _digest(directory):
    h = hashlib.sha256()
    for name in sorted(os.listdir(directory)):
        with open(os.path.join(directory, name), "rb") as fh:
            h.update(name.encode() + fh.read())
    return h.hexdigest()


class GeneratorDeterminismTest(unittest.TestCase):
    def test_query_tables(self):
        with tempfile.TemporaryDirectory() as d:
            a, b, c = (querydata.generate(os.path.join(d, n), s) for n, s in (("a", 7), ("b", 7), ("c", 8)))
            self.assertEqual(_digest(a), _digest(b))
            self.assertNotEqual(_digest(a), _digest(c))

    def test_stream_events(self):
        cp = run.build()

        def gen(seed, path):
            subprocess.run(["java", "-cp", cp, "geistbench.Main", "gen", str(seed), path],
                           check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
            with open(path, "rb") as fh:
                return fh.read()

        with tempfile.TemporaryDirectory() as d:
            a, b, c = gen(7, f"{d}/a"), gen(7, f"{d}/b"), gen(8, f"{d}/c")
            self.assertEqual(a, b)
            self.assertNotEqual(a, c)
            kinds = {json.loads(line)["kind"] for line in a.decode().splitlines()}
            self.assertEqual(kinds, {"purchase", "view", "log", "spam"})


class BenchmarkJsonTest(unittest.TestCase):
    def test_metric_tables_match(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, run.PER_LAYER)
        self.assertEqual(tuple(w["name"] for w in spec["workloads"]), run.WORKLOADS)


if __name__ == "__main__":
    unittest.main()

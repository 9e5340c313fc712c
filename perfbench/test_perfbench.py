#!/usr/bin/env python3
"""The benchmark's own tests.

    python3 perfbench/test_perfbench.py        # from the root of a checkout

The metric rules run on synthetic inputs. The digest test compiles the
harness (as run.py does) and runs its self-test in a small Spark session.
"""
import json
import os
import random
import shutil
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics as M  # noqa: E402


class TailRule(unittest.TestCase):
    def test_too_few_samples(self):
        # 20 samples put only the median itself at 10 beyond
        for n in range(0, 21):
            self.assertIsNone(M.tail_percentile(n))

    def test_highest_whole_percentile_with_ten_beyond(self):
        for n in list(range(21, 400)) + [1000, 22400, 32000]:
            p = M.tail_percentile(n)
            self.assertGreaterEqual(n * (100 - p) / 100, 10, n)
            if p < 99:
                self.assertLess(n * (100 - (p + 1)) / 100, 10, n)

    def test_ten_samples_lie_beyond_the_reported_value(self):
        rnd = random.Random(7)
        for n in (21, 32, 100, 1000):
            xs = [rnd.expovariate(1.0) for _ in range(n)]
            p, v, count = M.tail(xs)
            self.assertEqual(count, n)
            self.assertGreaterEqual(sum(1 for x in xs if x > v), 10)

    def test_known_values(self):
        self.assertEqual(M.tail(list(range(1, 101)))[:2], (90, 90.1))
        self.assertEqual(M.tail_percentile(32000), 99)
        self.assertAlmostEqual(M.percentile([1, 2, 3, 4], 50), 2.5)


class Backlog(unittest.TestCase):
    rate = 16000.0

    def sawtooth(self, growth):
        # a trigger of ~1 s takes everything that arrived during the last
        # one; `growth` rows/s pile up on top of that
        pts, t = [], 0.0
        for i in range(8):
            d = 1.0 + 0.15 * ((i * 7) % 3 - 1)
            t += d
            pts.append((t, self.rate * d + growth * t))
        return pts

    def test_steady_does_not_grow(self):
        self.assertFalse(M.backlog_grows(self.sawtooth(0.0), self.rate))

    def test_falling_behind_grows(self):
        self.assertTrue(M.backlog_grows(self.sawtooth(0.4 * self.rate), self.rate))

    def test_small_drift_is_not_growth(self):
        self.assertFalse(M.backlog_grows(self.sawtooth(0.1 * self.rate), self.rate))

    def test_draining_does_not_grow(self):
        pts = [(t, 50000 - 8000 * t) for t in range(6)]
        self.assertFalse(M.backlog_grows(pts, self.rate))

    def test_too_few_points(self):
        self.assertFalse(M.backlog_grows([(1.0, 5000)], self.rate))
        self.assertFalse(M.backlog_grows([], self.rate))


class Attribution(unittest.TestCase):
    def test_util_jobs(self):
        for site in ("checkpoint at Util.scala:64", "localCheckpoint at Util.scala:111",
                     "collect at Util.scala:402"):
            for phase in ("build", "write", "check"):
                self.assertEqual(M.attribute_job(site, phase), "util", site)

    def test_ops_jobs_while_building(self):
        for site in ("count at TextDedup.scala:2150", "parquet at Tables.scala:26",
                     "$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768"):
            self.assertEqual(M.attribute_job(site, "build"), "ops", site)

    def test_materialising_write_is_exec(self):
        self.assertEqual(M.attribute_job("save at BatchLoad.scala:59", "write"), "exec")
        self.assertEqual(M.attribute_job("save at BatchLoad.scala:59", "build"), "exec")
        self.assertEqual(M.attribute_job(
            "$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768", "write"), "exec")

    def test_unparseable_site(self):
        self.assertEqual(M.parse_callsite("Job 3"), (None, None))
        self.assertEqual(M.attribute_job(None, "build"), "ops")

    def test_driver_actions(self):
        self.assertTrue(M.is_driver_action("count at TextDedup.scala:2150"))
        self.assertTrue(M.is_driver_action("collect at Util.scala:402"))
        self.assertFalse(M.is_driver_action("checkpoint at Util.scala:64"))
        self.assertFalse(M.is_driver_action("save at BatchLoad.scala:59"))


class Intervals(unittest.TestCase):
    def test_union(self):
        self.assertEqual(M.union_ms([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(M.union_ms([(0, 10), (5, 15)], 8, 12), 4)
        self.assertEqual(M.union_ms([]), 0)


class DigestOrderIndependence(unittest.TestCase):
    """Same rows in another order and partitioning, and with wider or
    narrower numeric types, give one digest; one changed cell, or a column
    of another type class with the same values, does not."""

    def test_selftest(self):
        import run as R
        root = os.path.dirname(HERE)
        classes = R.build(root)
        work = os.path.join(root, ".bench_build", "work", "selftest")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        try:
            _, recs = R.run_jvm(root, classes, work, ["selftest"], float("inf"))
        finally:
            shutil.rmtree(work, ignore_errors=True)
        r = next(x for x in recs if x["t"] == "selftest")
        self.assertEqual(r["shuffled"], r["base"], json.dumps(r))
        self.assertEqual(r["widened"], r["base"], json.dumps(r))
        self.assertNotEqual(r["changed"], r["base"], json.dumps(r))
        self.assertNotEqual(r["to_decimal"], r["base"], json.dumps(r))
        self.assertNotEqual(r["id_decimal"], r["base"], json.dumps(r))


if __name__ == "__main__":
    unittest.main()

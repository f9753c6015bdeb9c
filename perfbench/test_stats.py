"""Self-tests of the benchmark's statistics:
python3 -m unittest discover -s perfbench -p 'test_*.py'"""
import os
import random
import tempfile
import unittest

import stats


class PercentileTest(unittest.TestCase):
    def test_linear_interpolation(self):
        xs = list(range(1, 101))
        self.assertAlmostEqual(stats.percentile(xs, 50), 50.5)
        self.assertAlmostEqual(stats.percentile(xs, 90), 90.1)
        self.assertEqual(stats.percentile([7.0], 99), 7.0)

    def test_tail_level_leaves_ten_samples_beyond(self):
        self.assertEqual(stats.tail_level(1000), 99.0)
        self.assertEqual(stats.tail_level(200), 95.0)
        self.assertEqual(stats.tail_level(100), 90.0)
        self.assertEqual(stats.tail_level(40), 75.0)
        self.assertIsNone(stats.tail_level(39))
        rng = random.Random(4)
        for n in (40, 100, 200, 999, 1000, 6000):
            xs = [rng.random() for _ in range(n)]
            q = stats.tail_level(n)
            cut = stats.percentile(xs, q)
            beyond = sum(1 for x in xs if x > cut)
            self.assertGreaterEqual(beyond, 10, (n, q))

    def test_spread_is_iqr_over_median(self):
        xs = [10, 10, 10, 10, 12, 12, 12, 12, 11, 11]
        q1, med, q3 = stats.quartiles(xs)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / med)


class PairRuleTest(unittest.TestCase):
    def test_ties_count_for_neither_side(self):
        parent = [1.0, 2.0, 3.0, 4.0]
        change = [1.0, 1.5, 3.5, 4.0]
        self.assertEqual(stats.pair_wins(parent, change, "lower"), (1, 1))
        self.assertEqual(stats.pair_wins(parent, change, "higher"), (1, 1))

    def test_direction(self):
        self.assertEqual(stats.pair_wins([5, 5, 5], [4, 4, 6], "lower"), (2, 1))
        self.assertEqual(stats.pair_wins([5, 5, 5], [4, 4, 6], "higher"), (1, 2))


class BacklogTest(unittest.TestCase):
    def test_keeping_up_is_not_growth(self):
        # each batch ends with under one trigger interval of arrivals waiting
        self.assertFalse(stats.backlog_grows([1500, 1530, 1490, 1510], 600, 5.0))

    def test_a_batch_ending_an_interval_behind(self):
        self.assertTrue(stats.backlog_grows([15000], 2400, 5.0))

    def test_rise_across_the_rung(self):
        self.assertTrue(stats.backlog_grows([500, 1000, 2001], 600, 5.0))
        self.assertFalse(stats.backlog_grows([500, 1000, 2000], 600, 5.0))

    def test_no_samples(self):
        self.assertFalse(stats.backlog_grows([], 600, 5.0))

    def test_sent_by_follows_the_schedule(self):
        rungs = [dict(start=100.0, rate=600, count=6000), dict(start=110.0, rate=1200, count=6000)]
        self.assertEqual(stats.sent_by(99.0, 3000, rungs), 3000)
        self.assertEqual(stats.sent_by(100.0, 3000, rungs), 3001)
        self.assertEqual(stats.sent_by(105.0, 3000, rungs), 3000 + 3001)
        self.assertEqual(stats.sent_by(112.0, 3000, rungs), 3000 + 6000 + 2401)
        self.assertEqual(stats.sent_by(1e9, 3000, rungs), 15000)


def snapshot_tree(root):
    """path -> [bytes, link count] for every file under root: the shape of
    the harness's artifact-root snapshots."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            st = os.lstat(os.path.join(d, f))
            out[os.path.join(d, f)] = [st.st_size, st.st_nlink]
    return out


class CarriedBytesTest(unittest.TestCase):
    def test_hard_links_are_carried_new_files_written(self):
        with tempfile.TemporaryDirectory() as d:
            old = os.path.join(d, "fp-1")
            os.makedirs(old)
            with open(os.path.join(old, "a.parquet"), "wb") as f:
                f.write(b"x" * 10)
            before = snapshot_tree(d)
            new = os.path.join(d, "fp-2")
            os.makedirs(new)
            os.link(os.path.join(old, "a.parquet"), os.path.join(new, "a.parquet"))
            with open(os.path.join(new, "b.parquet"), "wb") as f:
                f.write(b"y" * 20)
            after = snapshot_tree(d)
            # the old file now has two links but is not new: not counted
            self.assertEqual(after[os.path.join(old, "a.parquet")][1], 2)
            self.assertEqual(stats.new_bytes(before, after), (20, 10))

    def test_unchanged_tree(self):
        snap = {"/r/k/fp-1/a": [5, 1]}
        self.assertEqual(stats.new_bytes(snap, snap), (0, 0))


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_children_counted_once(self):
        spans = [
            dict(id=1, parent=0, name="query/q1", start_ms=0, end_ms=10000),
            dict(id=2, parent=1, name="spark.job", start_ms=1000, end_ms=3000),
            dict(id=3, parent=1, name="spark.job", start_ms=2000, end_ms=5000),
        ]
        own = stats.self_times(spans)
        self.assertAlmostEqual(own["query"], 6.0)
        self.assertAlmostEqual(own["spark.job"], 5.0)


if __name__ == "__main__":
    unittest.main()

"""Tests of the benchmark's own arithmetic on canned inputs.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import stats

S = 1000000000  # ns per second


class OrderStatistics(unittest.TestCase):
    def test_median_odd_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        with self.assertRaises(ValueError):
            stats.median([])

    def test_quartile_spread_matches_statistics_quantiles(self):
        xs = [10, 11, 12, 13, 14, 15, 16, 17, 18, 19]
        # quantiles(n=4, exclusive): q1 = 11.75, q3 = 17.25, median 14.5
        self.assertAlmostEqual(stats.quartile_spread(xs), 5.5 / 14.5)

    def test_percentile_interpolates(self):
        xs = list(range(1, 101))  # 1..100
        self.assertAlmostEqual(stats.percentile(xs, 50), 50.5)
        xs = list(range(1000))
        self.assertAlmostEqual(stats.percentile(xs, 99), 989.01)

    def test_percentile_needs_ten_samples_beyond_it(self):
        self.assertTrue(stats.enough_beyond(20, 50))
        self.assertFalse(stats.enough_beyond(19, 50))
        self.assertTrue(stats.enough_beyond(1000, 99))
        self.assertFalse(stats.enough_beyond(999, 99))
        with self.assertRaises(ValueError):
            stats.percentile(list(range(999)), 99)
        with self.assertRaises(ValueError):
            stats.percentile(list(range(19)), 50)


class OpenLoopSchedule(unittest.TestCase):
    def test_due_times(self):
        self.assertEqual(stats.due_ns(5 * S, 4.0, 0), 5 * S)
        self.assertEqual(stats.due_ns(5 * S, 4.0, 6), 6.5 * S)

    def test_first_index_due_at(self):
        # rate 10/s from t=0: line 10 is due at exactly 1 s
        self.assertEqual(stats.first_index_due_at(0, 10.0, S), 10)
        self.assertEqual(stats.first_index_due_at(0, 10.0, S + 1), 11)
        self.assertEqual(stats.first_index_due_at(2 * S, 10.0, S), 0)

    def test_lateness_per_line(self):
        # rate 2/s from t=0, 3 lines already in the file (base)
        writes = [(int(0.1 * S), 4, 10),   # line 0 written 100 ms late
                  (int(1.3 * S), 6, 20)]   # lines 1 (due .5) and 2 (due 1)
        late, written = stats.lateness(writes, 0, 2.0, 3, 0, 3)
        self.assertEqual(written, 3)
        for got, want in zip(late, [100.0, 800.0, 300.0]):
            self.assertAlmostEqual(got, want)


class Freshness(unittest.TestCase):
    def test_first_covering_scrape(self):
        # rate 1/s from t=0, base 10 lines; lines j=0..3 due at 0,1,2,3 s
        scrapes = [(0, int(0.5 * S), 10),      # nothing new yet
                   (S, int(2.5 * S), 12),      # covers j=0,1
                   (3 * S, int(3.2 * S), -1),  # failed scrape: skipped
                   (4 * S, int(4.5 * S), 14)]  # covers j=2,3
        fresh, unseen = stats.freshness(scrapes, 0, 1.0, 10, 0, 4)
        self.assertEqual(unseen, 0)
        for got, want in zip(fresh, [2.5, 1.5, 2.5, 1.5]):
            self.assertAlmostEqual(got, want)

    def test_window_and_never_visible(self):
        scrapes = [(0, 5 * S, 3)]  # only lines j=0..2 ever visible
        fresh, unseen = stats.freshness(scrapes, 0, 1.0, 0, 1, 5)
        self.assertEqual([round(f, 6) for f in fresh], [4.0, 3.0])
        self.assertEqual(unseen, 2)

    def test_count_at(self):
        scrapes = [(0, 10, 1), (10, 20, -1), (20, 30, 5)]
        self.assertEqual(stats.count_at(scrapes, 25), 1)
        self.assertEqual(stats.count_at(scrapes, 30), 5)


class SpanFolding(unittest.TestCase):
    def test_self_time_subtracts_children_once(self):
        spans = [
            {"id": 1, "parent": 0, "start": 0, "end": 100},
            # overlapping children cover 10..60 → 50 ns
            {"id": 2, "parent": 1, "start": 10, "end": 40},
            {"id": 3, "parent": 1, "start": 30, "end": 60},
            # a child running past its parent is clipped to 90..100
            {"id": 4, "parent": 1, "start": 90, "end": 120},
            {"id": 5, "parent": 2, "start": 15, "end": 20},
        ]
        self_ns = stats.self_times(spans)
        self.assertEqual(self_ns[1], 100 - 50 - 10)
        self.assertEqual(self_ns[2], 30 - 5)
        self.assertEqual(self_ns[3], 30)
        self.assertEqual(self_ns[5], 5)

    def test_fold_by_name(self):
        spans = [{"id": 1, "parent": 0, "start": 0, "end": 2000000,
                  "name": "pass"},
                 {"id": 2, "parent": 1, "start": 0, "end": 500000,
                  "name": "plan.build"},
                 {"id": 3, "parent": 0, "start": 0, "end": 1000000,
                  "name": "pass"}]
        f = stats.fold_by_name(spans)
        self.assertEqual(f["pass"]["count"], 2)
        self.assertAlmostEqual(f["pass"]["total_ms"], 3.0)
        self.assertAlmostEqual(f["pass"]["self_ms"], 2.5)

    def test_union_clipped(self):
        self.assertEqual(stats.union_ns([(0, 10), (5, 15), (20, 30)],
                                        0, 25), 20)

    def test_fold_by_shape(self):
        def op(sites, wall, self_ms):
            return {"jobs": [{"site": s, "stages": 1} for s in sites],
                    "wall_ms": wall, "driver_self_ms": self_ms}
        ops = [op(["collect", "localCheckpoint"], 100, 40),
               op(["collect", "localCheckpoint"], 120, 50),
               op(["collect", "localCheckpoint"], 110, 45),
               op(["collect"], 60, 30)]
        shapes = stats.fold_by_shape(ops)
        self.assertEqual([s["ops"] for s in shapes], [3, 1])
        self.assertEqual(shapes[0]["wall_ms_p50"], 110)
        self.assertEqual(shapes[0]["driver_self_ms_p50"], 45)


if __name__ == "__main__":
    unittest.main()

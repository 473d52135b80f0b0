"""Self-tests for the benchmark's helpers.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import datetime
import decimal
import os
import random
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import fingerprint  # noqa: E402
import stats  # noqa: E402


class FingerprintTest(unittest.TestCase):
    COLS = ["k", "name", "amount", "ts"]

    def rows(self):
        base = datetime.datetime(2024, 1, 1)
        return [(i % 7, f"n{i}", i * 0.01 + 1e5, base + datetime.timedelta(seconds=i)) for i in range(500)]

    def test_row_order_does_not_matter(self):
        rows = self.rows()
        shuffled = rows[:]
        random.Random(3).shuffle(shuffled)
        self.assertEqual(fingerprint.fingerprint(self.COLS, rows),
                         fingerprint.fingerprint(self.COLS, shuffled))

    def test_column_order_does_not_matter(self):
        rows = self.rows()
        perm = [2, 0, 3, 1]
        moved = [tuple(r[i] for i in perm) for r in rows]
        a = fingerprint.fingerprint(self.COLS, rows)
        b = fingerprint.fingerprint([self.COLS[i] for i in perm], moved)
        self.assertIsNone(fingerprint.compare(a, b))

    def test_float_sums_in_another_order_still_match(self):
        # the same cents summed in two orders differ in the last bits, and
        # both land on a .5 that any decimal rounding would split
        rng = random.Random(5)
        vals = sorted(0.01 * rng.randint(1, 10**6) for _ in range(10_000))
        fwd, back = 0.0, 0.0
        for v in vals:
            fwd += v
        for v in reversed(vals):
            back += v
        self.assertNotEqual(fwd, back)
        a = fingerprint.fingerprint(["g", "s"], [("x", fwd), ("y", 2.5)])
        b = fingerprint.fingerprint(["g", "s"], [("y", 2.5), ("x", back)])
        self.assertIsNone(fingerprint.compare(a, b))

    def test_detects_a_changed_value(self):
        rows = self.rows()
        bad = rows[:]
        bad[10] = (bad[10][0], bad[10][1], bad[10][2] + 0.01, bad[10][3])
        self.assertIsNotNone(fingerprint.compare(fingerprint.fingerprint(self.COLS, bad),
                                                 fingerprint.fingerprint(self.COLS, rows)))

    def test_detects_swapped_float_values(self):
        a = fingerprint.fingerprint(["k", "v"], [(1, 10.5), (2, 20.25)])
        b = fingerprint.fingerprint(["k", "v"], [(1, 20.25), (2, 10.5)])
        self.assertIsNotNone(fingerprint.compare(a, b))

    def test_detects_missing_and_duplicated_rows(self):
        rows = self.rows()
        fp = fingerprint.fingerprint(self.COLS, rows)
        self.assertIsNotNone(fingerprint.compare(fingerprint.fingerprint(self.COLS, rows[1:]), fp))
        dup = rows[1:] + [rows[2]]
        self.assertIsNotNone(fingerprint.compare(fingerprint.fingerprint(self.COLS, dup), fp))

    def test_integral_values_match_across_types(self):
        a = fingerprint.fingerprint(["n"], [(3,), (decimal.Decimal("4.00"),)])
        b = fingerprint.fingerprint(["n"], [(decimal.Decimal("3"),), (4,)])
        self.assertIsNone(fingerprint.compare(a, b))


class StatsTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)

    def test_spread_is_iqr_over_median(self):
        xs = list(range(1, 11))
        # statistics.quantiles' default (exclusive) method: q1 = 2.75, q3 = 8.25
        self.assertAlmostEqual(stats.spread(xs), (8.25 - 2.75) / 5.5)

    def test_tail_percentile_keeps_ten_samples_above(self):
        self.assertIsNone(stats.tail_percentile(list(range(19))))
        p, v = stats.tail_percentile(list(range(30)))
        self.assertEqual(p, 66)
        self.assertEqual(sum(1 for x in range(30) if x > v), 10)

    def test_overhead_ratio_cancels_a_steady_slope(self):
        # untraced passes speed up by 1 s a pass; tracing adds nothing
        walls = {1: 10.0, 2: 9.0, 3: 8.0, 4: 7.0, 5: 6.0}
        passes = [{"pass": 0, "traced": False, "wall_s": 30.0}] + [
            {"pass": n, "traced": n % 2 == 0, "wall_s": w} for n, w in walls.items()]
        self.assertAlmostEqual(stats.overhead_ratio(passes), 1.0)
        passes[2]["wall_s"] = 9.9   # pass 2 traced, 10% over its neighbours
        passes[4]["wall_s"] = 7.7
        self.assertAlmostEqual(stats.overhead_ratio(passes), 1.1)

    def test_union_length_merges_overlaps_and_clips(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(stats.union_length([(0, 10), (5, 15)], 3, 12), 9)
        self.assertEqual(stats.union_length([]), 0)


def span(i, parent, kind, start, end):
    return {"id": i, "parent": parent, "kind": kind, "name": kind, "start_us": start,
            "end_us": end, "counters": {}}


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_union_of_children(self):
        spans = [span(1, 0, "op", 0, 100),
                 span(2, 1, "job", 10, 40), span(3, 1, "job", 30, 60),  # overlap: 10..60
                 span(4, 2, "stage", 10, 20)]
        kids = stats.children_of(spans)
        self.assertEqual(stats.self_time_us(spans[0], kids), 50)
        self.assertEqual(stats.self_time_us(spans[1], kids), 20)
        self.assertEqual(stats.self_time_us(spans[3], kids), 10)

    def test_children_outside_the_parent_are_clipped(self):
        spans = [span(1, 0, "op", 0, 100), span(2, 1, "job", 90, 150)]
        self.assertEqual(stats.self_time_us(spans[0], stats.children_of(spans)), 90)

    def test_self_times_per_kind_add_up_to_the_root(self):
        spans = [span(1, 0, "pass", 0, 1_000_000), span(2, 1, "op", 0, 600_000),
                 span(3, 1, "op", 600_000, 1_000_000), span(4, 2, "job", 100_000, 300_000)]
        per_kind = stats.self_times(spans)
        self.assertAlmostEqual(sum(per_kind.values()), 1.0)
        self.assertAlmostEqual(per_kind["op"], 0.8)
        self.assertAlmostEqual(per_kind["job"], 0.2)


if __name__ == "__main__":
    unittest.main()

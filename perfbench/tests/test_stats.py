"""Median, percentile, spread and bound arithmetic, and the per-layer rollup
of a traced run (self time, time outside any stage)."""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


class QuantileTest(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2.0)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_percentile_interpolates_between_ranks(self):
        xs = list(range(1, 11))
        self.assertAlmostEqual(stats.percentile(xs, 90), 9.1)
        self.assertAlmostEqual(stats.percentile(xs, 50), stats.median(xs))
        self.assertEqual(stats.percentile(xs, 0), 1)
        self.assertEqual(stats.percentile(xs, 100), 10)
        self.assertEqual(stats.percentile([7.0], 90), 7.0)

    def test_empty_samples_raise(self):
        with self.assertRaises(ValueError):
            stats.median([])
        with self.assertRaises(ValueError):
            stats.percentile([], 90)

    def test_relative_spread_uses_exclusive_quartiles(self):
        xs = [10, 11, 12, 13, 14, 15, 16, 17, 18, 19]
        # statistics.quantiles(n=4), exclusive method: q1 = 11.75, q3 = 17.25
        self.assertAlmostEqual(stats.relative_spread(xs), (17.25 - 11.75) / 14.5)


class BoundTest(unittest.TestCase):
    def test_lower_is_better(self):
        self.assertTrue(stats.within_bound(10.0, 11.9, 0.2, "lower"))
        self.assertTrue(stats.within_bound(10.0, 12.0, 0.2, "lower"))
        self.assertFalse(stats.within_bound(10.0, 12.1, 0.2, "lower"))
        self.assertTrue(stats.within_bound(10.0, 3.0, 0.2, "lower"))

    def test_higher_is_better(self):
        self.assertTrue(stats.within_bound(100.0, 81.0, 0.2, "higher"))
        self.assertFalse(stats.within_bound(100.0, 79.0, 0.2, "higher"))
        self.assertTrue(stats.within_bound(100.0, 150.0, 0.2, "higher"))


class IntervalTest(unittest.TestCase):
    def test_merge_joins_overlaps_and_drops_empty(self):
        self.assertEqual(stats.merge([(5, 7), (1, 3), (2, 4), (8, 8)]),
                         [(1, 4), (5, 7)])

    def test_subtract(self):
        self.assertEqual(stats.subtract((0, 10), [(2, 3), (5, 12)]),
                         [(0, 2), (3, 5)])
        self.assertEqual(stats.subtract((0, 10), []), [(0, 10)])
        self.assertEqual(stats.subtract((0, 10), [(-5, 20)]), [])

    def test_self_time_subtracts_children_once(self):
        parent = {"start": 0.0, "end": 100.0}
        kids = [{"start": 10.0, "end": 40.0}, {"start": 30.0, "end": 50.0},
                {"start": 90.0, "end": 120.0}]
        own = stats.self_intervals(parent, kids)
        self.assertEqual(own, [(0.0, 10.0), (50.0, 90.0)])
        self.assertEqual(stats.length(own), 50.0)


def span(i, parent, layer, start, end, group, rows=-1):
    return {"id": i, "parent": parent, "layer": layer, "name": layer + ".op",
            "request": 1, "group": group, "start": start,
            "construct_end": start + 1.0, "end": end, "rows_out": rows}


class RollupTest(unittest.TestCase):
    def raw(self):
        return {
            "values": {"traced_cycles": 2, "dedup_keep_ratio": 0.5},
            "spans": [
                span(0, -1, "sources", 0.0, 100.0, "g0"),
                span(1, 0, "Dedup", 20.0, 60.0, "g1", rows=40),
                span(2, -1, "EditDistanceJoin", 200.0, 300.0, "g2", rows=10),
            ],
            "groups": {
                "g0": {"jobs": 2, "cpu_ms": 30.0, "plan_ms": 4.0, "input_bytes": 1 << 20},
                "g1": {"jobs": 1, "stages": 3, "shuffle_bytes": 2 << 20},
                "g2": {"jobs": 4, "shuffle_records": 50},
                "": {"jobs": 9, "input_bytes": 8 << 20},
            },
            # one stage inside the parent's own time, one inside the child
            "stages": [["g0", 70.0, 90.0], ["g1", 25.0, 35.0]],
            # the first cycle is left out of the overhead
            "samples": {"cycle": [30.0, 10.0, 12.0], "cycle@traced": [11.0, 13.2]},
        }

    def test_self_and_outside_stage_time_per_cycle(self):
        out = stats.rollup(self.raw())
        # sources span: 100 ms minus its child's 40 ms = 60 ms own, of which
        # the 70-90 stage covers 20 ms; per traced cycle (2) that halves.
        self.assertAlmostEqual(out["sources.busy_ms"], 30.0)
        self.assertAlmostEqual(out["sources.outside_stage_ms"], 20.0)
        self.assertAlmostEqual(out["sources.exec_ms"], 10.0)
        self.assertAlmostEqual(out["Dedup.busy_ms"], 20.0)
        self.assertAlmostEqual(out["Dedup.outside_stage_ms"], 15.0)
        self.assertAlmostEqual(out["sources.construct_ms"], 0.5)
        self.assertAlmostEqual(out["sources.jobs"], 1.0)
        self.assertAlmostEqual(out["sources.plan_ms"], 2.0)
        self.assertAlmostEqual(out["Dedup.shuffle_mb"], 1.0)
        self.assertAlmostEqual(out["Dedup.rows_out"], 20.0)

    def test_layer_specific_metrics(self):
        out = stats.rollup(self.raw())
        self.assertAlmostEqual(out["EditDistanceJoin.shuffle_records_per_pair"], 5.0)
        self.assertAlmostEqual(out["Dedup.keep_ratio"], 0.5)
        # jobs outside any span (group "") are not attributed to sources
        self.assertAlmostEqual(out["sources.input_mb"], 0.5)
        self.assertAlmostEqual(out["trace.overhead_pct"], 10.0)

    def test_every_listed_metric_is_reported(self):
        out = stats.rollup(self.raw())
        expected = {"%s.%s" % (l, f) for l in stats.LAYERS for f in stats.LAYER_FIELDS}
        expected |= set(stats.EXTRA_FIELDS)
        self.assertEqual(set(out), expected)
        self.assertLessEqual(len(out), 128)

    def test_cc_rounds_count_checkpoints_past_the_first(self):
        raw = self.raw()
        raw["spans"].append(span(3, -1, "ConnectedComponents", 400.0, 500.0, "g3"))
        raw["groups"]["g3"] = {"jobs": 6, "job_names": [
            "localCheckpoint at ConnectedComponents.scala:134"] * 4 + ["collect at X.scala:1"]}
        self.assertAlmostEqual(stats.rollup(raw)["ConnectedComponents.rounds"], 3.0)


if __name__ == "__main__":
    unittest.main()

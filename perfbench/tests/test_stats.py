"""Tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_highest_rung_with_ten_beyond(self):
        # 100 samples 1..100: p90 = 90.1 leaves exactly 10 above it, p95
        # leaves 5, so p90 is the tail
        p, v, beyond, n = stats.tail(list(range(1, 101)))
        self.assertEqual((p, beyond, n), (90.0, 10, 100))
        self.assertAlmostEqual(v, 90.1)

    def test_rung_needs_ten_strictly_beyond(self):
        # 39 samples: p75 = 29.5 leaves 10 above it; p90 leaves 4
        p, v, beyond, n = stats.tail(list(range(1, 40)))
        self.assertEqual((p, beyond, n), (75.0, 10, 39))

    def test_ties_do_not_count_as_beyond(self):
        xs = [1.0] * 30 + [2.0] * 9
        p, v, beyond, n = stats.tail(xs)
        # no rung has ten samples strictly above it
        self.assertEqual((p, v, beyond, n), (None, 2.0, 0, 39))

    def test_too_few_samples_reports_max(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (None, 3.0, 0, 3))

    def test_large_sample_reaches_high_rungs(self):
        p, _, beyond, n = stats.tail(list(range(10000)))
        self.assertEqual((p, n), (99.9, 10000))
        self.assertGreaterEqual(beyond, 10)


class Quartiles(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0, 6.0, 8.0, 10.0]
        self.assertEqual(stats.quartiles(xs), tuple(statistics.quantiles(xs, n=4)))

    def test_spread_is_iqr_over_median(self):
        xs = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
        q1, q2, q3 = stats.quartiles(xs)
        self.assertEqual((q1, q2, q3), (2.75, 5.5, 8.25))
        self.assertAlmostEqual(stats.spread(xs), 1.0)

    def test_percentile_interpolates(self):
        self.assertEqual(stats.percentile([0.0, 10.0], 25), 2.5)
        self.assertEqual(stats.percentile([7.0], 99), 7.0)


def span(i, parent, start, end, layer="x"):
    return {"id": i, "parent": parent, "start": start, "end": end, "layer": layer,
            "phase": "run", "name": f"s{i}"}


class SelfTime(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(stats.self_times([span(0, -1, 0, 10)]), {0: 10})

    def test_overlapping_children_subtracted_once(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 40), span(2, 0, 30, 60),
                 span(3, 0, 80, 90)]
        # children cover [10,60] and [80,90]: 60 of 100
        self.assertEqual(stats.self_times(spans)[0], 40)

    def test_children_clipped_to_parent(self):
        spans = [span(0, -1, 0, 10), span(1, 0, 5, 20)]
        self.assertEqual(stats.self_times(spans)[0], 5)

    def test_grandchildren_only_reduce_their_parent(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 0, 50), span(2, 1, 10, 20)]
        st = stats.self_times(spans)
        self.assertEqual((st[0], st[1], st[2]), (50, 40, 10))
        # self times of a tree add up to the root's duration
        self.assertEqual(sum(st.values()), 100)

    def test_covered_merges_and_clips(self):
        self.assertEqual(stats.covered([(0, 5), (3, 8), (10, 12)], 1, 11), 8)
        self.assertEqual(stats.covered([], 0, 10), 0)


class Attribution(unittest.TestCase):
    LAYERS = {
        "analytics": ["agg_funnel_counts", "join_semi_exists"],
        "etl.upsert": ["incremental_upsert", "upsert_scd"],
        "llm.dedup": ["llm_dedup_minhash"],
    }

    def test_op_goes_to_registering_layer(self):
        self.assertEqual(stats.layer_of("upsert_scd", self.LAYERS), "etl.upsert")
        self.assertEqual(stats.layer_of("agg_funnel_counts", self.LAYERS), "analytics")

    def test_unregistered_op_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.layer_of("scan_parquet", self.LAYERS)

    def test_op_registered_twice_is_an_error(self):
        layers = dict(self.LAYERS, other=["upsert_scd"])
        with self.assertRaises(ValueError):
            stats.layer_of("upsert_scd", layers)


class LayerCounters(unittest.TestCase):
    def test_counters_from_jobs_stages_and_executions(self):
        trace = {
            "spans": [dict(span(0, -1, 0, 1000, "bench")),
                      dict(span(1, 0, 100, 600, "analytics"), written_bytes=0, files_written=0),
                      dict(span(2, 0, 600, 900, "etl.upsert"), written_bytes=2 * 1048576,
                           files_written=3)],
            "jobs": [{"id": 7, "group": "pb1", "start": 200, "end": 400},
                     {"id": 8, "group": "pb1", "start": 300, "end": 500},
                     {"id": 9, "group": "pb2", "start": 600, "end": 900}],
            "stages": [{"id": 1, "job": 7, "tasks": 4, "failures": 1, "run_ms": 800,
                        "sched_ms": 40, "shuffle_bytes": 1048576, "spill_bytes": 0},
                       {"id": 2, "job": 9, "tasks": 2, "failures": 0, "run_ms": 300,
                        "sched_ms": 10, "shuffle_bytes": 0, "spill_bytes": 0}],
            "executions": [{"id": 1, "group": "pb1", "plan_ms": 50.0},
                           {"id": 2, "group": "pb2", "plan_ms": 20.0},
                           {"id": 3, "group": None, "plan_ms": 99.0}],
        }
        c = stats.layer_counters(trace, cores=4)
        a = c["analytics"]
        self.assertEqual(a["calls"], 1)
        self.assertAlmostEqual(a["busy_s"], 0.5)
        self.assertAlmostEqual(a["plan_s"], 0.05)
        self.assertAlmostEqual(a["task_s"], 0.8)
        # jobs cover [200,500] of the span [100,600]
        self.assertAlmostEqual(a["driver_gap_s"], 0.2)
        self.assertAlmostEqual(a["parallelism"], 0.8 / (0.3 * 4))
        self.assertEqual(a["task_failures"], 1)
        self.assertAlmostEqual(a["shuffle_mb"], 1.0)
        u = c["etl.upsert"]
        self.assertAlmostEqual(u["driver_gap_s"], 0.0)
        self.assertAlmostEqual(u["written_mb"], 2.0)
        self.assertEqual(u["files_written"], 3)
        # the iteration span's own time is what its children leave over
        self.assertAlmostEqual(c["bench"]["self_s"], 0.2)


if __name__ == "__main__":
    unittest.main()

"""Self-tests for the benchmark's summary code.

    python3 perfbench/test_summary.py
"""
import json
import statistics
import unittest
from pathlib import Path

import summary

ROOT = Path(__file__).resolve().parent.parent


def span(i, name, parent, start, end, spark=None):
    return {"id": i, "name": name, "parent": parent, "run_id": "r",
            "start_ms": start, "end_ms": end, "spark": spark}


def sparkrec(jobs, busy, intervals):
    return {"jobs": jobs, "tasks": jobs * 2, "busy_s": busy, "gc_s": 0.0,
            "fetch_wait_s": 0.0, "shuffle_write_mb": 1.0,
            "shuffle_read_mb": 1.0, "spill_mb": 0.0,
            "stage_intervals_ms": intervals}


class PercentileSupport(unittest.TestCase):
    def test_only_median_below_100_samples(self):
        for n in (0, 1, 5, 99):
            self.assertIsNone(summary.tail_percentile(n))

    def test_p90_needs_ten_beyond(self):
        self.assertEqual(summary.tail_percentile(100), 90.0)
        self.assertEqual(summary.tail_percentile(999), 90.0)

    def test_p99_and_p999(self):
        self.assertEqual(summary.tail_percentile(1000), 99.0)
        self.assertEqual(summary.tail_percentile(10000), 99.9)


class FailureShare(unittest.TestCase):
    def test_share(self):
        self.assertEqual(summary.failure_share(0, 7), 0.0)
        self.assertEqual(summary.failure_share(1, 4), 0.25)

    def test_nothing_attempted_is_an_error(self):
        with self.assertRaises(ValueError):
            summary.failure_share(0, 0)


class SelfTime(unittest.TestCase):
    def test_children_subtracted(self):
        spans = [span(1, "timed", 0, 0, 10000),
                 span(2, "ppr.batch", 1, 1000, 4000),
                 span(3, "ppr.batch", 1, 5000, 9000)]
        st = summary.self_times(spans)
        self.assertAlmostEqual(st[1], 3.0)
        self.assertAlmostEqual(st[2], 3.0)
        self.assertAlmostEqual(st[3], 4.0)

    def test_overlapping_children_counted_once(self):
        spans = [span(1, "a", 0, 0, 10000),
                 span(2, "b", 1, 1000, 6000),
                 span(3, "c", 1, 4000, 8000)]
        self.assertAlmostEqual(summary.self_times(spans)[1], 3.0)

    def test_child_clipped_to_parent(self):
        spans = [span(1, "a", 0, 1000, 2000), span(2, "b", 1, 500, 1500)]
        self.assertAlmostEqual(summary.self_times(spans)[1], 0.5)

    def test_grandchildren_do_not_count_twice(self):
        spans = [span(1, "a", 0, 0, 10000), span(2, "b", 1, 0, 5000),
                 span(3, "c", 2, 0, 5000)]
        st = summary.self_times(spans)
        self.assertAlmostEqual(st[1], 5.0)
        self.assertAlmostEqual(st[2], 0.0)

    def test_table_sorted_by_self_time(self):
        spans = [span(1, "timed", 0, 0, 10000),
                 span(2, "x", 1, 0, 2000), span(3, "y", 1, 2000, 9000)]
        rows = summary.selftime_table(spans)
        self.assertEqual([r[0] for r in rows], ["y", "x", "timed"])
        self.assertAlmostEqual(sum(r[4] for r in rows), 1.0)


class UnionLength(unittest.TestCase):
    def test_disjoint_and_nested(self):
        self.assertEqual(summary.union_length([(0, 1), (2, 3)]), 2)
        self.assertEqual(summary.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(summary.union_length([(0, 10)], 5, 7), 2)
        self.assertEqual(summary.union_length([]), 0)


class MetricNames(unittest.TestCase):
    def test_pattern(self):
        for ok in ("setup_s", "spark.idle_core_s", "push.epoch_p50_s", "a-b.c"):
            self.assertTrue(summary.valid_metric_name(ok), ok)
        for bad in ("", "_lead", ".lead", "has space", "a/b", "x" * 65, "µs"):
            self.assertFalse(summary.valid_metric_name(bad), bad)

    def test_every_metric_name_is_valid_and_unique(self):
        names = [n for n, _, _ in summary.END_TO_END + summary.PER_LAYER]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertTrue(summary.valid_metric_name(n), n)

    def test_benchmark_json_lists_the_same_metrics(self):
        bench = json.loads((ROOT / "BENCHMARK.json").read_text())
        self.assertEqual([(m["name"], m["unit"], m["better"])
                          for m in bench["end_to_end"]], summary.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"])
                          for m in bench["per_layer"]], summary.PER_LAYER)
        self.assertIn("setup_s", [m["name"] for m in bench["end_to_end"]])


class Reduction(unittest.TestCase):
    def record(self, workload, ops):
        setups = [{"total_s": t, "phases": {"mem_mb": m, "links": 1.0}}
                  for t, m in ((20.0, 6.0), (9.0, 5.0), (4.0, 5.5), (5.0, 7.0))]
        spans = [span(1, "timed", 0, 0, 10000, sparkrec(2, 8.0, [[0, 4000]])),
                 span(2, "op", 1, 0, 9000, sparkrec(4, 16.0, [[3000, 7000]]))]
        return {"workload": workload, "cores": 4, "setup": setups,
                "ops": ops, "spans": spans, "attempted": len(ops),
                "failures": []}

    def test_end_to_end_medians(self):
        # setup_s leaves the first, cold build out; mem_mb is the first's
        rec = self.record("graph_batch", [{"wall_s": 3.0}, {"wall_s": 1.0},
                                          {"wall_s": None}, {"wall_s": 2.0}])
        e = summary.end_to_end(rec)
        self.assertEqual(e, {"setup_s": 5.0, "mem_mb": 6.0, "op_p50_s": 2.0})
        self.assertEqual(set(e), {n for n, _, _ in summary.END_TO_END})

    def test_per_layer_has_every_metric(self):
        ops = [{"wall_s": 2.0, "push_s": 0.5, "walk_s": 0.5, "sources": 16,
                "pushes": 10, "walk_steps": 30, "epoch_s": [0.1, 0.3]}] * 2
        m = summary.per_layer(self.record("ppr_query", ops))
        self.assertEqual(set(m), {n for n, _, _ in summary.PER_LAYER})
        self.assertEqual(m["fora.merge_s"], 1.0)
        self.assertEqual(m["fora.qps"], 8.0)
        self.assertEqual(m["fora.ops_per_sec"], 20.0)
        # two ops; the timed region ran 6 jobs and 24 busy seconds over
        # 10 s x 4 cores, and stages covered 7 of its 10 seconds
        self.assertEqual(m["spark.jobs"], 3.0)
        self.assertEqual(m["spark.idle_core_s"], 8.0)
        self.assertAlmostEqual(m["spark.driver_gap_s"], 1.5)
        self.assertAlmostEqual(m["trace.loop_self_s"], 0.5)
        self.assertEqual(m["setup.cold_s"], 20.0)



class Spread(unittest.TestCase):
    def test_quartile_distance_over_median(self):
        import spread
        xs = [1.0, 1.1, 0.9, 1.05, 0.95, 1.0, 1.02, 0.98, 1.01, 0.99]
        q = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(spread.spread(xs),
                               (q[2] - q[0]) / statistics.median(xs))
        self.assertEqual(spread.spread([5.0]), 0.0)


if __name__ == "__main__":
    unittest.main()

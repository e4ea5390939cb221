"""Unit tests for the benchmark's pure pieces.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import metrics as M

HERE = os.path.dirname(os.path.abspath(__file__))


def span(sid, name, start, end, parent=-1, **attrs):
    return {"id": sid, "parent": parent, "name": name, "start_us": start,
            "end_us": end, "attrs": attrs}


class PercentileSupport(unittest.TestCase):
    def test_p90_omitted_below_100_samples(self):
        self.assertIsNone(M.p90_or_none([1.0] * 99))
        self.assertIsNone(M.p90_or_none([]))

    def test_p90_reported_from_100_samples(self):
        xs = [float(i) for i in range(100)]
        self.assertAlmostEqual(M.p90_or_none(xs), 89.1)

    def test_quantile_interpolates(self):
        self.assertEqual(M.quantile([4.0, 1.0, 3.0, 2.0], 0.5), 2.5)
        self.assertEqual(M.quantile([7.0], 0.9), 7.0)

    def test_spread_is_iqr_over_median(self):
        self.assertAlmostEqual(M.spread([10.0] * 10), 0.0)
        self.assertGreater(M.spread([9.0, 10.0, 11.0, 10.0, 30.0]), 0.0)


class SelfTime(unittest.TestCase):
    def test_children_overlap_counted_once(self):
        parent = span(0, "write", 0, 100)
        kids = [span(1, "job", 10, 40), span(2, "job", 30, 50), span(3, "job", 70, 80)]
        self.assertEqual(M.self_time(parent, kids), 100 - 40 - 10)

    def test_children_clipped_to_parent(self):
        parent = span(0, "build", 100, 200)
        kids = [span(1, "job", 50, 120), span(2, "job", 190, 400)]
        self.assertEqual(M.self_time(parent, kids), 100 - 20 - 10)

    def test_no_children(self):
        self.assertEqual(M.self_time(span(0, "entry", 5, 9), []), 4)

    def test_listener_span_takes_innermost_window(self):
        spans = [span(0, "run", 0, 1000), span(1, "pass", 10, 900, 0),
                 span(2, "entry", 20, 400, 1), span(3, "build", 20, 200, 2),
                 span(4, "write", 200, 400, 2), span(5, "catalyst.planning", 250, 260)]
        self.assertEqual(M.resolve_parents(spans)[5], 4)

    def test_rollup_splits_build_and_write_jobs(self):
        st = dict(tasks=2, run_ms=400, cpu_ns=3e8, gc_ms=0, max_task_ms=300,
                  shuffle_read_b=0, shuffle_write_b=1e6, spill_b=0, input_b=2e6,
                  input_rec=10, output_b=0, output_rec=0)
        spans = [span(0, "run", 0, 10_000_000),
                 span(1, "pass", 0, 3_000_000, 0, traced=True, index=1),
                 span(2, "entry", 0, 3_000_000, 1),
                 span(3, "build", 0, 1_000_000, 2), span(4, "write", 1_000_000, 3_000_000, 2),
                 span(5, "job", 100_000, 600_000, 3), span(6, "stage", 100_000, 600_000, 5, **st),
                 span(7, "job", 1_500_000, 2_500_000, 4), span(8, "stage", 1_500_000, 2_000_000, 7, **st),
                 span(9, "stage", 2_000_000, 2_500_000, 7, **st)]
        m = M.rollup(spans, cores=4)[1]
        self.assertEqual((m["queries.build_jobs"], m["queries.build_tasks"]), (1, 2))
        self.assertEqual((m["scheduler.jobs"], m["scheduler.stages"], m["scheduler.tasks"]), (1, 2, 4))
        self.assertAlmostEqual(m["queries.build_self_s"], 0.5)
        self.assertAlmostEqual(m["scheduler.write_self_s"], 1.0)
        self.assertAlmostEqual(m["scheduler.stage_gap_s"], 0.4)
        self.assertAlmostEqual(m["scheduler.core_util"], 0.8 / (2.0 * 4))
        self.assertAlmostEqual(m["sources.input_mb"], 6.0)


class NetOfSteal(unittest.TestCase):
    def test_share_is_stolen_over_demand(self):
        self.assertEqual(M.steal_share(busy=300, steal=100), 0.25)
        self.assertEqual(M.steal_share(busy=300, steal=0), 0.0)
        self.assertEqual(M.steal_share(busy=0, steal=0), 0.0)

    def test_no_steal_leaves_wall_time(self):
        self.assertEqual(M.net_of_steal(2.5, 0.0), 2.5)

    def test_steal_taken_out_twice(self):
        self.assertAlmostEqual(M.net_of_steal(2.0, 0.1), 2.0 * 0.81)


class SeedPermutation(unittest.TestCase):
    ENTRIES = [f"tpch_q{i}" for i in range(1, 23)]

    def test_same_seed_same_orders(self):
        self.assertEqual(M.pass_orders(self.ENTRIES, "tpch", 7, 5),
                         M.pass_orders(self.ENTRIES, "tpch", 7, 5))

    def test_every_order_is_a_permutation(self):
        for o in M.pass_orders(self.ENTRIES, "tpch", 3, 10):
            self.assertEqual(sorted(o), sorted(self.ENTRIES))

    def test_orders_are_pinned_across_processes(self):
        # string seeds go through SHA-512, not hash(), so PYTHONHASHSEED
        # cannot change them; this pins the orders a seed produces
        self.assertEqual(M.pass_orders(list("abcde"), "tpch", 1, 2),
                         [list("cbade"), list("cebad")])

    def test_other_seed_other_order(self):
        self.assertNotEqual(M.pass_orders(self.ENTRIES, "tpch", 1, 1),
                            M.pass_orders(self.ENTRIES, "tpch", 2, 1))


class MetricNames(unittest.TestCase):
    def test_charset(self):
        for ok in ("pass_s", "scheduler.tasks_per_stage", "q-1", "9lives"):
            self.assertTrue(M.valid_name(ok), ok)
        for bad in ("", "_x", ".x", "a b", "a/b", "x" * 65, "größe"):
            self.assertFalse(M.valid_name(bad), bad)

    def test_units(self):
        for ok in ("s", "ms", "MB", "count", "ratio", "1/s", "%"):
            self.assertTrue(M.valid_unit(ok), ok)
        self.assertFalse(M.valid_unit("mega bytes"))

    def test_benchmark_json_names_are_valid_and_unique(self):
        spec = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
        names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
        names += [w["name"] for w in spec["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertTrue(M.valid_name(n), n)
        for m in spec["end_to_end"] + spec["per_layer"]:
            self.assertTrue(M.valid_unit(m["unit"]), m["unit"])


if __name__ == "__main__":
    unittest.main()

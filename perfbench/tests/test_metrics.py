"""Unit tests of the benchmark's metric arithmetic and input generator.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""

import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402


def span(name, start, end, parent=-1, op=0):
    return {"name": name, "start": start, "end": end, "parent": parent, "op": op}


def op(i, kind, start, end, ok=True):
    return {"id": i, "kind": kind, "start": start, "end": end, "ok": ok, "error": ""}


class TailRule(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = [float(i) for i in range(1, 163)]
        value, pct, n = metrics.tail(xs)
        self.assertEqual(n, 162)
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertEqual(value, 152.0)
        self.assertAlmostEqual(pct, 100.0 * 152 / 162)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 11.0, 0.5]
        self.assertEqual(metrics.tail(xs), metrics.tail(sorted(xs)))
        self.assertEqual(metrics.tail(xs)[0], 1.0)

    def test_smallest_sample_with_a_tail(self):
        value, pct, n = metrics.tail([float(i) for i in range(11)])
        self.assertEqual((value, n), (0.0, 11))
        self.assertAlmostEqual(pct, 100.0 / 11)

    def test_too_few_samples(self):
        self.assertEqual(metrics.tail([1.0] * 10), (None, None, 10))


class SelfTime(unittest.TestCase):
    def test_nested_spans(self):
        spans = [span("night", 0.0, 10.0),
                 span("land", 1.0, 4.0, parent=0),
                 span("write", 2.0, 3.0, parent=1),
                 span("batch", 5.0, 9.0, parent=0)]
        self.assertEqual(metrics.self_times(spans), [3.0, 2.0, 1.0, 4.0])
        # nested, non-overlapping spans: self times add up to the op's wall
        self.assertAlmostEqual(sum(metrics.self_times(spans)), 10.0)

    def test_overlapping_children_count_once(self):
        spans = [span("op", 0.0, 10.0),
                 span("a", 2.0, 6.0, parent=0),
                 span("b", 4.0, 8.0, parent=0)]
        self.assertAlmostEqual(metrics.self_times(spans)[0], 4.0)

    def test_child_clipped_to_parent(self):
        spans = [span("op", 0.0, 5.0), span("late", 4.0, 7.0, parent=0)]
        self.assertAlmostEqual(metrics.self_times(spans)[0], 4.0)

    def test_harness_time_is_the_remainder(self):
        art = {"workload": "wistia_nights", "host_calib_s": 0.2,
               "ops": [op(0, "night", 0.0, 10.0)],
               "spans": [span("night", 0.0, 10.0), span("rawzone.land", 1.0, 4.0, 0),
                         span("pipeline.batch_gated", 5.0, 9.0, 0)],
               "counters": {}, "checks": [], "extras": {}}
        m = metrics.per_layer(art)
        self.assertAlmostEqual(m["rawzone.land_s"], 3.0)
        self.assertAlmostEqual(m["pipeline.batch_gated_s"], 4.0)
        self.assertAlmostEqual(m["trace.harness_s"], 3.0)
        self.assertAlmostEqual(m["trace.coverage"], 0.7)


def check(name, ok, ops):
    return {"name": name, "ok": ok, "detail": "", "ops": ops}


class FailRatio(unittest.TestCase):
    def art(self, checks):
        return {"workload": "store_serving",
                "ops": [op(0, "text", 0, 1), op(1, "vector", 1, 2), op(2, "text", 2, 3),
                        op(3, "vector", 3, 4)],
                "checks": checks, "extras": {}}

    def test_all_good(self):
        a = self.art([check("text_twin_at_publish", True, [0, 2])])
        self.assertEqual(metrics.verdict(a), (True, 4, 0))
        self.assertEqual(metrics.figures(a)["fail_ratio"], 0.0)

    def test_output_mismatch_fails_the_ops_it_covers(self):
        a = self.art([check("vector_twin_at_publish", False, [1, 3]),
                      check("text_repeatable_cycle_0", True, [0, 2])])
        self.assertEqual(metrics.verdict(a), (False, 4, 2))
        self.assertEqual(metrics.figures(a)["fail_ratio"], 0.5)
        self.assertEqual([o["ok"] for o in a["ops"]], [True, False, True, False])

    def test_a_night_check_covers_its_night(self):
        a = {"workload": "wistia_nights", "extras": {},
             "ops": [op(0, "night", 0, 5), op(1, "night", 5, 9), op(2, "night", 9, 12)],
             "checks": [check("run_log_night_02", False, [1])]}
        self.assertEqual(metrics.verdict(a), (False, 3, 1))
        self.assertAlmostEqual(metrics.figures(a)["fail_ratio"], 1 / 3)

    def test_an_op_failed_twice_counts_once(self):
        a = {"workload": "query_registry", "extras": {},
             "ops": [op(0, "q1", 0, 1, ok=False), op(1, "q2", 1, 2)],
             "checks": [check("oracle_q1", False, [0]), check("oracle_q2", False, [1]),
                        check("oracle_q2_again", False, [1])]}
        self.assertEqual(metrics.verdict(a), (False, 2, 2))

    def test_failed_ops_leave_the_latencies(self):
        a = self.art([])
        a["ops"][0]["ok"] = False
        a["loop_s"], a["session_s"], a["prepare_s"], a["retained_heap_mb"] = 4.0, 1.0, 2.0, 9.0
        self.assertAlmostEqual(metrics.end_to_end(a)["ops_per_s"], 0.75)


class Latency(unittest.TestCase):
    def test_store_median_is_the_mean_of_the_kind_medians(self):
        a = {"workload": "store_serving", "checks": [], "extras": {},
             "ops": [op(0, "text", 0, 2), op(1, "vector", 2, 5), op(2, "text", 5, 7.5),
                     op(3, "vector", 7.5, 10.5), op(4, "vector", 10.5, 14.5)]}
        # text median 2.25, vector median 3: a mixed median would read 3
        self.assertAlmostEqual(metrics.op_p50(a), (2.25 + 3.0) / 2)

    def test_other_workloads_take_the_plain_median(self):
        a = {"workload": "query_registry", "checks": [], "extras": {},
             "ops": [op(0, "q1", 0, 1), op(1, "q2", 1, 4), op(2, "q3", 4, 6)]}
        self.assertEqual(metrics.op_p50(a), 2)

    def test_growth_ratio(self):
        self.assertIsNone(metrics.growth_ratio([1.0, 2.0]))
        self.assertAlmostEqual(metrics.growth_ratio([1.0, 5.0, 3.0, 2.0, 9.0, 4.0]), 6.5 / 3.0)


class Layers(unittest.TestCase):
    def test_idle_time_is_op_wall_without_a_task(self):
        art = {"workload": "wistia_nights", "host_calib_s": 0.1, "checks": [], "extras": {},
               "ops": [op(0, "night", 10.0, 20.0)], "spans": [], "counters": {},
               "tasks": {"0": [[11.0, 13.0], [12.0, 14.0], [16.0, 17.0], [19.5, 21.0]]}}
        # busy 11-14, 16-17, 19.5-20 (clipped): 4.5 of 10 s
        self.assertAlmostEqual(metrics.per_layer(art)["spark.idle_s"], 5.5)

    def test_registry_layers_by_module(self):
        art = {"workload": "query_registry", "host_calib_s": 0.1, "checks": [],
               "extras": {}, "tasks": {},
               "ops": [op(0, "q50", 0, 2), op(1, "gr2", 2, 3), op(2, "q50", 3, 6)],
               "spans": [span("q50", 0, 2, op=0), span("registry.Relational", 0.1, 1.9, 0, 0),
                         span("gr2", 2, 3, op=1), span("registry.GraphOps", 2.0, 3.0, 2, 1),
                         span("q50", 3, 6, op=2), span("registry.Relational", 3.1, 5.9, 4, 2)],
               "counters": {"0": {"spark.jobs": 4, "storage.released_rdds": 2},
                            "1": {"spark.jobs": 9}, "2": {"spark.jobs": 6}}}
        m = metrics.per_layer(art)
        self.assertAlmostEqual(m["registry.Relational_s"], (1.8 + 2.8) / 2)
        self.assertAlmostEqual(m["registry.Relational_jobs"], 5.0)
        self.assertAlmostEqual(m["registry.GraphOps_s"], 1.0)
        self.assertAlmostEqual(m["registry.GraphOps_jobs"], 9.0)
        self.assertEqual(m["registry.Skew_s"], 0.0)
        self.assertAlmostEqual(m["storage.released_rdds"], 2 / 3)
        self.assertAlmostEqual(m["trace.harness_s"], 0.4 / 3)

    def test_benchmark_declares_every_metric(self):
        root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual({m["name"] for m in b["end_to_end"]}, set(metrics.END_TO_END))
        self.assertEqual([m["name"] for m in b["per_layer"]], metrics.PER_LAYER)
        for m in b["end_to_end"] + b["per_layer"]:
            self.assertEqual(m["unit"], metrics.unit(m["name"]), m["name"])


class OracleCompare(unittest.TestCase):
    def frames(self, a, b):
        import pandas as pd
        return oracle.canon(pd.DataFrame(a)), oracle.canon(pd.DataFrame(b))

    def test_row_and_column_order_do_not_matter(self):
        got, exp = self.frames({"b": [2, 1], "a": ["y", "x"]}, {"a": ["x", "y"], "b": [1, 2]})
        self.assertIsNone(oracle.differences(got, exp))

    def test_nulls_match_nulls(self):
        got, exp = self.frames({"a": ["x", None]}, {"a": [None, "x"]})
        self.assertIsNone(oracle.differences(got, exp))

    def test_floats_compare_exactly(self):
        got, exp = self.frames({"v": [0.1 + 0.2]}, {"v": [0.3]})
        self.assertIn("column v", oracle.differences(got, exp))

    def test_row_count_and_columns(self):
        got, exp = self.frames({"a": [1, 2]}, {"a": [1]})
        self.assertEqual(oracle.differences(got, exp), "2 rows vs 1")
        got, exp = self.frames({"a": [1]}, {"b": [1]})
        self.assertIn("columns", oracle.differences(got, exp))


class TraceOverhead(unittest.TestCase):
    def test_only_a_matching_untraced_run_counts(self):
        import types
        art = {"workload": "query_registry", "checks": [], "extras": {},
               "ops": [op(0, "q1", 0, 1.2), op(1, "q2", 1.2, 2.4)]}
        a = types.SimpleNamespace(workload="query_registry", seed=9, seconds=5.0)
        with tempfile.TemporaryDirectory() as t:
            os.makedirs(os.path.join(t, "artifacts"))
            old, run.WORK = run.WORK, t
            try:
                self.assertIsNone(run.trace_overhead(a, art, "rev1"))
                with open(os.path.join(t, "artifacts", "query_registry-untraced-seed9.json"),
                          "w") as f:
                    json.dump({"seconds": 5.0, "context": {"commit": "rev1"},
                               "metrics": {"op_p50_s": 1.0}}, f)
                self.assertAlmostEqual(run.trace_overhead(a, art, "rev1"), 1.2)
                self.assertIsNone(run.trace_overhead(a, art, "rev2"))
                a.seconds = 8.0
                self.assertIsNone(run.trace_overhead(a, art, "rev1"))
            finally:
                run.WORK = old


class SeedDeterminism(unittest.TestCase):
    def test_same_seed_same_corpus(self):
        a = gen.corpus(7, 0.001, gen.TABLES)
        b = gen.corpus(7, 0.001, gen.TABLES)
        self.assertEqual(sorted(a), sorted(gen.TABLES))
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)

    def test_other_seed_same_sizes(self):
        a = gen.corpus(7, 0.001, gen.TABLES)
        b = gen.corpus(8, 0.001, gen.TABLES)
        for name in a:
            self.assertEqual(a[name].num_rows, b[name].num_rows, name)
            self.assertEqual(a[name].schema, b[name].schema, name)
            if name not in ("region", "nation"):  # fixed tables
                self.assertFalse(a[name].equals(b[name]), name)

    def test_keys_reference_rows(self):
        t = gen.corpus(7, 0.001, gen.TABLES)
        for child, key, parent, pkey in [("lineitem", "l_orderkey", "orders", "o_orderkey"),
                                         ("lineitem", "l_partkey", "part", "p_partkey"),
                                         ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
                                         ("orders", "o_custkey", "customer", "c_custkey"),
                                         ("customer", "c_nationkey", "nation", "n_nationkey")]:
            keys = set(t[parent].column(pkey).to_pylist())
            self.assertTrue(set(t[child].column(key).to_pylist()) <= keys, key)

    def test_generated_files(self):
        def files(seed, root):
            m = gen.write("wistia_nights", seed, 0.001, root)
            out = {}
            for d, _, fs in os.walk(root):
                for f in fs:
                    if f != "manifest.json":
                        p = os.path.join(d, f)
                        with open(p, "rb") as fh:
                            out[os.path.relpath(p, root)] = fh.read()
            return m, out

        with tempfile.TemporaryDirectory() as t:
            m1, f1 = files(3, os.path.join(t, "a"))
            m2, f2 = files(3, os.path.join(t, "b"))
            m3, f3 = files(4, os.path.join(t, "c"))
        self.assertEqual(f1, f2)
        self.assertEqual(json.dumps(m1, sort_keys=True), json.dumps(m2, sort_keys=True))
        self.assertNotEqual(f1, f3)
        self.assertEqual(m1["wistia"]["nights"], m3["wistia"]["nights"])
        self.assertEqual(m1["wistia"]["events"], m3["wistia"]["events"])

    def test_pool_layout_in_manifest(self):
        with tempfile.TemporaryDirectory() as t:
            m = gen.write("store_serving", 5, 0.001, t)
        p = m["pool"]
        self.assertEqual(m["tables"]["advance_docs"], p["batch"] * p["batches"])
        self.assertEqual(m["tables"]["advance_vecs"], p["batch"] * p["batches"])

    def test_store_pools(self):
        d1, v1 = gen.store_pools(5, 0.01)
        d2, v2 = gen.store_pools(5, 0.01)
        d3, v3 = gen.store_pools(6, 0.01)
        self.assertTrue(d1.equals(d2) and v1.equals(v2))
        self.assertEqual((d1.num_rows, v1.num_rows), (d3.num_rows, v3.num_rows))
        self.assertFalse(d1.equals(d3))
        self.assertGreaterEqual(d1.column("doc_id").to_pylist()[0], gen.ADVANCE_ID_BASE)


if __name__ == "__main__":
    unittest.main()

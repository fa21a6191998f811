"""Tests for the benchmark's pure parts: the tail-percentile rule, medians
and pass aggregation, fail_frac accounting, and the output-check
comparators on fabricated inputs.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import math
import unittest

import duckdb

import checks
import metrics


def q(name, latency, ok=True, memo_new=0, memo_ids=(), pinned=0.0, heap=None):
    return {"name": name, "ok": ok, "error": None if ok else "boom",
            "construct_s": latency / 2, "action_s": latency / 2, "sweep_s": 0.01,
            "latency_s": latency, "pinned_mb": pinned, "heap_live_mb": heap,
            "memo_new_ids": memo_new, "memo_ids": list(memo_ids)}


def pass_rec(kind, index, wall, queries, traced=False, cpu=1.0):
    return {"kind": kind, "index": index, "traced": traced, "wall_s": wall, "cpu_s": cpu,
            "gc_s": 0.1, "jit_ms": 5, "codegen_classes": 3, "codegen_ms": 12.5,
            "queries": queries}


class TailPercentile(unittest.TestCase):
    def test_leaves_ten_samples_beyond(self):
        xs = list(range(1, 101))
        p, v, beyond = metrics.tail_percentile(xs)
        self.assertEqual((p, v, beyond), (90, 90, 10))

    def test_highest_qualifying_percentile(self):
        xs = list(range(1, 37))  # 36 samples: p72 -> rank 26, 10 beyond; p73 -> 9
        self.assertEqual(metrics.tail_percentile(xs), (72, 26, 10))

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 3.0] * 10
        self.assertEqual(metrics.tail_percentile(xs), metrics.tail_percentile(sorted(xs)))

    def test_too_few_samples_report_max(self):
        self.assertEqual(metrics.tail_percentile([3, 1, 2]), (100, 3, 0))
        self.assertEqual(metrics.tail_percentile(list(range(19))), (100, 18, 0))
        self.assertEqual(metrics.tail_percentile(list(range(20)))[0], 50)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.tail_percentile([])


class Aggregation(unittest.TestCase):
    def test_median(self):
        self.assertEqual(metrics.median([3, 1, 2]), 2)
        self.assertEqual(metrics.median([4, 1, 2, 3]), 2.5)
        with self.assertRaises(ValueError):
            metrics.median([])

    def test_union_merges_overlaps(self):
        self.assertAlmostEqual(metrics.union_s([(0, 1000), (500, 1500), (2000, 2100)]), 1.6)
        self.assertEqual(metrics.union_s([]), 0.0)
        self.assertAlmostEqual(metrics.union_s([(0, 1000), (100, 200)]), 1.0)

    def test_end_to_end_uses_untraced_warm_passes(self):
        raw = {"setup_s": 5.0, "rss_peak_mb": 900.0, "passes": [
            pass_rec("cold", 0, 9.0, [q("a", 4.0), q("b", 5.0)], cpu=20),
            pass_rec("warm", 1, 3.0, [q("a", 1.0), q("b", 2.0)], cpu=4),
            pass_rec("warm", 2, 99.0, [q("a", 50.0), q("b", 49.0)], traced=True, cpu=90),
            pass_rec("warm", 3, 4.0, [q("a", 1.5), q("b", 2.5)], cpu=6),
            pass_rec("warm", 4, 3.5, [q("a", 1.2), q("b", 2.2)], cpu=5),
            pass_rec("check", 5, 60.0, [q("a", 30.0, heap=310.0), q("b", 30.0, heap=420.5)])]}
        m = metrics.end_to_end(raw, attempted=10, failed=1)
        self.assertEqual(m["setup_s"], 5.0)
        self.assertEqual(m["cold_wall_s"], 9.0)
        self.assertEqual(m["wall_s"], 3.5)
        self.assertEqual(m["cpu_s"], 5)
        self.assertAlmostEqual(m["latency_p50_s"], 1.75)
        self.assertEqual(m["latency_tail_s"], 2.5)  # 6 samples: max
        self.assertEqual(m["rss_peak_mb"], 900.0)
        self.assertEqual(m["heap_live_peak_mb"], 420.5)  # the check pass's peak
        self.assertAlmostEqual(m["fail_frac"], 0.1)
        self.assertEqual(m["_warm_passes"], 3)

    def test_end_to_end_needs_warm_and_check_passes(self):
        cold = pass_rec("cold", 0, 9.0, [q("a", 4.0)])
        warm = pass_rec("warm", 1, 3.0, [q("a", 1.0)])
        check = pass_rec("check", 2, 5.0, [q("a", 2.0, heap=100.0)])
        for passes in ([cold, check], [cold, warm]):
            with self.assertRaises(ValueError):
                metrics.end_to_end({"setup_s": 1.0, "rss_peak_mb": 1.0, "passes": passes}, 1, 0)
        self.assertEqual(metrics.end_to_end(
            {"setup_s": 1.0, "rss_peak_mb": 1.0, "passes": [cold, warm, check]}, 3, 0)["wall_s"], 3.0)


class FailAccounting(unittest.TestCase):
    def test_every_execution_and_check_counts(self):
        passes = [pass_rec("cold", 0, 1, [q("a", 1), q("b", 1, ok=False)]),
                  pass_rec("warm", 1, 1, [q("a", 1), q("b", 1)])]
        checks_ = [{"name": "a", "ok": True}, {"name": "b", "ok": False}]
        self.assertEqual(metrics.fail_accounting(passes, checks_), (6, 2))

    def test_clean_run_has_no_failures(self):
        passes = [pass_rec("warm", 1, 1, [q("a", 1)])]
        self.assertEqual(metrics.fail_accounting(passes, [{"ok": True}]), (2, 0))


class PassLayers(unittest.TestCase):
    def test_attribution_and_self_times(self):
        spans = [
            {"id": 1, "parent": 0, "kind": "pass", "name": "warm-2", "start_ms": 0, "end_ms": 10000},
            {"id": 2, "parent": 1, "kind": "query", "name": "a", "start_ms": 0, "end_ms": 9000},
            {"id": 3, "parent": 2, "kind": "construct", "name": "a", "start_ms": 0, "end_ms": 4000},
            {"id": 4, "parent": 2, "kind": "action", "name": "a", "start_ms": 4000, "end_ms": 8000},
            {"id": 5, "parent": 2, "kind": "sweep", "name": "a", "start_ms": 8000, "end_ms": 8500},
        ]
        job = lambda i, span, s, e: {
            "id": i, "span": span, "start_ms": s, "end_ms": e, "ok": True, "stages": 2,
            "tasks": 4, "task_failures": 0, "task_run_ms": 2000, "task_cpu_ns": 10 ** 9,
            "task_gc_ms": 100, "shuffle_write_bytes": metrics.MB, "shuffle_read_bytes": 0,
            "spill_bytes": 0, "input_bytes": 2 * metrics.MB, "input_rows": 10,
            "output_bytes": 0, "output_rows": 0}
        jobs = [job(0, "3", 1000, 2000), job(1, "4", 5000, 7000), job(2, "99", 0, 10)]
        execs = [{"start_ms": 4001, "optimize_ms": 7, "planning_ms": 3},
                 {"start_ms": 100, "optimize_ms": 50, "planning_ms": 50}]
        p = pass_rec("warm", 2, 10.0, [q("a", 8.0, memo_new=2, memo_ids=[7, 8], pinned=3.0)],
                     traced=True)
        m = metrics.pass_layers(p, spans, jobs, execs, cpus=4)
        self.assertEqual(m["exec.jobs"], 2)  # job 2 belongs to another pass
        self.assertEqual(m["operators.eager_jobs"], 1)
        self.assertAlmostEqual(m["operators.eager_job_s"], 1.0)
        self.assertAlmostEqual(m["self.construct_s"], 3.0)
        self.assertAlmostEqual(m["self.action_s"], 2.0)
        self.assertAlmostEqual(m["exec.driver_only_s"], 7.0)
        self.assertAlmostEqual(m["self.pass_s"], 1.0)
        self.assertAlmostEqual(m["self.query_s"], 0.5)
        self.assertAlmostEqual(m["trace.accounted_frac"], 0.85)
        self.assertEqual((m["plans.optimize_ms"], m["plans.planning_ms"]), (7, 3))
        self.assertAlmostEqual(m["exec.slot_busy_frac"], 4.0 / 40)
        self.assertEqual((m["exec.stages"], m["exec.tasks"]), (4, 8))
        self.assertAlmostEqual(m["exec.shuffle_write_mb"], 2.0)
        self.assertEqual((m["plans.memo_builds"], m["plans.memo_rebuild_frac"]), (1, 1.0))
        self.assertEqual(m["plans.pinned_mb"], 3.0)


class OracleCompare(unittest.TestCase):
    T = {"a": "BIGINT", "b": "VARCHAR"}

    def test_equal_after_sorting_columns(self):
        self.assertEqual(checks.compare_result(
            ["b", "a"], self.T, [("x", 1), ("y", 2)],
            ["a", "b"], self.T, [(1, "x"), (2, "y")]), [])

    def test_row_order_matters(self):
        errs = checks.compare_result(["a", "b"], self.T, [(2, "y"), (1, "x")],
                                     ["a", "b"], self.T, [(1, "x"), (2, "y")])
        self.assertIn("row 0 differs", errs[0])

    def test_type_name_count_and_decimal_gates(self):
        self.assertIn("types differ", checks.compare_result(
            ["a"], {"a": "INTEGER"}, [(1,)], ["a"], {"a": "BIGINT"}, [(1,)])[0])
        self.assertIn("columns differ", checks.compare_result(
            ["a"], {"a": "BIGINT"}, [(1,)], ["c"], {"c": "BIGINT"}, [(1,)])[0])
        self.assertIn("row count", checks.compare_result(
            ["a"], {"a": "BIGINT"}, [(1,)], ["a"], {"a": "BIGINT"}, [(1,), (1,)])[0])
        self.assertIn("DECIMAL", checks.compare_result(
            ["a"], {"a": "DECIMAL(18,4)"}, [(1,)], ["a"], {"a": "DECIMAL(18,4)"}, [(1,)])[0])


class AnonComparators(unittest.TestCase):
    def setUp(self):
        self.con = duckdb.connect()

    def test_multiset_diff_counts_multiplicity(self):
        left = "SELECT * FROM (VALUES (1, 'a'), (1, 'a'), (2, 'b')) t(x, y)"
        right = "SELECT * FROM (VALUES (1, 'a'), (2, 'b'), (3, 'c')) t(x, y)"
        self.assertEqual(checks.multiset_diff(self.con, left, right), (1, 1))
        self.assertEqual(checks.multiset_diff(self.con, left, left), (0, 0))

    def test_small_groups_and_partial_suppression(self):
        rows = ", ".join(["(1, 'x')"] * 5 + ["(2, 'y')"] * 4 + ["(NULL, NULL)"] * 3)
        rel = f"SELECT * FROM (VALUES {rows}) t(a, b)"
        self.assertEqual(checks.small_groups(self.con, rel, ["a", "b"], 5), (1, 0))
        self.assertEqual(checks.small_groups(self.con, rel, ["a", "b"], 4), (0, 0))
        partial = "SELECT * FROM (VALUES (1, NULL), (1, 'x')) t(a, b)"
        self.assertEqual(checks.small_groups(self.con, partial, ["a", "b"], 1), (0, 1))

    def test_dp_violations(self):
        eps, delta = 0.5, 1e-6
        sigma = math.sqrt(2 * math.log(1.25 / delta)) / eps
        true = {("a", 0): 100, ("b", 0): 50}
        good = {k: (eps, delta, sigma, n + 2 * sigma) for k, n in true.items()}
        self.assertEqual(checks.dp_violations(good, true, eps, delta), [])
        far = {**good, ("a", 0): (eps, delta, sigma, 100 + 7 * sigma)}
        self.assertIn("beyond 6 sigma", checks.dp_violations(far, true, eps, delta)[0])
        wrong_sigma = {**good, ("b", 0): (eps, delta, sigma / 2, 50.0)}
        self.assertIn("sigma", checks.dp_violations(wrong_sigma, true, eps, delta)[0])
        missing = {("a", 0): good[("a", 0)]}
        self.assertIn("group set", checks.dp_violations(missing, true, eps, delta)[0])


if __name__ == "__main__":
    unittest.main()

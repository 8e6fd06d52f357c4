"""Tests of the benchmark's own logic: percentile selection, span self
time, metric derivation and the seeded plan.

Run from the repository root: python3 -m unittest discover perfbench/tests
"""
import random
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import run  # noqa: E402
import stats  # noqa: E402


def span(name, parent, start, end):
    return {"name": name, "parent": parent, "start": start, "end": end}


class PercentileTest(unittest.TestCase):
    def test_p90_leaves_ten_samples_beyond_at_100(self):
        values = random.Random(7).sample(range(10_000), 100)
        p90 = stats.percentile(values, 90)
        self.assertEqual(sum(1 for v in values if v > p90), 10)

    def test_samples_beyond_grow_with_n(self):
        for n in (100, 137, 250, 1000):
            values = list(range(n))
            random.Random(n).shuffle(values)
            beyond = sum(1 for v in values if v > stats.percentile(values, 90))
            self.assertGreaterEqual(beyond, 10, n)
            self.assertEqual(beyond, n - -(-9 * n // 10), n)

    def test_result_is_a_sample(self):
        values = [0.5, 0.1, 0.9, 0.3]
        for p in (1, 50, 90, 100):
            self.assertIn(stats.percentile(values, p), values)
        self.assertEqual(stats.percentile(values, 100), 0.9)
        self.assertEqual(stats.percentile(values, 1), 0.1)
        self.assertEqual(stats.percentile(values, 50), 0.3)

    def test_empty_raises(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 90)


class SelfTimeTest(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(stats.self_time(span("q", "", 0, 10), []), 10)

    def test_nested_children(self):
        q = span("q", "", 0, 100)
        kids = [span("a", "q", 10, 30), span("b", "q", 40, 70)]
        self.assertEqual(stats.self_time(q, kids), 50)

    def test_overlapping_children_count_once(self):
        q = span("q", "", 0, 100)
        kids = [span("a", "q", 10, 50), span("b", "q", 30, 60), span("c", "q", 55, 58)]
        self.assertEqual(stats.self_time(q, kids), 50)

    def test_children_outside_the_span_are_clipped(self):
        q = span("q", "", 10, 20)
        kids = [span("a", "q", 0, 12), span("b", "q", 18, 40), span("c", "q", 30, 35)]
        self.assertEqual(stats.self_time(q, kids), 6)

    def test_tree_self_times(self):
        spans = [span("query", "", 0, 100), span("build", "query", 0, 40),
                 span("plan", "query", 40, 50), span("analysis", "plan", 41, 44),
                 span("planning", "plan", 43, 48), span("execute", "query", 50, 90)]
        got = stats.span_self_times(spans)
        self.assertEqual(got["query"], 10)
        self.assertEqual(got["plan"], 3)
        self.assertEqual(got["build"], 40)
        self.assertEqual(got["analysis"], 3)

    def test_covered_handles_touching_and_empty(self):
        self.assertEqual(stats.covered([(0, 5), (5, 10)], 0, 10), 10)
        self.assertEqual(stats.covered([(3, 3), (8, 2)], 0, 10), 0)


def fake_out(traced):
    queries = []
    for i, name in enumerate(n for n in stats.AGGREGATES for _ in range(2)):
        jobs = [{"job": i, "group": "", "start": 10.0 * i + 1, "end": 10.0 * i + 6}]
        q = {"name": name, "traced": traced and i % 2 == 0, "ok": True,
             "wall_ms": 100.0 + i, "module": "udaf", "build_ms": 1.0,
             "non_codegen_aggs": 1 if name == "sum_custom" else 0, "codegen_frac": 0.5,
             "spans": [span("query", "", 10.0 * i, 10.0 * i + 8),
                       span("analysis", "plan", 10.0 * i, 10.0 * i + 1)],
             "layer": {"scheduler.jobs": 1.0, "scheduler.tasks": 4.0, "jobs": jobs,
                       "executor.peak_mem_mb": float(i),
                       "batches": [{"triggerExecution": 50.0 + i, "addBatch": 20.0}]}}
        queries.append(q)
    return {"setups": [{"total_ms": t, "build_ms": 1000.0, "register_ms": 200.0}
                       for t in (3000.0, 1000.0, 2000.0)],
            "queries": queries + [dict(queries[0], warmup=True, traced=False, wall_ms=9e9)],
            "loop_ms": 2000.0, "warmup_ms": 500.0, "peak_rss_mb": 900.0}


class MetricTest(unittest.TestCase):
    def test_end_to_end(self):
        m = stats.end_to_end(fake_out(False))
        self.assertEqual(m["setup_s"], 2.0)
        self.assertEqual(m["queries_per_s"], 3.0)
        # row medians 100.5, 102.5, 104.5 ms
        self.assertAlmostEqual(m["query_gmean_s"], (0.1005 * 0.1025 * 0.1045) ** (1 / 3))
        self.assertAlmostEqual(m["query_p90_s"], 0.1045)

    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1.0, 4.0, 16.0]), 4.0)
        self.assertAlmostEqual(stats.geomean([0.25]), 0.25)
        with self.assertRaises(ValueError):
            stats.geomean([])

    def test_row_medians_damp_one_slow_execution(self):
        queries = [{"name": n, "wall_ms": w} for n, w in
                   [("a", 10), ("a", 11), ("a", 500), ("b", 20), ("b", 21), ("b", 19)]]
        self.assertEqual(stats.row_medians(queries), {"a": 11, "b": 20})

    def test_per_layer(self):
        m = stats.per_layer(fake_out(True))
        self.assertEqual(m["scheduler.jobs"], 3)
        self.assertEqual(m["streaming.batches"], 3)
        self.assertEqual(m["driver.gap_ms"], 9)  # 8 ms wall, 5 ms in a job, 3 queries
        self.assertEqual(m["catalyst.analysis_ms"], 3)
        self.assertEqual(m["executor.peak_mem_mb"], 4)
        self.assertEqual(m["udaf.non_codegen_aggs"], 1)
        self.assertEqual(m["trace.overhead_ms"], -1)
        self.assertEqual(m["udaf.sum_custom_ms"], 103)
        self.assertEqual(m["engine.build_s"], 1.0)
        self.assertEqual(m["engine.warmup_s"], 0.5)

    def test_exact_counts(self):
        a = {"scheduler.jobs": 3.0, "scheduler.tasks": 10.0, "streaming.batches": 2.0}
        b = {"scheduler.jobs": 3.0, "scheduler.tasks": 11.0, "streaming.batches": 2.0}
        self.assertEqual(stats.exact_counts(a, b), ["scheduler.jobs", "streaming.batches"])


class PlanTest(unittest.TestCase):
    EXPECTED = {"workloads": {
        "rows": {"types_rows": 1024, "pass_s": 2.0, "rows": ["a", "b", "c", "d", "e"]},
        "twice": {"types_rows": 1024, "pass_s": 2.0, "rows": ["a", "b"], "warmup_passes": 2},
        "agg_sum": {"types_rows": 10, "pass_s": 9.0, "rounds": 4}}}

    def test_same_seed_same_order(self):
        p1 = run.workload_plan("rows", 3, self.EXPECTED, 8)
        p2 = run.workload_plan("rows", 3, self.EXPECTED, 8)
        self.assertEqual(p1, p2)

    def test_seed_changes_order_not_rows(self):
        orders = {tuple(run.workload_plan("rows", s, self.EXPECTED, 8)["order"]) for s in range(6)}
        self.assertGreater(len(orders), 1)
        self.assertEqual({tuple(sorted(o)) for o in orders}, {("a", "b", "c", "d", "e")})

    def test_agg_sum_interleaves_one_to_one(self):
        order = run.workload_plan("agg_sum", 9, self.EXPECTED, 8)["order"]
        self.assertEqual(len(order), 12)
        for i in range(0, 12, 3):
            self.assertEqual(sorted(order[i:i + 3]), sorted(stats.AGGREGATES))

    def test_warmup_runs_each_row_once(self):
        plan = run.workload_plan("agg_sum", 9, self.EXPECTED, 8)
        self.assertEqual(sorted(plan["warmup"]), sorted(stats.AGGREGATES))
        plan = run.workload_plan("rows", 9, self.EXPECTED, 8)
        self.assertEqual(plan["warmup"], plan["order"])

    def test_passes_fill_the_seconds_at_the_nominal_pass_time(self):
        self.assertEqual(run.workload_plan("rows", 9, self.EXPECTED, 8)["passes"], 4)
        self.assertEqual(run.workload_plan("rows", 9, self.EXPECTED, 9)["passes"], 4)
        self.assertEqual(run.workload_plan("agg_sum", 9, self.EXPECTED, 8)["passes"], 1)
        self.assertEqual(run.workload_plan("agg_sum", 9, self.EXPECTED, 1)["passes"], 1)

    def test_passes_do_not_depend_on_the_seed(self):
        self.assertEqual({run.workload_plan("rows", s, self.EXPECTED, 8)["passes"]
                          for s in range(6)}, {4})

    def test_warmup_passes_repeat_the_warmup(self):
        plan = run.workload_plan("twice", 9, self.EXPECTED, 8)
        self.assertEqual(plan["warmup"], plan["order"] * 2)


if __name__ == "__main__":
    unittest.main()

"""Tests of the benchmark's own helpers. Run from the checkout root:

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(HERE, ".."))

import run  # noqa: E402
from graftbench import inputs, stats, trace  # noqa: E402


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        vals = list(range(1, 201))  # 200 samples
        p, v, beyond = stats.tail(vals)
        self.assertEqual((p, v, beyond), (95.0, 190, 10))

    def test_percentile_falls_as_samples_shrink(self):
        self.assertEqual(stats.tail(list(range(1, 101))), (90.0, 90, 10))
        self.assertEqual(stats.tail(list(range(1, 126))), (92.0, 115, 10))
        p, v, beyond = stats.tail(list(range(1, 40)))
        self.assertEqual((p, beyond), (74.0, 10))

    def test_every_sample_count_leaves_ten_beyond(self):
        for n in range(20, 3000, 7):
            p, _, beyond = stats.tail(list(range(n)))
            self.assertGreaterEqual(beyond, 10, n)
            self.assertTrue(50 <= p <= 99, n)
            # the next whole percentile would leave fewer than ten
            if p < 99:
                self.assertLess(n - -(-n * (p + 1) // 100), 10, n)

    def test_too_few_samples_reports_max_with_zero_beyond(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (100.0, 3.0, 0))

    def test_order_does_not_matter(self):
        vals = [5, 1, 9, 3, 7] * 10
        self.assertEqual(stats.tail(vals), stats.tail(sorted(vals)))


class SeedDeterminism(unittest.TestCase):
    def test_serve_same_seed_same_requests(self):
        self.assertEqual(inputs.serve_plan(7), inputs.serve_plan(7))

    def test_serve_other_seed_other_requests(self):
        self.assertNotEqual(inputs.serve_plan(7), inputs.serve_plan(8))

    def test_churn_same_seed_same_batches(self):
        self.assertEqual(inputs.churn_plan(7, 10), inputs.churn_plan(7, 10))
        self.assertNotEqual(inputs.churn_plan(7, 10)["batches"],
                            inputs.churn_plan(8, 10)["batches"])

    def test_sweep_order_is_a_seeded_permutation(self):
        a, b = inputs.surface_plan(7), inputs.surface_plan(8)
        self.assertEqual(a, inputs.surface_plan(7))
        self.assertNotEqual(a, b)
        self.assertEqual(sorted(a["queries"]), sorted(inputs.SWEEP_QUERIES))

    def test_serve_mix_is_fixed_across_seeds(self):
        def mix(seed):
            reqs = [r for r in inputs.serve_plan(seed, n=400)["requests"] if not r["warmup"]]
            return [(r["kind"], r.get("op"), r.get("depth") if r.get("op") == "path" else None)
                    for r in reqs if r["novel"]]
        self.assertEqual(mix(1), mix(2))

    def test_stated_repeat_share(self):
        # 144 requests hold 24 vec requests, fewer than the 2 x 13 at which
        # new vec requests run out
        reqs = [r for r in inputs.serve_plan(3, n=144)["requests"] if not r["warmup"]]
        for kind, share in (("fts", 0.5), ("vec", 0.5), ("graph", 0.75)):
            of = [r for r in reqs if r["kind"] == kind]
            self.assertAlmostEqual(sum(not r["novel"] for r in of) / len(of), share,
                                   delta=0.02, msg=kind)

    def test_vec_requests_cover_probes_and_registry_rows(self):
        reqs = [r for r in inputs.serve_plan(5, n=400)["requests"] if not r["warmup"]]
        new = [r for r in reqs if r["kind"] == "vec" and r["novel"]]
        self.assertEqual(len(new), inputs.KMEANS_K + len(inputs.VEC_REGISTRY))
        self.assertEqual(sorted(r["query"] for r in new if r["op"] == "registry"),
                         sorted(inputs.VEC_REGISTRY))
        # once every vec request has been issued, the rest repeat
        self.assertTrue(all(not r["novel"] for r in reqs[250:] if r["kind"] == "vec"))

    def test_warmup_is_outside_the_timed_request_space(self):
        reqs = inputs.serve_plan(4, n=400)["requests"]
        warm = {r["key"] for r in reqs if r["warmup"]}
        self.assertFalse(warm & {r["key"] for r in reqs if not r["warmup"]})


class LayerSum(unittest.TestCase):
    @staticmethod
    def op(*spans):
        return [("1",) + s for s in spans]

    def test_nested_layers_sum_to_wall(self):
        spans = self.op(("op", 0, 10_000_000),
                        ("operators.construct", 0, 2_000_000),
                        ("spark.action", 2_000_000, 10_000_000),
                        ("spark.plan.optimization", 2_000_000, 3_000_000),
                        ("spark.job", 3_000_000, 9_000_000))
        layers, wall, eager = trace.fold(spans)["1"]
        self.assertAlmostEqual(wall, 10.0)
        self.assertAlmostEqual(layers["operators.construct"], 2.0)
        self.assertAlmostEqual(layers["spark.plan.optimizer"], 1.0)
        self.assertAlmostEqual(layers["spark.exec.job_wall"], 6.0)
        self.assertAlmostEqual(layers["driver.other"], 1.0)
        self.assertAlmostEqual(sum(layers.values()), wall)
        self.assertEqual(eager, 0)
        self.assertEqual(trace.layer_sum_coverage(trace.fold(spans)), 1.0)

    def test_concurrent_jobs_are_not_double_counted(self):
        spans = self.op(("op", 0, 10_000_000),
                        ("spark.action", 0, 10_000_000),
                        ("spark.job", 1_000_000, 8_000_000),
                        ("spark.job", 2_000_000, 5_000_000))
        layers, wall, _ = trace.fold(spans)["1"]
        self.assertAlmostEqual(layers["spark.exec.job_wall"], 7.0)
        self.assertAlmostEqual(sum(layers.values()), wall)

    def test_millisecond_job_edges_are_clipped_to_the_parent(self):
        spans = self.op(("op", 500, 10_000_000),
                        ("spark.job", 0, 10_000_000))
        layers, wall, _ = trace.fold(spans)["1"]
        self.assertAlmostEqual(sum(layers.values()), wall)

    def test_eager_jobs_and_overlap_detection(self):
        spans = self.op(("op", 0, 10_000_000),
                        ("operators.construct", 0, 4_000_000),
                        ("spark.job", 1_000_000, 2_000_000),
                        ("spark.action", 4_000_000, 10_000_000))
        _, _, eager = trace.fold(spans)["1"]
        self.assertEqual(eager, 1)
        # two sibling layers covering the same time double count: flagged
        bad = self.op(("op", 0, 10_000_000),
                      ("spark.action", 0, 10_000_000),
                      ("spark.job", 1_000_000, 6_000_000),
                      ("spark.plan.optimization", 2_000_000, 8_000_000))
        self.assertEqual(trace.layer_sum_coverage(trace.fold(bad)), 0.0)


class MetricNames(unittest.TestCase):
    def test_benchmark_json_lists_what_run_prints(self):
        path = os.path.join(HERE, "..", "..", "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json next to perfbench/")
        with open(path) as f:
            b = json.load(f)
        self.assertEqual([m["name"] for m in b["end_to_end"]], list(run.END_TO_END))
        self.assertEqual([m["unit"] for m in b["end_to_end"]], list(run.END_TO_END.values()))
        self.assertEqual([m["name"] for m in b["per_layer"]], run.PER_LAYER)
        self.assertEqual([m["unit"] for m in b["per_layer"]],
                         [run.unit_of(n) for n in run.PER_LAYER])
        self.assertEqual(sorted(w["name"] for w in b["workloads"]),
                         sorted(set(run.WORKLOADS) - {"watch_churn"}))


if __name__ == "__main__":
    unittest.main()

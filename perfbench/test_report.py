"""Tests of the percentile rule and the metric printer.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import report

HERE = os.path.dirname(os.path.abspath(__file__))


class TailRule(unittest.TestCase):
    def test_needs_eleven_samples(self):
        self.assertIsNone(report.tail(list(range(10))))
        self.assertEqual(report.tail(list(range(11))), (9, 0, 11))

    def test_ten_samples_beyond_the_chosen_percentile(self):
        for n in (11, 20, 37, 100, 1000, 5000):
            xs = list(range(n))
            p, v, count = report.tail(xs)
            self.assertEqual(count, n)
            self.assertGreaterEqual(sum(x > v for x in xs), 10)
            # the next whole percentile up has fewer than ten beyond it
            if p < 99:
                above = report.nearest_rank(sorted(xs), p + 1)
                self.assertLess(sum(x > above for x in xs), 10)

    def test_examples(self):
        self.assertEqual(report.tail(list(range(100)))[0], 90)
        self.assertEqual(report.tail(list(range(1000)))[0], 99)
        self.assertEqual(report.tail(list(range(20)))[0], 50)


class Printer(unittest.TestCase):
    def test_line(self):
        self.assertEqual(report.line("latency_ms", 1.5, "ms", "p50 of 3 samples"),
                         "%-28s = 1.5 ms  (p50 of 3 samples)" % "latency_ms")

    def test_rejects_bad_names_and_units(self):
        for bad in ("", "a b", "x/y", "ü"):
            with self.assertRaises(ValueError):
                report.line(bad, 1.0, "ms")
        with self.assertRaises(ValueError):
            report.line("ok", 1.0, "m s")

    def test_every_declared_metric_is_printable(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        for m in spec["end_to_end"] + spec["per_layer"]:
            report.line(m["name"], 0.0, m["unit"])


class Figures(unittest.TestCase):
    RES = {"workload": "history", "setup_s": [3.0, 1.0, 2.0], "work": 4.0, "wall_s": 2.0,
           "ops": [["flex_timeline", 10.0, 0], ["aggregate", 30.0, 0],
                   ["flex_timeline", 20.0, 0], ["aggregate", 1500.0, 1]],
           "extra": {}, "layers": {"x": 1}, "attempted": 4, "failed": 0, "failures": []}

    def test_e2e_uses_only_untraced_samples(self):
        metrics, lines = report.e2e(self.RES)
        self.assertEqual(metrics, {"setup_s": (2.0, "s"), "latency_ms": (20.0, "ms")})
        self.assertTrue(any(l.startswith("flex_timeline_p50_ms") for l in lines))

    def test_a_fixed_cycle_reports_the_mean_of_whole_cycles(self):
        res = dict(self.RES, cycle=2, ops=[["a", 1.0, 0], ["b", 2.0, 0], ["a", 3.0, 0],
                                           ["b", 10.0, 0], ["a", 100.0, 0]])
        self.assertEqual(report.e2e(res)[0]["latency_ms"], (4.0, "ms"))

    def test_pipeline_latency_is_the_sum_of_per_query_medians(self):
        res = dict(self.RES, workload="pipeline",
                   ops=[["a", 1.0, 0], ["b", 10.0, 0], ["a", 3.0, 0], ["b", 30.0, 0]])
        self.assertEqual(report.e2e(res)[0]["latency_ms"], (22.0, "ms"))

    def test_layers_add_overhead_and_budget_share(self):
        metrics, _ = report.layers(self.RES, [("x", "count"), ("trace.overhead_share", "share"),
                                              ("read.over_budget_share", "share")])
        self.assertEqual(metrics["x"], (1.0, "count"))
        self.assertAlmostEqual(metrics["trace.overhead_share"][0], 1500.0 / 20.0 - 1)
        self.assertEqual(metrics["read.over_budget_share"], (0.25, "share"))
        with self.assertRaises(ValueError):
            report.layers(self.RES, [("missing", "ms")])


if __name__ == "__main__":
    unittest.main()

"""Tests of the benchmark's statistics and result format.

    python3 -m unittest discover -s ingestbench -p 'test_*.py'
"""
import argparse
import json
import os
import re
import unittest

import run
from stats import MIN_TAIL, NAME, metric, percentile, spread

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class PercentileGuard(unittest.TestCase):
    def test_median_needs_ten_samples_above_it(self):
        self.assertIsNone(percentile(range(19), 50))
        self.assertEqual(percentile(range(20), 50), 9.5)

    def test_p90_needs_a_hundred_samples(self):
        self.assertIsNone(percentile(range(99), 90))
        v = percentile(range(100), 90)
        self.assertAlmostEqual(v, 89.1)
        self.assertEqual(sum(1 for x in range(100) if x > v), MIN_TAIL)

    def test_ties_at_the_top_withhold_the_percentile(self):
        # 20 samples, but the upper half is one repeated value: nothing
        # lies strictly above the median.
        self.assertIsNone(percentile([1] * 10 + [5] * 10 + [5], 50))

    def test_empty(self):
        self.assertIsNone(percentile([], 50))


class MetricFormat(unittest.TestCase):
    def test_metric_carries_value_and_unit(self):
        self.assertEqual(metric("wall_s", 1.5, "s"), {"value": 1.5, "unit": "s"})

    def test_bad_name_or_missing_unit_is_refused(self):
        for bad in ("wall s", "p50/ms", "", "lat%"):
            with self.assertRaises(ValueError):
                metric(bad, 1.0, "ms")
        with self.assertRaises(ValueError):
            metric("wall_s", 1.0, "")

    def test_declared_metrics_are_well_formed(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for m in bench["end_to_end"] + bench["per_layer"]:
            self.assertTrue(NAME.fullmatch(m["name"]), m["name"])
            self.assertTrue(m["unit"], m["name"])
        self.assertIn("setup_s", names)


class Summary(unittest.TestCase):
    """The harness reports every declared metric, traced and untraced."""

    def record(self):
        with open(os.path.join(HERE, "src/main/scala/ingestbench/Tracer.scala")) as fh:
            src = fh.read()
        counters = re.findall(r'"([a-z0-9_.]+)"', src[src.index("val Counters"):])
        keys = counters + ["exec.stages_skipped", "e1.ms", "e2.ms", "driver.gc_ms",
                           "driver.heap_after_op_mb"]
        op = lambda n: {"name": n, "ms": 3.0, "error": None, "layers": dict.fromkeys(keys, 1.0),
                        "children": [{"name": "build", "ms": 1.0}, {"name": "action", "ms": 2.0}]}
        return {"setup_s": 9.0, "setup_parts": {"stage_e1_s": 1.0}, "wall_s": 50.0,
                "cpu_s": 120.0, "heap_retained_mb": 80.0, "ops": [op("e1_e2_pass"), op("q01")]}

    def test_declared_metrics_are_all_reported(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        for trace in (0, 1):
            a = argparse.Namespace(trace=trace, cores=4)
            e2e, layers, extra, failed = run.summarize(
                a, self.record(), {"e1_e2_pass": "ok", "q01": "values differ"}, 100)
            self.assertEqual(set(run.declared(e2e, bench["end_to_end"])),
                             {m["name"] for m in bench["end_to_end"]})
            if trace:
                got = run.declared(layers, bench["per_layer"])
                self.assertEqual(set(got), {m["name"] for m in bench["per_layer"]})
                self.assertAlmostEqual(got["build.share"]["value"], 1 / 3)
            self.assertEqual(failed, 1)
            self.assertEqual(extra["error_rate"], 0.5)
            # set-up includes staging the E1 input
            self.assertEqual(e2e["setup_s"], 10.0)
            self.assertAlmostEqual(extra["ingest_rows_per_s"], 100 / 0.003)


class Spread(unittest.TestCase):
    def test_quartiles_match_statistics_quantiles(self):
        s = spread([1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0])
        self.assertEqual(s["median"], 5.5)
        self.assertAlmostEqual(s["q1"], 2.75)
        self.assertAlmostEqual(s["q3"], 8.25)
        self.assertAlmostEqual(s["range_rel"], 9 / 5.5)


if __name__ == "__main__":
    unittest.main()

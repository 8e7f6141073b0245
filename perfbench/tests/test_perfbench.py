"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench/tests

The `.dbc` month test needs the benchmark built (any `run.py` run builds
it) and is skipped otherwise.
"""
import filecmp
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402


def same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def check(self, make):
        a, b, c = (os.path.join(self.tmp, x) for x in "abc")
        make(a, 5)
        make(b, 5)
        make(c, 6)
        self.assertTrue(same_tree(a, b), "same seed, different bytes")
        self.assertFalse(same_tree(a, c), "different seeds, same bytes")

    def test_tables_are_byte_deterministic(self):
        self.check(lambda d, s: gen.gen_tables(d, s, 0.002))

    def test_docs_are_byte_deterministic(self):
        self.check(lambda d, s: gen.gen_docs(d, s, 600))

    def test_arrival_files_are_byte_deterministic(self):
        self.check(lambda d, s: gen.gen_docs(d, s, 600, 12))

    def test_planted_pairs_are_near_duplicates(self):
        docs, planted = gen.docs_corpus(3, 500, 0.1)
        self.assertEqual(len(planted), 50)

        def sh(toks):
            return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
        for o, c in planted:
            a, b = sh(list(docs[o])), sh(list(docs[c]))
            self.assertGreaterEqual(len(a & b) / len(a | b), 0.6)

    @unittest.skipUnless(os.path.exists(os.path.join(run.BUILD, "classpath")), "not built")
    def test_month_is_byte_deterministic(self):
        cp = open(os.path.join(run.BUILD, "classpath")).read().strip()

        def make(d, s):
            subprocess.run(["java", "-cp", cp, "graft.perfbench.Month", d, str(s), "3000"],
                           check=True, capture_output=True)
        self.check(make)


class MetricNamesTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_end_to_end_names_and_units_match(self):
        declared = {m["name"]: m["unit"] for m in self.bench["end_to_end"]}
        self.assertEqual(declared, metrics.END_TO_END)

    def test_per_layer_names_and_units_match(self):
        declared = {m["name"]: m["unit"] for m in self.bench["per_layer"]}
        self.assertEqual(declared, {k: v[0] for k, v in metrics.PER_LAYER.items()})

    def test_printed_result_uses_declared_names_and_units(self):
        raw = {"workload": "analytics_mix", "setup_s": [3.0, 1.0, 1.2],
               "jobs": [{"wall_s": 2.0, "cpu_s": 5.0, "items": 16}] * 3,
               "samples": {"query_ms": [float(i) for i in range(48)]},
               "extra": {}, "attempted": 48, "failed": 0}
        rec = {"trace": 0, "failed": 0, "attempted": 48, "end_to_end": metrics.end_to_end(raw)}
        line = run.result_line(rec)
        self.assertEqual({k: v["unit"] for k, v in line["metrics"].items()},
                         {m["name"]: m["unit"] for m in self.bench["end_to_end"]})
        rec = {"trace": 1, "failed": 0, "attempted": 1, "per_layer": {
            k: {"value": 1.0, "unit": u} for k, (u, _, _, _) in metrics.LAYER_TABLE.items()}}
        line = run.result_line(rec)
        self.assertEqual({k: v["unit"] for k, v in line["metrics"].items()},
                         {m["name"]: m["unit"] for m in self.bench["per_layer"]})

    def test_workloads_match(self):
        self.assertEqual([w["name"] for w in self.bench["workloads"]], metrics.WORKLOADS)


class PercentileTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(metrics.percentile(list(range(99)), 0.9))
        self.assertEqual(metrics.percentile(list(range(100)), 0.9), 89)
        self.assertIsNone(metrics.percentile(list(range(19)), 0.5))
        self.assertEqual(metrics.percentile(list(range(20)), 0.5), 9)
        self.assertIsNone(metrics.percentile([], 0.5))

    def test_every_reported_percentile_has_ten_beyond(self):
        for n in range(1, 300):
            xs = list(range(n))
            for p in (0.5, 0.9, 0.99):
                v = metrics.percentile(xs, p)
                if v is not None:
                    self.assertGreaterEqual(sum(x > v for x in xs), 10)

    def test_tail_latency_left_out_when_samples_are_few(self):
        raw = {"workload": "analytics_mix", "setup_s": [1.0], "extra": {},
               "jobs": [{"wall_s": 2.0, "cpu_s": 5.0, "items": 10}],
               "samples": {"query_ms": [1.0] * 50}, "attempted": 1, "failed": 0}
        e2e = metrics.end_to_end(raw)
        self.assertIn("query_p50_ms", e2e)
        self.assertNotIn("query_p90_ms", e2e)


if __name__ == "__main__":
    unittest.main()

"""Checks BENCHMARK.json against metrics.py and the benchmark contract, and
the summary arithmetic of diff.py.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import re
import sys
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import diff  # noqa: E402
import metrics  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(HERE))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


class BenchmarkJsonTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            self.doc = json.load(f)

    def test_matches_metric_definitions(self):
        self.assertEqual(self.doc, metrics.benchmark_json(self.doc["run_seconds"]))

    def test_contract_limits(self):
        d = self.doc
        self.assertEqual(set(d), {"command", "paths", "run_seconds", "workloads", "end_to_end",
                                  "per_layer"})
        self.assertTrue(1 <= d["run_seconds"] <= 60)
        self.assertTrue(2 <= len(d["workloads"]) <= 8)
        self.assertTrue(1 <= len(d["end_to_end"]) <= 16 and 1 <= len(d["per_layer"]) <= 128)
        names = [x["name"] for k in ("workloads", "end_to_end", "per_layer") for x in d[k]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for w in d["workloads"]:
            self.assertTrue(len(w["why"]) <= 200 and "\n" not in w["why"])
        for m in d["end_to_end"] + d["per_layer"]:
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("higher", "lower"))
        for m in d["end_to_end"]:
            self.assertTrue(0 < m["bound"] <= 0.25)
        setup = [m for m in d["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["unit"], "s")
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in d["end_to_end"]))
        self.assertTrue(len(json.dumps(d)) <= 64 * 1024)


class DiffTest(unittest.TestCase):
    def test_summary_uses_python_quartiles(self):
        med, q1, q3, spread = diff.summary([1.0, 2.0, 3.0, 4.0, 5.0])
        self.assertEqual((med, q1, q3), (3.0, 1.5, 4.5))
        self.assertAlmostEqual(spread, 1.0)

    def test_worse_by_follows_direction(self):
        self.assertAlmostEqual(diff.worse_by(100.0, 90.0, "higher"), 0.1)
        self.assertAlmostEqual(diff.worse_by(100.0, 90.0, "lower"), -0.1)


if __name__ == "__main__":
    unittest.main()

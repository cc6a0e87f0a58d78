"""BENCHMARK.json and run.py agree on every metric name and unit.

Run from the checkout root: python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import re
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


class ContractTest(unittest.TestCase):

    def setUp(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
            self.b = json.load(fh)

    def test_metrics_match_run_py(self):
        self.assertEqual([(m["name"], m["unit"]) for m in self.b["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in self.b["per_layer"]], run.PER_LAYER)

    def test_workloads_are_the_ones_run_py_runs(self):
        for w in self.b["workloads"]:
            self.assertIn(w["name"], run.COMPONENTS)

    def test_shape(self):
        self.assertEqual(set(self.b), {"command", "paths", "run_seconds", "workloads",
                                       "end_to_end", "per_layer"})
        names = [m["name"] for m in self.b["end_to_end"] + self.b["per_layer"]]
        names += [w["name"] for w in self.b["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for m in self.b["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
        for m in self.b["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
        for m in self.b["end_to_end"] + self.b["per_layer"]:
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("higher", "lower"))
        self.assertIn({"name": "setup_s", "unit": "s", "better": "lower",
                       "bound": max(m["bound"] for m in self.b["end_to_end"])},
                      self.b["end_to_end"])


if __name__ == "__main__":
    unittest.main()

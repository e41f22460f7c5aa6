import json
import os
import re
import unittest

from perfbench.tests.common import ROOT
import run

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


class BenchmarkJsonTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            self.b = json.load(fh)

    def test_shape(self):
        self.assertEqual(set(self.b), {"command", "paths", "run_seconds", "workloads",
                                       "end_to_end", "per_layer"})
        self.assertEqual(self.b["paths"], ["perfbench"])
        self.assertTrue(1 <= self.b["run_seconds"] <= 60)
        self.assertTrue(2 <= len(self.b["workloads"]) <= 8)

    def test_metrics_match_the_harness(self):
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in self.b["end_to_end"]],
                         run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in self.b["per_layer"]], run.PER_LAYER)

    def test_limits(self):
        names = [w["name"] for w in self.b["workloads"]] + \
            [m["name"] for m in self.b["end_to_end"] + self.b["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for m in self.b["end_to_end"] + self.b["per_layer"]:
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("lower", "higher"))
        for m in self.b["end_to_end"]:
            self.assertTrue(0 < m["bound"] <= 0.25)
        setup = [m for m in self.b["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["unit"], "s")
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in self.b["end_to_end"]))
        for w in self.b["workloads"]:
            self.assertLessEqual(len(w["why"]), 200)

    def test_workloads_are_defined(self):
        defined = run.load_config(run.CONFIG)
        self.assertEqual([w["name"] for w in self.b["workloads"]], list(defined))


if __name__ == "__main__":
    unittest.main()

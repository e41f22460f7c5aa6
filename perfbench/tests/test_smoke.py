"""Tiny-input end-to-end runs of every workload, through the real build,
JVM and oracle (about three minutes)."""
import io
import json
import os
import unittest
from contextlib import redirect_stderr, redirect_stdout
from unittest import mock

import pandas as pd

from perfbench.tests.common import BENCH, ROOT, scratch
import run

TINY = {"workloads": {
    "floor": {"data": "star", "sf": 0.001,
              "keys": {"q_filter": "rel", "q_dedup_exact": "text", "q_accuracy": "vec",
                       "q_dedup_cluster": "text"}},
    "train": {"data": "generated in the JVM", "train_rows": 4000, "test_rows": 1000,
              "features": 64, "classes": 10, "hidden": [8], "noise": 1.0, "epochs": 1,
              "lr": 0.5, "batch_size": 32, "rules": ["adag", "averaging"],
              "accuracy_floor": 0.5}}}


class SmokeTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = scratch()
        cls.config = os.path.join(cls.tmp.name, "tiny.json")
        with open(cls.config, "w") as fh:
            json.dump(TINY, fh)
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            cls.bench = json.load(fh)
        cls.cwd = os.getcwd()
        os.chdir(ROOT)

    @classmethod
    def tearDownClass(cls):
        os.chdir(cls.cwd)
        cls.tmp.cleanup()

    def bench_run(self, workload, trace):
        out = io.StringIO()
        with redirect_stdout(out), mock.patch.object(run, "CONFIG", self.config):
            code = run.main(["--workload", workload, "--seed", "7", "--seconds", "1",
                             "--trace", str(trace)])
        self.assertEqual(code, 0)
        return json.loads(out.getvalue().strip().splitlines()[-1])

    def assert_metrics(self, line, section):
        self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(line["correct"], line)
        self.assertEqual(line["failed"], 0)
        self.assertGreaterEqual(line["attempted"], 1)
        want = {m["name"]: m["unit"] for m in self.bench[section]}
        got = {k: v["unit"] for k, v in line["metrics"].items()}
        self.assertEqual(got, want)
        for k, v in line["metrics"].items():
            self.assertIsInstance(v["value"], float, k)

    def test_every_workload_emits_every_metric(self):
        for w in ("floor", "train"):
            with self.subTest(workload=w, trace=0):
                line = self.bench_run(w, 0)
                self.assert_metrics(line, "end_to_end")
                self.assertTrue(all(v["value"] > 0 for v in line["metrics"].values()))
        for w in ("floor", "train"):
            with self.subTest(workload=w, trace=1):
                line = self.bench_run(w, 1)
                self.assert_metrics(line, "per_layer")
                if w == "floor":  # q_dedup_cluster's ConnectedComponents rounds
                    self.assertGreater(line["metrics"]["graft.graph.build_s"]["value"], 0)
                    self.assertGreater(line["metrics"]["graft.graph.eager_jobs"]["value"], 0)
                with open(run.result_stem(w, 7, 1) + ".trace.json") as fh:
                    trace = json.load(fh)
                self.assertEqual(trace["header"]["seed"], 7)
                self.assertTrue(trace["spans"])

    def test_unknown_key_fails_loudly(self):
        bad = os.path.join(self.tmp.name, "bad.json")
        with open(bad, "w") as fh:
            json.dump({"workloads": {"floor": dict(TINY["workloads"]["floor"],
                                                   keys={"q_no_such_key": "rel"})}}, fh)
        out, err = io.StringIO(), io.StringIO()
        with redirect_stdout(out), redirect_stderr(err), mock.patch.object(run, "CONFIG", bad):
            code = run.main(["--workload", "floor", "--seed", "7", "--seconds", "1",
                             "--trace", "0"])
        self.assertNotEqual(code, 0)
        self.assertEqual(out.getvalue(), "")
        self.assertIn("unknown registry keys: q_no_such_key", err.getvalue())

    def test_oracle_rejects_an_altered_dump(self):
        self.bench_run("floor", 0)
        work = os.path.join(BENCH, ".work", "floor")
        with open(run.result_stem("floor", 7, 0) + ".result.json") as fh:
            raw = json.load(fh)
        self.assertEqual(run.check_registry(raw, os.path.join(work, "data"), work), {})
        dump = os.path.join(work, "out", "dumps", "q_filter")
        df = pd.read_parquet(dump)
        df.loc[df.index[0], "l_quantity"] += 1.0
        for f in os.listdir(dump):
            os.remove(os.path.join(dump, f))
        df.to_parquet(os.path.join(dump, "part-0.parquet"))
        bad = run.check_registry(raw, os.path.join(work, "data"), work)
        self.assertEqual(list(bad), ["q_filter"])
        self.assertIn("rows differ", bad["q_filter"])


if __name__ == "__main__":
    unittest.main()

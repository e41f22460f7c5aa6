import json
import os
import unittest

from perfbench.tests.common import scratch
import compare


def result(**over):
    header = {"workload": "floor", "seed": 1, "trace": False, "cpus": 4, "xmx": "-Xmx3g",
              "rows": {"lineitem": 60000}, "keys": ["q_filter", "q_accuracy"],
              "workload_config": {"data": "star", "sf": 0.01,
                                  "keys": {"q_filter": "rel", "q_accuracy": "vec"}}}
    header.update(over)
    return {"header": header, "metrics": {"latency_p50_s": {"value": 0.4, "unit": "s"}}}


class GuardTest(unittest.TestCase):
    def test_same_configuration_compares(self):
        rows = compare.compare(result(), result())
        self.assertEqual(rows[0][0], "latency_p50_s")
        self.assertAlmostEqual(rows[0][4], 1.0)

    def test_each_guarded_field_refuses(self):
        for field, value in [("seed", 2), ("cpus", 32), ("xmx", "-Xmx8g"),
                             ("rows", {"lineitem": 600000}), ("workload", "train"),
                             ("keys", ["q_filter", "q_dedup_exact"]),
                             ("workload_config", {"data": "star", "sf": 0.1})]:
            with self.subTest(field=field):
                with self.assertRaisesRegex(compare.ConfigMismatch, field):
                    compare.compare(result(), result(**{field: value}))

    def test_cli_exits_nonzero_on_mismatch(self):
        with scratch() as d:
            a, b = os.path.join(d, "a.json"), os.path.join(d, "b.json")
            for path, r in ((a, result()), (b, result(cpus=8))):
                with open(path, "w") as fh:
                    json.dump(r, fh)
            self.assertEqual(compare.main([a, b]), 2)
            self.assertEqual(compare.main([a, a]), 0)


if __name__ == "__main__":
    unittest.main()

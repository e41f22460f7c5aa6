import unittest

from perfbench.tests.common import BENCH  # noqa: F401  (puts perfbench on sys.path)
import stats


class P95Test(unittest.TestCase):
    def test_withheld_until_ten_samples_lie_beyond(self):
        self.assertIsNone(stats.p95([]))
        self.assertIsNone(stats.p95(list(range(10))))
        self.assertIsNone(stats.p95(list(range(199))))  # rank 190: only 9 beyond

    def test_reported_with_ten_beyond(self):
        xs = list(range(1, 201))
        self.assertEqual(stats.p95(xs), 190)
        self.assertEqual(sum(1 for x in xs if x > stats.p95(xs)), 10)

    def test_order_independent(self):
        xs = [float(x) for x in range(400, 0, -1)]
        self.assertEqual(stats.p95(xs), 380.0)


if __name__ == "__main__":
    unittest.main()

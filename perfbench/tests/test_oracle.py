import os
import unittest

import pandas as pd

from perfbench.tests.common import scratch
import datagen
import oracle

SQL = ("SELECT n_regionkey, COUNT(*) AS n, CAST(SUM(n_nationkey) AS DOUBLE) AS s "
       "FROM nation GROUP BY 1 ORDER BY 1")


class OracleTest(unittest.TestCase):
    def setUp(self):
        self.tmp = scratch()
        d = self.tmp.name
        self.data = os.path.join(d, "data")
        datagen.write_star(self.data, seed=3, sf=0.001)
        self.o = oracle.Oracle(self.data, os.path.join(d, "cache"), os.path.join(d, "duck"), 1)
        self.good = self.o.expected(SQL)

    def tearDown(self):
        self.o.con.close()
        self.tmp.cleanup()

    def dump(self, df, name):
        path = os.path.join(self.tmp.name, name)
        os.makedirs(path)
        df.to_parquet(os.path.join(path, "part-0.parquet"))
        return path

    def test_accepts_identical_result_in_any_row_order(self):
        shuffled = self.good.sample(frac=1.0, random_state=1)
        self.assertIsNone(self.o.check("k", SQL, self.dump(shuffled, "same")))

    def test_rejects_altered_cell(self):
        bad = self.good.copy()
        bad.loc[0, "s"] = bad.loc[0, "s"] + 1.0
        why = self.o.check("k", SQL, self.dump(bad, "cell"))
        self.assertIn("rows differ", why)

    def test_rejects_dropped_row_and_renamed_column(self):
        self.assertIn("rowcount", self.o.check("k", SQL, self.dump(self.good.iloc[1:], "row")))
        renamed = self.good.rename(columns={"n": "count"})
        self.assertIn("columns", self.o.check("k", SQL, self.dump(renamed, "col")))

    def test_decimal_cell_never_equals_double(self):
        import decimal
        dec = self.good.copy()
        dec["s"] = [decimal.Decimal(str(v)) for v in dec["s"]]
        self.assertIsNotNone(oracle.compare(dec, self.good))

    def test_missing_dump_and_broken_sql_fail(self):
        self.assertIn("no Spark result", self.o.check("k", SQL, os.path.join(self.tmp.name, "none")))
        self.assertIn("oracle SQL failed",
                      self.o.check("k", "SELECT * FROM no_such_table", self.dump(self.good, "x")))

    def test_cache_returns_the_same_answer(self):
        again = oracle.Oracle(self.data, os.path.join(self.tmp.name, "cache"),
                              os.path.join(self.tmp.name, "duck2"), 1)
        pd.testing.assert_frame_equal(again.expected(SQL), self.good)
        again.con.close()


if __name__ == "__main__":
    unittest.main()

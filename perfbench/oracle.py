"""DuckDB oracle check of registry results.

Runs each key's `SparkEntry.oracleSql` in DuckDB over the same parquet
inputs and compares it with the Spark result the harness dumped, with the
normalisation of `tools/preflight.py` (imported from there: columns and
rows sorted, DECIMAL cells never equal floats, NaN and NULL spelled out).
Oracle answers are cached per (input files, SQL) digest.
"""
import hashlib
import os
import pickle
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from preflight import TABLES, norm_df  # noqa: E402


def compare(got, exp):
    """None when the frames agree, else a one-line reason."""
    gc, gr = norm_df(got)
    ec, er = norm_df(exp)
    if [c.lower() for c in gc] != [c.lower() for c in ec]:
        return f"columns {gc} vs {ec}"
    if len(gr) != len(er):
        return f"rowcount {len(gr)} vs {len(er)}"
    for i, (a, b) in enumerate(zip(gr, er)):
        if a != b:
            n = sum(1 for x, y in zip(gr, er) if x != y)
            return f"{n}/{len(gr)} rows differ; first at {i}: spark {a} vs duckdb {b}"
    return None


def input_digest(data_dir):
    h = hashlib.sha256()
    for name in sorted(os.listdir(data_dir)):
        if name.endswith(".parquet"):
            h.update(name.encode())
            with open(os.path.join(data_dir, name), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class Oracle:
    def __init__(self, data_dir, cache_dir, temp_dir, threads):
        self.data_dir = data_dir
        self.cache_dir = cache_dir
        self.digest = input_digest(data_dir)
        os.makedirs(cache_dir, exist_ok=True)
        os.makedirs(temp_dir, exist_ok=True)
        self.con = duckdb.connect(config={"threads": threads, "temp_directory": temp_dir,
                                          "memory_limit": "2GB"})
        for t in TABLES:
            p = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(p):
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    def expected(self, sql):
        key = hashlib.sha256((self.digest + "\0" + sql).encode()).hexdigest()
        path = os.path.join(self.cache_dir, key + ".pkl")
        if os.path.exists(path):
            with open(path, "rb") as fh:
                return pickle.load(fh)
        df = self.con.execute(sql).fetchdf()
        with open(path + ".tmp", "wb") as fh:
            pickle.dump(df, fh)
        os.replace(path + ".tmp", path)
        return df

    def check(self, key, sql, dump_dir):
        """None when the dumped Spark result matches the oracle, else why not."""
        if not os.path.isdir(dump_dir):
            return "no Spark result was dumped"
        try:
            got = pd.read_parquet(dump_dir)
        except Exception as e:  # an unreadable dump is a failed op, not a crash
            return f"Spark dump unreadable: {e}"
        try:
            exp = self.expected(sql)
        except Exception as e:
            return f"oracle SQL failed: {e}"
        return compare(got, exp)

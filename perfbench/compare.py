#!/usr/bin/env python3
"""Compares two benchmark result files metric by metric.

    python3 perfbench/compare.py BASE.result.json NEW.result.json

Refuses, with exit code 2 and the differing fields on stderr, when the
two runs were made under different configurations: another workload,
seed, trace mode, input sizes, CPU count, heap, key list or workload
parameters. A ratio between such
runs measures the configuration, not the code.
"""
import json
import sys

GUARDED = ("workload", "seed", "trace", "rows", "cpus", "xmx", "keys", "workload_config")


class ConfigMismatch(ValueError):
    pass


def guard(a, b):
    """Raises ConfigMismatch listing every guarded header field that differs."""
    ha, hb = a["header"], b["header"]
    diff = [f"{k}: {ha.get(k)!r} vs {hb.get(k)!r}" for k in GUARDED if ha.get(k) != hb.get(k)]
    if diff:
        raise ConfigMismatch("refusing to compare runs made under different configurations: "
                             + "; ".join(diff))


def compare(a, b):
    """[(metric, unit, base, new, new/base)] for metrics both files carry."""
    guard(a, b)
    rows = []
    for name, m in a["metrics"].items():
        if name in b["metrics"]:
            x, y = m["value"], b["metrics"][name]["value"]
            rows.append((name, m["unit"], x, y, y / x if x else float("nan")))
    return rows


def main(argv):
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(argv[0]) as fa, open(argv[1]) as fb:
        a, b = json.load(fa), json.load(fb)
    try:
        rows = compare(a, b)
    except ConfigMismatch as e:
        print(f"compare: {e}", file=sys.stderr)
        return 2
    for name, unit, x, y, r in rows:
        print(f"{name:40s} {x:14.6g} {y:14.6g} {unit:6s} x{r:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

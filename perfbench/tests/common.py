"""Shared paths for the self-tests (run from the repository root:
`python3 -m unittest discover -s perfbench/tests -t .`)."""
import os
import sys
import tempfile

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)


def scratch():
    """A temporary directory inside the benchmark's ignored work area."""
    base = os.path.join(BENCH, ".work", "tests")
    os.makedirs(base, exist_ok=True)
    return tempfile.TemporaryDirectory(dir=base)

"""Order statistics used by the benchmark's reports."""
import math
import statistics


def median(values):
    return statistics.median(values) if values else 0.0


def p95(values, min_beyond=10):
    """Nearest-rank 95th percentile, or None unless at least `min_beyond`
    samples lie above it (so n >= 200 for the default): a tail figure
    read off fewer samples is noise, not a percentile."""
    xs = sorted(values)
    if not xs:
        return None
    rank = math.ceil(0.95 * len(xs))
    return xs[rank - 1] if len(xs) - rank >= min_beyond else None

"""Summary statistics the benchmark reports, kept apart so they can be
tested on their own (test_harness.py)."""
import math


def median(xs):
    s = sorted(xs)
    if not s:
        raise ValueError("median of no samples")
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def geomean(xs):
    """Geometric mean of positive samples: one outlier cannot hide the rest."""
    if not xs or any(x <= 0 for x in xs):
        raise ValueError("geometric mean needs positive samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def tail(xs, beyond=10):
    """The highest percentile that still has at least `beyond` samples
    above it: the value of nearest rank n - beyond. Returns
    (value, percentile, n), or None when there are too few samples to
    name any tail."""
    n = len(xs)
    if n <= beyond:
        return None
    rank = n - beyond  # 1-based nearest rank; `beyond` samples sit above it
    return sorted(xs)[rank - 1], 100.0 * rank / n, n

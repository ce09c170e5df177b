"""Order statistics for the benchmark's latency classes.

A percentile is reported only when at least `MIN_BEYOND` samples lie
beyond it, so a p90 needs 100 samples. The drift check compares the
median of a class's first tenth with that of its last tenth (at least
`DRIFT_MIN_TAIL` samples each): a class whose latency still falls
(warm-up) or still rises (state growth) fails it.
"""

import math
import statistics

MIN_BEYOND = 10
DRIFT_LIMIT = 0.25  # |last-tenth median / first-tenth median - 1|
DRIFT_MIN_TAIL = 5


def median(xs):
    return statistics.median(xs)


def quartiles(xs):
    """(q1, median, q3) as `statistics.quantiles(xs, n=4)` gives them."""
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def percentile(xs, p):
    """The p-th percentile (nearest rank), or None when fewer than
    MIN_BEYOND samples lie beyond it."""
    n = len(xs)
    if n == 0:
        return None
    rank = max(1, math.ceil(p / 100 * n))
    if n - rank < MIN_BEYOND:
        return None
    return sorted(xs)[rank - 1]


def drift(xs):
    """(first-tenth median, last-tenth median, ok) in run order, or None
    when the class is too small for two disjoint tails."""
    k = max(len(xs) // 10, DRIFT_MIN_TAIL)
    if len(xs) < 4 * k:
        return None
    first, last = median(xs[:k]), median(xs[-k:])
    return first, last, abs(last / first - 1) <= DRIFT_LIMIT


def summarize(xs):
    """Sample count, median, p90 (or None), drift for one class."""
    d = drift(xs)
    return {
        "n": len(xs),
        "p50": median(xs) if xs else None,
        "p90": percentile(xs, 90),
        "drift_first": d and d[0],
        "drift_last": d and d[1],
        "drift_ok": None if d is None else d[2],
    }

"""Statistics the benchmark reports and the rules it compares runs by."""

import math
import statistics

# Candidate tail percentiles, highest first.
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_MIN_BEYOND = 10


def median(values):
    return statistics.median(values)


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(values, n=4) gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Distance between the first and third quartile, as a share of the
    median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2


def nearest_rank(sorted_values, pct):
    """The nearest-rank percentile of already sorted values."""
    n = len(sorted_values)
    rank = max(1, -(-n * pct // 100))  # ceil(n * pct / 100)
    return sorted_values[int(rank) - 1]


def _betacf(a, b, x):
    """Continued fraction for the incomplete beta function (Lentz)."""
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 300):
        for num in (m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
                    -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))):
            d = 1.0 + num * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + num / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 1e-12:
            break
    return h


def beta_cdf(x, a, b):
    """The regularized incomplete beta function I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b) +
                     a * math.log(x) + b * math.log(1.0 - x))
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


def quantile(values, pct):
    """Harrell-Davis estimate of the pct-th percentile: a weighted mean of
    all order statistics, so it does not jump when one sample crosses its
    neighbour, as a single order statistic does in a sparse mix of keys."""
    s = sorted(values)
    n = len(s)
    a, b = pct / 100.0 * (n + 1), (1.0 - pct / 100.0) * (n + 1)
    cdf = [beta_cdf(i / n, a, b) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * s[i] for i in range(n))


def tail(values):
    """The highest candidate percentile with at least TAIL_MIN_BEYOND
    samples strictly beyond its nearest-rank value, as (percentile, its
    Harrell-Davis estimate, sample count). Returns None when even the
    median has fewer samples beyond it."""
    s = sorted(values)
    for pct in TAIL_PERCENTILES:
        v = nearest_rank(s, pct)
        if sum(1 for x in s if x > v) >= TAIL_MIN_BEYOND:
            return pct, quantile(s, pct), len(s)
    return None


def wins_9_of_10(parent, change, lower_is_better=True):
    """True when the change wins at least nine tenths of the paired runs
    (ties count for neither side) and the medians differ by more than the
    spread between the parent's own runs (its interquartile distance)."""
    if len(parent) != len(change) or len(parent) < 2:
        raise ValueError("need equally many paired runs, at least two")
    sign = 1 if lower_is_better else -1
    wins = sum(1 for p, c in zip(parent, change) if sign * (p - c) > 0)
    q1, _, q3 = quartiles(parent)
    gap = sign * (median(parent) - median(change))
    return wins * 10 >= 9 * len(parent) and gap > q3 - q1

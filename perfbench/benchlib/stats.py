"""Statistics shared by every workload.

Job latencies of one run are a mixture: each job kind has its own
cluster. The plain sample median of such a mixture sits in the gap
between two clusters and jumps from one cluster's edge to the other's
with a single sample, so latency percentiles are Harrell-Davis
estimates: a Beta-weighted average of all order statistics around the
percentile, which moves smoothly instead.
"""
import math
import statistics

# Samples that must lie above the reported tail. A run fits 15-30 jobs in
# its time budget on a 4-core machine; with 10, the tail percentile of a
# 20-job run would be the median.
TAIL_BEYOND = 5


def median(values):
    return statistics.median(values) if values else 0.0


def _betacf(a, b, x):
    """Continued fraction of the incomplete beta function."""
    tiny = 1e-300
    qab, qap, qam = a + b, a + 1.0, a - 1.0
    c, d = 1.0, 1.0 - qab * x / qap
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 300):
        m2 = 2 * m
        aa = m * (b - m) * x / ((qam + m2) * (a + m2))
        d = 1.0 + aa * d
        d = 1.0 / (d if abs(d) > tiny else tiny)
        c = 1.0 + aa / c if abs(1.0 + aa / c) > tiny else tiny
        h *= d * c
        aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
        d = 1.0 + aa * d
        d = 1.0 / (d if abs(d) > tiny else tiny)
        c = 1.0 + aa / c if abs(1.0 + aa / c) > tiny else tiny
        h *= d * c
        if abs(d * c - 1.0) < 1e-12:
            break
    return h


def betainc(a, b, x):
    """Regularized incomplete beta function I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    lbt = (math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
           + a * math.log(x) + b * math.log(1.0 - x))
    if x < (a + 1.0) / (a + b + 2.0):
        return math.exp(lbt) * _betacf(a, b, x) / a
    return 1.0 - math.exp(lbt) * _betacf(b, a, 1.0 - x) / b


def quantile(values, q):
    """Harrell-Davis estimate of the q-quantile (0 < q < 1)."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0
    if n == 1:
        return xs[0]
    a, b = q * (n + 1), (1 - q) * (n + 1)
    cdf = [betainc(a, b, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * x for i, x in enumerate(xs))


def p50(values):
    return quantile(values, 0.5)


def tail(values, beyond=TAIL_BEYOND):
    """Latency at the highest whole percentile that leaves at least
    `beyond` samples above it (by rank). Returns (value, percentile,
    samples above). With `beyond` or fewer samples there is no such
    percentile, and the maximum is returned with percentile 100."""
    xs = sorted(values)
    n = len(xs)
    if n <= beyond:
        return (xs[-1] if xs else 0.0), 100, 0
    for p in range(99, 0, -1):
        rank = math.ceil(p * n / 100)
        if n - rank >= beyond:
            return quantile(xs, p / 100), p, n - rank
    return xs[0], 1, n - 1


def spread(values):
    """Interquartile distance as a share of the median, the way the
    steadiness check computes it (statistics.quantiles, n=4)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    m = statistics.median(values)
    return (q3 - q1) / m if m else float("inf")


def ratio(a, b):
    return a / b if b else 0.0

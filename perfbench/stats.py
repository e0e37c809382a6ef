"""Percentiles and failure accounting shared by run.py and compare.py."""
import math
import statistics


def median(values):
    return statistics.median(values)


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(values, n=4) gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of the
    sample at or below it."""
    if not values:
        raise ValueError("percentile of an empty sample")
    s = sorted(values)
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1]


def latencies(ops):
    """Latencies of timed operations in seconds. A failed or wrong-result
    operation counts as missing every latency limit: it is infinitely slow."""
    return [o["ms"] / 1000.0 if o["ok"] else math.inf for o in ops]


def failure_counts(ops):
    """(attempted, failed) over a list of operations."""
    return len(ops), sum(1 for o in ops if not o["ok"])


def rate(ops):
    """Units of work per second of the time they took; failed operations
    contribute their time but no work."""
    units = sum(o["units"] for o in ops if o["ok"])
    secs = sum(o["unit_ms"] for o in ops) / 1000.0
    return units / secs if secs > 0 else 0.0


# What a latency percentile that lands on a failed operation reports: an
# hour, past any latency limit.
FAILED_LATENCY_S = 3600.0


def finite(value, cap=FAILED_LATENCY_S):
    """A reportable number: an infinite latency (a failure) reads as `cap`."""
    return cap if math.isinf(value) or math.isnan(value) else value

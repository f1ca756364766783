"""Summary statistics shared by the benchmark and its tests."""

import math
import re

# Tail percentiles tried from the top: the reported tail is the highest one
# with at least TAIL_BEYOND samples above it, else the maximum (a median is
# no tail).
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)
TAIL_BEYOND = 10
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of the
    samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    rank = math.ceil(round(p * len(xs) / 100.0, 9))
    return xs[max(0, rank - 1)]


def beyond(values, p):
    """How many samples lie strictly above the p-th percentile."""
    v = percentile(values, p)
    return sum(1 for x in values if x > v)


def tail(values):
    """(percentile, value) of the highest ladder percentile with at least
    TAIL_BEYOND samples beyond it; (100, max) when p75 has fewer."""
    for p in TAIL_LADDER:
        if beyond(values, p) >= TAIL_BEYOND:
            return p, percentile(values, p)
    return 100.0, max(values)


def valid_name(name):
    return bool(NAME_RE.match(name))


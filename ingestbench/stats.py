"""Summary statistics shared by the benchmark's scripts."""
import math
import re
import statistics

NAME = re.compile(r"[A-Za-z0-9_.-]+")

# A percentile is reported only when at least this many samples lie above it.
MIN_TAIL = 10


def percentile(values, q):
    """The q-th percentile (integer 0 < q < 100) by linear interpolation,
    or None unless the sample has n * (100 - q) / 100 >= MIN_TAIL and at
    least MIN_TAIL samples lie strictly above the value."""
    xs = sorted(values)
    n = len(xs)
    if n * (100 - q) < MIN_TAIL * 100:
        return None
    pos = (n - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    v = xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)
    return v if sum(1 for x in xs if x > v) >= MIN_TAIL else None


def metric(name, value, unit):
    """One result metric; the name must match NAME and carry a unit."""
    if not NAME.fullmatch(name):
        raise ValueError(f"bad metric name {name!r}")
    if not unit:
        raise ValueError(f"metric {name} has no unit")
    return {"value": value, "unit": unit}


def spread(values):
    """Median, quartiles, IQR/median and (max-min)/median of a sample."""
    med = statistics.median(values)
    q1, _, q3 = (statistics.quantiles(values, n=4) if len(values) > 1
                 else (values[0],) * 3)
    rel = (lambda x: x / med if med else float("nan"))
    return {"median": med, "q1": q1, "q3": q3, "iqr_rel": rel(q3 - q1),
            "range_rel": rel(max(values) - min(values)), "n": len(values)}

"""Arithmetic shared by run.py and ab.py: medians and quartiles, the
tail-percentile rule, paired wins, bound verdicts, and the row
normalisation used to compare a result with the DuckDB oracle.
"""
import math
import statistics

# Percentiles a tail may be reported at, lowest first.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def median(xs):
    return statistics.median(xs)


def quartiles(xs):
    """(q1, median, q3) as statistics.quantiles(xs, n=4) gives them."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def iqr(xs):
    q1, _, q3 = quartiles(xs)
    return q3 - q1


def spread(xs):
    """Distance between the quartiles as a share of the median."""
    m = median(xs)
    return iqr(xs) / m if m else math.inf


def tail(xs, beyond=10):
    """(percentile, value, n) for the highest percentile on the ladder
    with at least `beyond` samples above it, or None when even the
    median has fewer. The value is the nearest-rank percentile.
    """
    n = len(xs)
    ok = [p for p in TAIL_LADDER if n * (1 - p / 100.0) >= beyond - 1e-9]
    if not ok:
        return None
    p = ok[-1]
    s = sorted(xs)
    rank = max(1, math.ceil(p / 100.0 * n))
    return p, s[rank - 1], n


def wins(parent, change, better):
    """Pairs the change won and the parent won; ties count for neither."""
    assert len(parent) == len(change)
    sign = -1 if better == "lower" else 1
    c = sum(1 for a, b in zip(parent, change) if sign * (b - a) > 0)
    p = sum(1 for a, b in zip(parent, change) if sign * (a - b) > 0)
    return c, p


def claims_gain(won, pairs):
    """At least nine tenths of all pairs run, ties counting as losses."""
    return pairs > 0 and won >= math.ceil(0.9 * pairs - 1e-9)


def verdict(parent, change, better, bound):
    """One of "better", "no worse", "worse", "unresolved".

    better: the change won 9 of 10 pairs and the medians differ by more
    than the parent's IQR. Otherwise, when the parent's own spread is
    wider than the bound, the result is unresolved unless every run of
    one side beats every run of the other. Otherwise the change is worse
    when its median is worse than the parent's by more than the bound.
    """
    won, _ = wins(parent, change, better)
    pm, cm = median(parent), median(change)
    gap = (cm - pm) if better == "lower" else (pm - cm)  # > 0 is worse
    if gap < 0 and claims_gain(won, len(parent)) and -gap > iqr(parent):
        return "better"
    if spread(parent) > bound:
        lo = better == "lower"
        if (max(change) < min(parent)) if lo else (min(change) > max(parent)):
            return "better"
        if (min(change) > max(parent)) if lo else (max(change) < min(parent)):
            return "worse"
        return "unresolved"
    if pm and gap / pm > bound:
        return "worse"
    return "no worse"


def norm(v):
    """One cell as the oracle comparison sees it: floats rounded to six
    decimals, bytes as hex, lists element-wise, everything else as text.
    """
    if v is None:
        return None
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 6)
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    return str(v)


def table_key(columns, rows):
    """(sorted column names, sorted normalised rows) of a result given as
    column names and a list of dicts."""
    cols = sorted(columns)
    return cols, sorted((tuple(norm(r[c]) for c in cols) for r in rows),
                        key=repr)

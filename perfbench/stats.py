"""Order statistics and the parent-versus-change verdict."""

from __future__ import annotations

import statistics

MIN_BEYOND = 10
MIN_PAIRS = 10
WIN_SHARE = 0.9


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile ``p`` (0-100) of ``values``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n: int) -> int:
    """Highest whole percentile (at most 99) with at least ``MIN_BEYOND``
    of ``n`` samples above it. A small sample gets a low percentile, below
    the median even; a sample of ``MIN_BEYOND`` or fewer has none and
    raises."""
    p = min(99, 100 * (n - MIN_BEYOND) // n) if n > 0 else 0
    if p < 1:
        raise ValueError(f"{n} samples leave no percentile with "
                         f"{MIN_BEYOND} samples beyond it")
    return p


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def verdict(parent: list[float], change: list[float], bound: float,
            better: str) -> dict:
    """Compare one metric's runs of the parent and of the change.

    Runs are paired by index (the i-th of each side ran next to each
    other, sides alternating). ``improved`` needs at least ``MIN_PAIRS``
    pairs, the change winning ``WIN_SHARE`` of all pairs (ties count for
    neither), and medians further apart than the parent's quartile
    spread. ``regressed`` means the change's median is worse than the
    parent's by more than ``bound`` (a share of the parent's median).
    When the parent's own spread is wider than ``bound`` a non-regression
    is ``unresolved``, unless every change run beats every parent run.
    """
    sign = 1.0 if better == "lower" else -1.0
    pq1, pmed, pq3 = quartiles(parent)
    cq1, cmed, cq3 = quartiles(change)
    pairs = list(zip(parent, change))
    wins = sum(sign * (c - p) < 0 for p, c in pairs)
    share = wins / len(pairs) if pairs else 0.0
    spread = pq3 - pq1
    gain = sign * (pmed - cmed)  # > 0 when the change is better
    worse_by = -gain / abs(pmed) if pmed else 0.0
    if share >= WIN_SHARE and gain > spread:
        result = "improved" if len(pairs) >= MIN_PAIRS else "unresolved"
    elif worse_by > bound:
        result = "regressed"
    elif (spread / abs(pmed) if pmed else 0.0) > bound and not all(
            sign * (c - p) < 0 for p in parent for c in change):
        result = "unresolved"
    else:
        result = "unchanged"
    return {"parent": {"q1": pq1, "median": pmed, "q3": pq3, "n": len(parent)},
            "change": {"q1": cq1, "median": cmed, "q3": cq3, "n": len(change)},
            "won": share, "pairs": len(pairs), "worse_by": worse_by,
            "verdict": result}

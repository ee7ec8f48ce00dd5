"""Summary statistics and trace attribution shared by run.py and its tests."""


def median(xs):
    s = sorted(xs)
    if not s:
        raise ValueError("median of no samples")
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def tail(xs, beyond=10):
    """The highest percentile that still has at least `beyond` samples
    above it, as (value, percentile, sample count); None when there are
    too few samples for any. With n samples sorted ascending, the value at
    rank r (1-based) has n - r samples above it, so the highest usable
    rank is n - beyond and its percentile is 100 * r / n."""
    s = sorted(xs)
    n = len(s)
    r = n - beyond
    if r < 1:
        return None
    return s[r - 1], 100.0 * r / n, n


def union_seconds(intervals, lo, hi):
    """Length, in seconds, of the union of [start, end] millisecond
    intervals clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total / 1000.0


def driver_gap(span, jobs):
    """Span wall time not covered by any of its Spark jobs: the driver's
    own work (planning, listing, collecting) and idle waiting."""
    busy = union_seconds([(j["start_ms"], j["end_ms"]) for j in jobs],
                         span["start_ms"], span["end_ms"])
    return max(0.0, (span["end_ms"] - span["start_ms"]) / 1000.0 - busy)


def attribute(spans, jobs):
    """Assign each job to the span that was open when it started: the
    latest span whose start is at or before the job's start and whose end
    is at or after it. Returns one job list per span."""
    order = sorted(range(len(spans)), key=lambda i: spans[i]["start_ms"])
    out = [[] for _ in spans]
    for j in jobs:
        owner = None
        for i in order:
            s = spans[i]
            if s["start_ms"] <= j["start_ms"] <= s["end_ms"]:
                owner = i
        if owner is not None:
            out[owner].append(j)
    return out

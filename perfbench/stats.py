"""Arithmetic of the benchmark: percentiles, interval unions, span self
time, driver gap and exactly-once counting. Pure functions, no I/O."""

import statistics

# Candidate percentiles, highest last.
PERCENTILES = (50.0, 90.0, 99.0, 99.9)


def percentile(values, p):
    """The p-th percentile of `values` by linear interpolation between the
    closest ranks (the numpy default). None for an empty sample."""
    xs = sorted(values)
    if not xs:
        return None
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    xs = list(values)
    return statistics.median(xs) if xs else None


def highest_supported_percentile(n, candidates=PERCENTILES, beyond=10):
    """The highest candidate percentile with at least `beyond` samples above
    it in a sample of `n`, or None when even the lowest has fewer."""
    best = None
    for p in sorted(candidates):
        if round(n * (100.0 - p) / 100.0, 6) >= beyond:
            best = p
    return best


def union_length(intervals):
    """Total length covered by the union of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, start, end):
    """The parts of `intervals` that fall inside [start, end]."""
    return [(max(s, start), min(e, end)) for s, e in intervals
            if min(e, end) > max(s, start)]


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    that its child spans cover. `spans` are dicts with id, parent, start and
    end; returns {id: self_time}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) -
            union_length(clip(children.get(s["id"], []), s["start"], s["end"]))
            for s in spans}


def driver_gap(start, end, job_intervals):
    """Wall time of an operation [start, end] not covered by any of its
    Spark jobs: the driver-side fixed cost between and around jobs."""
    return (end - start) - union_length(clip(job_intervals, start, end))


def exactly_once(sent, committed):
    """Compares the events a generator sent with the rows a sink holds.

    `sent` is an iterable of (event_id, value), re-sends included; a
    re-send repeats its original's value. `committed` is an iterable of
    (event_id, value) sink rows. Returns counts: distinct events sent,
    events missing from the sink, events held more than once, events held
    with a value other than the one sent, and the two value sums (each
    distinct event counted once on the sent side, each row on the other)."""
    expect = {}
    for eid, value in sent:
        expect.setdefault(eid, value)
    held = {}
    committed_sum = 0
    for eid, value in committed:
        held.setdefault(eid, []).append(value)
        committed_sum += value
    missing = sum(1 for eid in expect if eid not in held)
    duplicated = sum(1 for vs in held.values() if len(vs) > 1)
    wrong = sum(1 for eid, vs in held.items()
                if eid not in expect or any(v != expect[eid] for v in vs))
    return {"sent": len(expect), "missing": missing, "duplicated": duplicated,
            "wrong": wrong, "sent_sum": sum(expect.values()),
            "committed_sum": committed_sum,
            "rows": sum(len(vs) for vs in held.values())}


def growth(series):
    """Median of the last quarter of a sequence of batch times divided by
    the median of its first quarter (at least one batch each)."""
    if len(series) < 2:
        return None
    q = max(1, len(series) // 4)
    first = median(series[:q])
    return median(series[-q:]) / first if first else None


def tracing_overhead(before, traced, after):
    """Traced figure minus the mean of the untraced figures measured just
    before and just after it: a linear drift across the three windows
    (warm-up still going on) cancels out."""
    return traced - (before + after) / 2


def quartile_spread(values):
    """Distance between the first and third quartile as a share of the
    median (statistics.quantiles, n=4)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")

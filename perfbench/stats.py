"""Arithmetic of the benchmark, kept apart from I/O so it can be tested."""
import math
import statistics


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail_percentile(samples, min_above=10):
    """Highest whole percentile p (1..99) whose nearest-rank value still
    has at least `min_above` samples strictly above it.

    Returns (p, value, n); (None, None, n) when n <= min_above, where no
    percentile has that many samples above it.
    """
    xs = sorted(samples)
    n = len(xs)
    for p in range(99, 0, -1):
        value = xs[max(1, math.ceil(p * n / 100.0)) - 1]
        if sum(1 for x in xs if x > value) >= min_above:
            return p, value, n
    return None, None, n


def union_length(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
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


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals
            if min(e, hi) > max(s, lo)]


def driver_gap(op_start, op_end, jobs):
    """(job_busy, driver_gap): the union of the op's job intervals inside
    its window, and the op's wall time that no job covers."""
    busy = union_length(clip(jobs, op_start, op_end))
    return busy, (op_end - op_start) - busy


def self_time(span, children):
    """A span's length minus the part of it its children cover."""
    s, e = span
    return (e - s) - union_length(clip(children, s, e))


def fail_ratio(attempted, failed):
    if attempted < 1:
        raise ValueError("no op attempted")
    return failed / attempted


def attribute(t, windows):
    """Index of the [start, end] window holding time t, or None. Ops run
    one at a time, so the windows do not overlap."""
    lo, hi = 0, len(windows) - 1
    while lo <= hi:
        mid = (lo + hi) // 2
        s, e = windows[mid]
        if t < s:
            hi = mid - 1
        elif t > e:
            lo = mid + 1
        else:
            return mid
    return None

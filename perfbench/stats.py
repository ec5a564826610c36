"""Statistics the benchmark reports, kept small so they can be tested alone."""


def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    m = n // 2
    return s[m] if n % 2 else (s[m - 1] + s[m]) / 2


def union_length(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((a, b) for a, b in intervals if b > a):
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
    return [(max(s, start), min(e, end)) for s, e in intervals if e > start and s < end]


def no_task_seconds(task_intervals_ms, start_ms, end_ms):
    """Wall seconds in [start, end] during which no task was running."""
    busy = union_length(clip(task_intervals_ms, start_ms, end_ms))
    return (end_ms - start_ms - busy) / 1000


def busy_fraction(run_s, wall_s, cores):
    """Executor run time as a share of the wall-time capacity of `cores`."""
    return run_s / (wall_s * cores)

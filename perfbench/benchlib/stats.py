"""Arithmetic of the benchmark's metrics: percentiles, self time of
spans, feed attribution, and the generator's tallies. Pure functions,
unit-tested in tests/test_stats.py."""

import bisect
import datetime
import statistics


def percentile(values, q):
    """The q-th percentile (0..100) with linear interpolation between
    closest ranks (numpy's default). None for no values."""
    xs = sorted(values)
    if not xs:
        return None
    if len(xs) == 1:
        return float(xs[0])
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50)


def median_over_groups(groups, q):
    """The q-th percentile of each group of values, median over the
    groups. A value far out in one group moves one group's figure, and
    the median over the groups does not follow it."""
    return median([percentile(g, q) for g in groups if g])


def spread(values):
    """Distance between the first and third quartile as a share of the
    median, with statistics.quantiles(values, n=4) quartiles."""
    if len(values) < 2:
        return 0.0
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def union_length(intervals):
    """Total length covered by a set of [a, b] intervals."""
    total = 0.0
    end = None
    for a, b in sorted(intervals):
        if b <= a:
            continue
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover
    (children are clipped to the span)."""
    a, b = span
    clipped = [(max(a, c0), min(b, c1)) for c0, c1 in children]
    return (b - a) - union_length([c for c in clipped if c[1] > c[0]])


def assign_parents(spans, candidates):
    """For each span (t0, t1) without a parent, the innermost candidate
    (id, t0, t1) whose interval holds the span's start, or None."""
    out = []
    for t0, _t1 in spans:
        best = None
        for cid, c0, c1 in candidates:
            if c0 <= t0 <= c1 and (best is None or c1 - c0 < best[2] - best[1]):
                best = (cid, c0, c1)
        out.append(best[0] if best else None)
    return out


def window_index(windows, t):
    """Index of the window (sorted, disjoint [t0, t1]) holding time t."""
    starts = [w[0] for w in windows]
    i = bisect.bisect_right(starts, t) - 1
    if i >= 0 and t <= windows[i][1]:
        return i
    return None


def fold_calls(written, calls):
    """For each file written at time `w`, the index of the first runner
    call that started at or after `w` (that call folds it), or None.
    `calls` are (start, end) pairs in start order."""
    starts = [c[0] for c in calls]
    return [(lambda i: i if i < len(calls) else None)(bisect.bisect_left(starts, w))
            for w in written]


def event_stamps(first_ms, spacing_ms, n):
    return [first_ms + k * spacing_ms for k in range(n)]


def freshness(files, calls):
    """Per-event freshness in seconds: the end of the call that folded an
    event's file minus the event's creation stamp. `files` are dicts with
    `written_ms`, `first_ms`, `spacing_ms`, `n`. Events of unfolded
    files are returned as None."""
    idx = fold_calls([f["written_ms"] for f in files], calls)
    out = []
    for f, i in zip(files, idx):
        stamps = event_stamps(f["first_ms"], f["spacing_ms"], f["n"])
        if i is None:
            out.extend([None] * len(stamps))
        else:
            end = calls[i][1]
            out.extend((end - s) / 1000.0 for s in stamps)
    return out


def backlog_at_calls(files, calls):
    """Files waiting at each call's start: the files that call folds."""
    counts = [0] * len(calls)
    for i in fold_calls([f["written_ms"] for f in files], calls):
        if i is not None:
            counts[i] += 1
    return counts


def day_of(ts_ms):
    return datetime.datetime.fromtimestamp(
        ts_ms / 1000.0, tz=datetime.timezone.utc).strftime("%Y-%m-%d")


def tally_key(ts_ms, province, city, ad_id):
    return f"{day_of(ts_ms)}|{province}|{city}|{ad_id}"


def tallies_match(expected, store_rows):
    """Compare the generator's per-key counts with the store's rows
    (date, province, city, ad_id, clicks). Returns the mismatching keys."""
    got = {}
    for d, p, c, a, n in store_rows:
        k = f"{d}|{p}|{c}|{a}"
        got[k] = got.get(k, 0) + n
    keys = set(expected) | set(got)
    return sorted(k for k in keys if expected.get(k, 0) != got.get(k, 0))

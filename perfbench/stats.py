"""Statistics and span arithmetic for perfbench.

Intervals are (start, end) pairs in milliseconds. All functions are pure
so tests/test_stats.py can pin them.
"""

import statistics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs, beyond=10):
    """The highest percentile with at least `beyond` samples above it.

    Returns (value, percentile, n). With n samples the value is the
    (n - beyond)-th smallest, whose percentile is 100 * (n - beyond) / n.
    With `beyond` or fewer samples no percentile has that many beyond it;
    the maximum is returned, at percentile 100.
    """
    s = sorted(xs)
    n = len(s)
    if n <= beyond:
        return (s[-1] if s else 0.0, 100.0, n)
    return (s[n - 1 - beyond], 100.0 * (n - beyond) / n, n)


def union(intervals):
    """Merged, sorted, non-overlapping cover of `intervals`."""
    out = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [tuple(i) for i in out]


def length(intervals):
    """Total time covered by `intervals`, overlaps counted once."""
    return sum(b - a for a, b in union(intervals))


def clip(intervals, lo, hi):
    return [(max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)]


def minus(intervals, cut):
    """Time covered by `intervals` and not by `cut`."""
    u = union(intervals)
    return length(u) - sum(length(clip(cut, a, b)) for a, b in u)


def self_time(span, children):
    """Duration of `span` minus the part of it its children cover."""
    a, b = span
    return (b - a) - length(clip(children, a, b))


def core_busy(task_ms, job_intervals, cores):
    """Task time over the core time available while any job ran."""
    wall = length(job_intervals)
    return task_ms / (wall * cores) if wall > 0 and cores > 0 else 0.0


def trace_overhead(requests):
    """Relative latency cost of tracing, robust to drift over the run.

    `requests` maps request index -> (latency, kind, traced). Each traced
    request is compared with the latency interpolated, by index, between
    the nearest untraced requests of its kind before and after it, so a
    linear drift cancels. Returns the median ratio minus one, or 0.0
    without any traced request between two such neighbours.
    """
    order = sorted(requests)
    ratios = []
    for i in order:
        lat, kind, traced = requests[i]
        if not traced:
            continue
        same = [j for j in order if requests[j][1] == kind and not requests[j][2]]
        before = [j for j in same if j < i]
        after = [j for j in same if j > i]
        if before and after:
            a, b = before[-1], after[0]
            la, lb = requests[a][0], requests[b][0]
            ratios.append(lat / (la + (lb - la) * (i - a) / (b - a)) - 1.0)
    return median(ratios)


def decompose(request, spans, jobs, catalyst):
    """Split one request's wall time into parts.

    `request` is (start, end); `spans` is a list of (id, parent, name,
    start, end) harness spans below the request root (parent 0 = the
    root); `jobs` and `catalyst` are interval lists. Jobs and Catalyst
    phases are leaves. Returns {part: ms}: one `<name>` entry per harness
    span name (summed self time outside jobs and Catalyst), `client` for
    the root's own self time, `catalyst` (outside jobs) and `jobs` (the
    job-interval union). The parts sum to the wall time exactly when every
    record lies inside its parent; anything sticking out shows as excess.
    """
    leaves = list(jobs) + list(catalyst)
    kids = {}
    for sid, parent, _, a, b in spans:
        kids.setdefault(parent, []).append((a, b))
    parts = {"client": self_time(request, kids.get(0, []) + leaves)}
    for sid, _, name, a, b in spans:
        parts[name] = parts.get(name, 0.0) + self_time((a, b), kids.get(sid, []) + leaves)
    parts["catalyst"] = minus(catalyst, jobs)
    parts["jobs"] = length(jobs)
    return parts

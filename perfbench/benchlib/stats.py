"""The benchmark's own arithmetic: percentiles, open-loop latency, the
ladder's highest rate at the latency limit and span self time. Kept free
of I/O so the tests under perfbench/tests can pin it.
"""

import math
import statistics

# Percentiles the report may use, highest first.
PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0)


def rank(n, p):
    """1-based nearest rank of the p-th percentile in n samples (rounded
    first, so 99.9 % of 10,000 is rank 9,990, not 9,991)."""
    return max(1, math.ceil(round(p / 100.0 * n, 9)))


def percentile(values, p):
    """Nearest-rank percentile of `values` (p in [0, 100])."""
    if not values:
        raise ValueError("percentile of an empty sample")
    return sorted(values)[rank(len(values), p) - 1]


def beyond(n, p):
    """How many of n samples lie strictly above the nearest-rank p-th."""
    return n - rank(n, p)


def tail_percentile(n, min_beyond=10):
    """The highest percentile with at least `min_beyond` samples beyond it
    in a sample of n, or None when even the lowest candidate has fewer."""
    for p in PERCENTILES:
        if beyond(n, p) >= min_beyond:
            return p
    return None


def windowed(values, k):
    """Split time-ordered `values` into k equal consecutive sub-windows and
    return (p50, pct, tail, p50_min): the median over sub-windows of each
    one's median, and of each one's value at the highest percentile that
    the smallest sub-window supports (pct; tail is None when none does),
    and the lowest sub-window median. A stall that hits one sub-window
    moves neither median; interference, which only adds time, moves the
    lowest one least."""
    k = max(1, min(k, len(values)))
    size = len(values) / k
    parts = [values[round(i * size):round((i + 1) * size)] for i in range(k)]
    pct = tail_percentile(min(len(p) for p in parts))
    p50s = [percentile(p, 50) for p in parts]
    tail = statistics.median(percentile(p, pct) for p in parts) if pct else None
    return statistics.median(p50s), pct, tail, min(p50s)


def latency_from_due(due_ns, done_ns):
    """Open-loop latency in ms: a request is timed from when it was due to
    be sent, so a stall also charges the requests queued behind it."""
    return (done_ns - due_ns) / 1e6


def queued_at(records, t_ns):
    """Requests due by t_ns that had not yet been sent at t_ns."""
    return sum(1 for r in records if r["due"] <= t_ns and r["start"] > t_ns)


def backlog_grew(records, step_end_ns, workers):
    """A step's backlog grew when, at the step's end, more requests were
    waiting to be sent than the connections plus 5 % of the step's load."""
    return queued_at(records, step_end_ns) > workers + 0.05 * len(records)


def max_rps_at_slo(steps, limit_ms):
    """Highest ladder rate whose every route meets the latency limit at its
    tail percentile, with no failures and no growing backlog; 0 if none.

    `steps` is a list of dicts: rate, tail_ms (route -> ms), failed,
    backlog_grew.
    """
    ok = [s["rate"] for s in steps
          if not s["backlog_grew"] and s["failed"] == 0
          and all(v is not None and v <= limit_ms for v in s["tail_ms"].values())]
    return max(ok) if ok else 0


def covered(intervals):
    """Total length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it its child spans cover."""
    s, e = span["start"], span["end"]
    clipped = [(max(s, c["start"]), min(e, c["end"])) for c in children]
    return (e - s) - covered([(a, b) for a, b in clipped if b > a])


def self_times(spans):
    """Self time of every span, by id, from each span's `parent` link."""
    kids = {}
    for sp in spans:
        kids.setdefault(sp["parent"], []).append(sp)
    return {sp["id"]: self_time(sp, kids.get(sp["id"], [])) for sp in spans}

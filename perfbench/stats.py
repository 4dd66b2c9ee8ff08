"""Pure helpers of the benchmark: percentiles, open-loop lateness, span
self time, emission attribution and the correctness gates.

Nothing here touches Spark, sockets or files, so every rule the
benchmark's numbers rest on is unit-tested in ``test_perfbench.py``.
"""

from __future__ import annotations

import bisect
import hashlib
import math
import threading
import time
from collections import Counter
from contextlib import contextmanager

# Percentiles a tail may be reported at, highest first, in per-mille so
# the "samples beyond" test is exact integer arithmetic.
TAIL_LADDER = (999, 990, 950, 900, 750, 500)
# A percentile is reported only when this many samples lie beyond it.
MIN_BEYOND = 10


def percentile(values, pct: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * pct / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(values) -> tuple[float, float]:
    """(pct, value) for the highest ladder percentile that has at least
    ``MIN_BEYOND`` samples strictly beyond its rank; with too few
    samples for even the median, the maximum is returned as pct 100."""
    n = len(values)
    for permille in TAIL_LADDER:
        if n * (1000 - permille) >= 1000 * MIN_BEYOND:
            return permille / 10.0, percentile(values, permille / 10.0)
    return 100.0, max(values)


def summary(values) -> dict:
    """Median plus the supported tail, with the sample count."""
    if not values:
        return {"n": 0, "p50": float("nan"), "tail_pct": 0.0,
                "tail": float("nan")}
    pct, tail = tail_percentile(values)
    return {"n": len(values), "p50": percentile(values, 50.0),
            "tail_pct": pct, "tail": tail}


def lateness(due, actual) -> list[float]:
    """Open-loop accounting: how late each operation started against
    its schedule (never negative; an early start is on time)."""
    return [max(0.0, a - d) for d, a in zip(due, actual)]


def open_loop_latency(due, done) -> list[float]:
    """Latency of each completed operation timed from when it was due,
    so a stall also charges the operations queued behind it."""
    return [c - d for d, c in zip(due, done)]


# --------------------------------------------------------------- tracing


class Tracer:
    """In-memory span recorder. Spans nest through ``span()``; each
    records name, layer, start, end and the id of the span that caused
    it. ``enabled=False`` records nothing, so untraced runs pay one
    attribute check per boundary."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()  # each thread nests its own spans

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {"parent": stack[-1] if stack else None, "name": name,
               "layer": layer, "start": time.perf_counter(), "end": None,
               **attrs}
        sid = self._append(rec)
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    def _append(self, rec: dict) -> int:
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
            return rec["id"]

    def add(self, name: str, layer: str, start: float, end: float,
            parent: int | None = None) -> int:
        """Record a span measured elsewhere (e.g. a trigger phase read
        from streaming progress); returns its id."""
        if not self.enabled:
            return -1
        return self._append({"parent": parent, "name": name, "layer": layer,
                             "start": start, "end": end})


def _covered(intervals) -> float:
    """Total length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
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


def self_times(spans) -> dict[str, float]:
    """Seconds per layer that its spans spent outside their children:
    a span's duration minus the part of it its child spans cover
    (children clipped to the parent's interval)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp["parent"] is not None:
            kids.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
    out: dict[str, float] = {}
    for sp in spans:
        s, e = sp["start"], sp["end"]
        inner = [(max(a, s), min(b, e)) for a, b in kids.get(sp["id"], ())
                 if min(b, e) > max(a, s)]
        out[sp["layer"]] = out.get(sp["layer"], 0.0) + (e - s) - _covered(inner)
    return out


# ------------------------------------------------------------ attribution


def attribute_emissions(emissions, events) -> list[float | None]:
    """Time each event first appears in a sink emission.

    ``emissions``: ``(key, window, cnt, t_emit)`` rows in emission order,
    where ``cnt`` is the running count of (key, window). ``events``:
    ``(key, window)`` per accepted event, in acceptance order. The event
    that is the r-th of its (key, window) is first included by the
    earliest emission of that group with ``cnt >= r``; events no
    emission covers get ``None`` (lost)."""
    by_group: dict[tuple, tuple[list[int], list[float]]] = {}
    for key, win, cnt, t in emissions:
        cnts, times = by_group.setdefault((key, win), ([], []))
        if cnts and cnt <= cnts[-1]:
            continue  # a repeat of an already-covered count adds nothing
        cnts.append(cnt)
        times.append(t)
    rank: Counter = Counter()
    out: list[float | None] = []
    for key, win in events:
        rank[(key, win)] += 1
        cnts, times = by_group.get((key, win), ((), ()))
        i = bisect.bisect_left(cnts, rank[(key, win)])
        out.append(times[i] if i < len(cnts) else None)
    return out


# -------------------------------------------------------------- gates


def norm(v):
    """Cross-engine cell normalisation: floats to 9 dp, datetimes to
    naive ISO strings, sequences to tuples."""
    if isinstance(v, float):
        return round(v, 9)
    if hasattr(v, "isoformat"):
        try:
            return v.replace(tzinfo=None).isoformat()
        except (TypeError, AttributeError):
            return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    return v


def result_digest(columns, rows) -> dict:
    """Order-insensitive fingerprint of a result: lower-cased sorted
    column names, row count and a hash of the sorted normalised rows."""
    cols = [c.lower() for c in columns]
    normed = sorted(
        repr(tuple(norm(v) for _, v in sorted(zip(cols, r), key=lambda x: x[0])))
        for r in rows
    )
    h = hashlib.sha256()
    for line in normed:
        h.update(line.encode())
        h.update(b"\n")
    return {"cols": sorted(cols), "rows": len(normed), "hash": h.hexdigest()}


def digest_mismatch(expected: dict, actual: dict) -> str | None:
    """None when two result digests agree, else what differs."""
    for k in ("cols", "rows", "hash"):
        if expected.get(k) != actual.get(k):
            return f"{k}: expected {expected.get(k)!r}, got {actual.get(k)!r}"
    return None


def count_mismatches(expected: Counter, actual: dict) -> list[tuple]:
    """(group, expected, actual) for every (key, window) whose final
    count differs from the count over the accepted events."""
    groups = set(expected) | set(actual)
    return sorted(
        (g, expected.get(g, 0), actual.get(g, 0))
        for g in groups
        if expected.get(g, 0) != actual.get(g, 0)
    )


def conservation_failures(acked: int, accepted: int, flushed: int,
                          spooled: int, emitted: int) -> list[str]:
    """Every stage must hold exactly the events the client saw
    accepted: client 200s == gateway accepted == flushed == rows in the
    spool == events counted by the sink."""
    names = {"gateway.accepted": accepted, "gateway.flushed": flushed,
             "spool.rows": spooled, "sink.emitted": emitted}
    return [f"{k} {v} != client 200s {acked}"
            for k, v in names.items() if v != acked]


def growth(times, values) -> float:
    """Least-squares slope of ``values`` over ``times`` (units per
    second); 0 with fewer than two points."""
    n = len(times)
    if n < 2:
        return 0.0
    mt, mv = sum(times) / n, sum(values) / n
    den = sum((t - mt) ** 2 for t in times)
    if den == 0:
        return 0.0
    return sum((t - mt) * (v - mv) for t, v in zip(times, values)) / den


def backlog_growth_failure(growth: float, goodput: float, steady_s: float,
                           interval_s: float) -> str | None:
    """The peak phase is invalid when the accepted-but-unread backlog
    grows: when its fitted rise over the steady part (``growth`` x
    ``steady_s``) exceeds what one trigger interval takes in
    (``goodput`` x ``interval_s``). A smaller rise is within the jitter
    of when triggers fire, since each trigger reads all that has
    arrived."""
    rise, intake = growth * steady_s, goodput * interval_s
    if rise > intake:
        return (f"peak backlog grew {growth:.0f} events/s: {rise:.0f} over "
                f"the steady part, above one trigger's intake {intake:.0f}")
    return None

"""Pure functions behind the benchmark's derived metrics (unit-tested in
tests/test_metrics.py)."""
import math
import random
from statistics import median

# The tail percentile needs at least this many calls beyond it.
TAIL_BEYOND = 10


def tail(values):
    """(percentile, value, calls beyond it) for latency_tail_s: the highest
    percentile with TAIL_BEYOND calls beyond it, i.e. the value at rank
    n - TAIL_BEYOND. Below 2 * TAIL_BEYOND calls that rank would fall under
    the median, so the median is reported, with fewer calls beyond it."""
    s = sorted(values)
    n = len(s)
    if n >= 2 * TAIL_BEYOND:
        k = n - TAIL_BEYOND
        return 100.0 * k / n, s[k - 1], TAIL_BEYOND
    k = math.ceil(n / 2)
    return 50.0, median(s), n - k


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Total length covered by (start, end) intervals, clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def max_overlap(intervals):
    """Largest number of (start, end) intervals open at one instant."""
    points = sorted([(a, 1) for a, _ in intervals] + [(b, -1) for _, b in intervals],
                    key=lambda t: (t[0], t[1]))
    best = cur = 0
    for _, d in points:
        cur += d
        best = max(best, cur)
    return best


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    that its children cover. `spans` are dicts with id, parent, start_ms,
    end_ms; returns {id: self seconds}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    out = {}
    for s in spans:
        covered = union_length(children.get(s["id"], []), s["start_ms"], s["end_ms"])
        out[s["id"]] = (s["end_ms"] - s["start_ms"] - covered) / 1000.0
    return out


def attach_jobs(spans):
    """Re-parent each job span to the call phase (build, plan or exec) in
    which it started; a job that started outside every phase stays under
    its call."""
    phases = {}
    for s in spans:
        if s["kind"] in ("build", "plan", "exec"):
            phases.setdefault(s["parent"], []).append(s)
    for s in spans:
        if s["kind"] == "job":
            for ph in phases.get(s["parent"], []):
                if ph["start_ms"] <= s["start_ms"] < ph["end_ms"]:
                    s["parent"] = ph["id"]
                    break
    return spans


def schedule(seed, queries, passes):
    """`passes` query orders, each a seeded shuffle of the workload's
    queries."""
    rng = random.Random(seed)
    out = []
    for _ in range(passes):
        order = list(queries)
        rng.shuffle(order)
        out.append(order)
    return out

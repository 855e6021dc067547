"""The benchmark's arithmetic: percentiles, interval unions, span self time,
call-site attribution and failure counting. Pure functions over plain
numbers and dicts; `test_metrics.py` pins each one.
"""
import math
import re
import statistics

# Percentiles a tail may be reported at, lowest first.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def nearest_rank(sorted_values, p):
    """The p-th percentile by nearest rank: the value at rank ceil(p/100 * n)."""
    n = len(sorted_values)
    rank = max(1, math.ceil(p / 100.0 * n))
    return sorted_values[rank - 1], n - rank


def tail(values):
    """The highest percentile on the ladder that leaves at least ten samples
    above its rank. Returns (value, percentile, samples beyond, n). A sample
    too small for any of them reports p50 with the few samples it has."""
    xs = sorted(values)
    best = None
    for p in TAIL_LADDER:
        v, beyond = nearest_rank(xs, p)
        if beyond >= MIN_BEYOND or best is None:
            best = (v, p, beyond, len(xs))
    return best


def median(values):
    return statistics.median(values)


def class_gmean(by_class):
    """The geometric mean over classes of each class's median: every class
    weighs the same however many samples it has, and a change to any one
    class moves the result by its share."""
    meds = [statistics.median(v) for v in by_class.values()]
    return math.exp(sum(math.log(m) for m in meds) / len(meds))


def union_ms(intervals, lo=None, hi=None):
    """Total length covered by the union of [start, end] intervals, each
    clipped to [lo, hi] when given."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_ms(span, children):
    """A span's self time: its duration minus the part of it that its
    children's intervals cover."""
    start, end = span
    return (end - start) - union_ms(children, start, end)


_FRAME = re.compile(r"(?:^|[\s/])((?:graft|perfbench)\.[\w$.]+)\(")


def module_of(callsite):
    """The repository module that launched a job: the package under `graft.`
    of the first `graft.` frame in the call site (`graft` itself for the
    top-level objects). A call site whose first own frame is the benchmark's
    is the benchmark forcing a result (`force`); one with no own frame is
    `other`."""
    for line in (callsite or "").splitlines():
        m = _FRAME.search(line)
        if m:
            parts = m.group(1).split(".")
            if parts[0] == "perfbench":
                return "force"
            return parts[1] if len(parts) > 3 else "graft"
    return "other"


def job_module(job, executions):
    """The module of a job: `streaming` for a job a streaming query ran,
    else `module_of` its call site, falling back to the call site of the
    SQL execution it belongs to when the job itself has no own frame."""
    if job["streaming"]:
        return "streaming"
    own = module_of(job["callsite"])
    if own != "other":
        return own
    return module_of(executions.get(job.get("execution"), ""))


def fail_ratio(ops):
    """Failed or wrong operations over attempted ones, with both counts. An
    operation fails when it raised or its output check did not pass."""
    attempted = len(ops)
    failed = sum(1 for o in ops if not (o.get("ok") and o.get("checked_ok", True)))
    return (failed / attempted if attempted else 1.0), failed, attempted


def parent_of(t, spans):
    """Id of the innermost span whose [start, end] holds time t, or None.
    `spans` are (id, start, end) with no partial overlap."""
    best = None
    for sid, s, e in spans:
        if s <= t <= e and (best is None or e - s < best[2] - best[1]):
            best = (sid, s, e)
    return best[0] if best else None

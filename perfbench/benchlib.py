"""Pure logic of the benchmark: the ECG5000-shaped generator, the metric
aggregation and the trace analysis (self times, driver gap, core use).

Nothing here starts a process or touches Spark, so it is unit-tested on its
own (test_benchlib.py).
"""

import math
import random
import statistics

# ---------------------------------------------------------------- generator
#
# The paper's experiment runs on UCR ECG5000 (5,000 beats, 140 points, five
# classes). The reference files are not part of this repository, so the
# benchmark generates a stand-in of the same shape: per-class beat templates
# with a random time shift, amplitude jitter and Gaussian noise, so that
# elastic measures matter and accuracy sits below 1.0.

SERIES_LEN = 140
# ECG5000's class mix, classes 1..5 (normal, R-on-T PVC, PVC, SP, unclassified)
CLASS_MIX = (0.584, 0.353, 0.019, 0.039, 0.005)
MAX_SHIFT = 10
NOISE_SIGMA = 0.7
AMP_JITTER = 0.2


def class_counts(n, mix=CLASS_MIX):
    """Rows per class for n rows: largest-remainder rounding, so every count
    is within one row of its exact share and the counts sum to n."""
    exact = [n * p / sum(mix) for p in mix]
    counts = [math.floor(x) for x in exact]
    order = sorted(range(len(mix)), key=lambda i: (counts[i] - exact[i], i))
    for i in order[: n - sum(counts)]:
        counts[i] += 1
    return counts


def _bump(t, center, width, amp):
    return amp * math.exp(-0.5 * ((t - center) / width) ** 2)


# (center, width, amplitude) of the Gaussian waves of each class's beat, on
# t in [0, 1): P wave, Q, R, S, T for a normal beat; the ectopic classes move,
# widen or invert them.
TEMPLATES = {
    1: ((0.18, 0.025, 0.5), (0.31, 0.012, -0.8), (0.34, 0.015, 3.5),
        (0.37, 0.012, -1.2), (0.62, 0.05, 1.0)),
    2: ((0.25, 0.03, 2.6), (0.32, 0.03, -1.6), (0.50, 0.06, -1.4),
        (0.70, 0.05, 0.3)),
    3: ((0.40, 0.045, 3.0), (0.48, 0.04, -2.0), (0.68, 0.07, -0.9)),
    4: ((0.10, 0.02, 0.9), (0.22, 0.015, 3.2), (0.26, 0.012, -1.0),
        (0.48, 0.05, 1.3)),
    5: ((0.30, 0.02, 2.0), (0.45, 0.08, 1.2), (0.75, 0.03, -1.5)),
}


def _template(label):
    waves = TEMPLATES[label]
    return [sum(_bump(i / SERIES_LEN, c, w, a) for c, w, a in waves)
            for i in range(SERIES_LEN)]


def ecg_rows(seed, n):
    """n labelled beats (label, [140 floats]) in a seeded random order."""
    rng = random.Random(seed)
    templates = {k: _template(k) for k in TEMPLATES}
    labels = [k for k, c in zip(sorted(TEMPLATES), class_counts(n)) for _ in range(c)]
    rng.shuffle(labels)
    rows = []
    for label in labels:
        base = templates[label]
        shift = rng.randint(-MAX_SHIFT, MAX_SHIFT)
        amp = 1.0 + rng.uniform(-AMP_JITTER, AMP_JITTER)
        values = [amp * base[min(max(i - shift, 0), SERIES_LEN - 1)]
                  + rng.gauss(0.0, NOISE_SIGMA) for i in range(SERIES_LEN)]
        rows.append((label, values))
    return rows


def ucr_tsv(rows):
    """UCR layout: label first, tab-separated, no header, fixed precision so
    one seed always gives byte-identical text."""
    return "".join(
        "%d\t%s\n" % (label, "\t".join("%.5f" % v for v in values))
        for label, values in rows)


# -------------------------------------------------------------- aggregation

def median(values):
    return statistics.median(values)


def iqr_spread(values):
    """Distance between the first and third quartile as a share of the
    median (statistics.quantiles, n=4, default method)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def median_by_key(maps):
    """Per key, the median over the maps that carry the key."""
    keys = sorted({k for m in maps for k in m})
    return {k: median([m[k] for m in maps if k in m]) for k in keys}


# ------------------------------------------------------------ trace analysis

def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if end <= start:
            continue
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def covered(interval, others):
    """Length of `interval` covered by the union of `others`."""
    start, end = interval
    clipped = [(max(s, start), min(e, end)) for s, e in others]
    return union_length([(s, e) for s, e in clipped if e > s])


def self_times(spans):
    """Self time of every span: its duration minus the part of its interval
    that its child spans cover. Spans are dicts with id, parent, start_ns,
    end_ns. Returns {id: nanoseconds}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ns"], s["end_ns"]))
    return {s["id"]: (s["end_ns"] - s["start_ns"])
            - covered((s["start_ns"], s["end_ns"]), children.get(s["id"], []))
            for s in spans}


def self_time_by_name(spans, iterations):
    """Mean self seconds per iteration for each span name."""
    selfs = self_times(spans)
    out = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + selfs[s["id"]] / 1e9
    return {k: v / iterations for k, v in out.items()}


def subtract(intervals, cuts):
    """The parts of `intervals` not covered by any of `cuts`."""
    out = []
    for start, end in intervals:
        pieces = [(start, end)]
        for cs, ce in cuts:
            pieces = [p for s, e in pieces
                      for p in ((s, min(e, cs)), (max(s, ce), e)) if p[1] > p[0]]
        out.extend(pieces)
    return out


def _nested_scopes(spans):
    """Spans whose scope is set and differs from their parent's: a step of a
    call that is charged to a scope of its own."""
    by_id = {s["id"]: s for s in spans}
    return [s for s in spans if s["scope"] and s["parent"] in by_id
            and by_id[s["parent"]]["scope"] not in ("", s["scope"])]


def scope_walls(spans, scope):
    """Intervals (ms) a scope was running: its outermost spans (whose parent
    is not in the scope) minus the nested steps charged to another scope."""
    by_id = {s["id"]: s for s in spans}
    nested = _nested_scopes(spans)
    out = []
    for s in spans:
        parent = by_id.get(s["parent"])
        if s["scope"] != scope or (parent is not None and parent["scope"] == scope):
            continue
        cuts = [(n["start_ns"], n["end_ns"]) for n in nested
                if n["scope"] != scope and n["parent"] == s["id"]]
        out.extend((a / 1e6, b / 1e6)
                   for a, b in subtract([(s["start_ns"], s["end_ns"])], cuts))
    return out


def charge_jobs(jobs, spans):
    """Scope of each job: its job group, unless it started inside a nested
    step charged to another scope (a controller call's prediction step)."""
    nested = [(n["start_ns"] / 1e6, n["end_ns"] / 1e6, n["scope"])
              for n in _nested_scopes(spans)]
    out = []
    for j in jobs:
        scope = j["group"]
        for s, e, sc in nested:
            if s <= j["start_ms"] < e:
                scope = sc
        out.append(scope)
    return out


def driver_gap(walls, jobs):
    """Wall time (same unit as the intervals) inside `walls` not covered by
    any running job: driver-side work between and around jobs."""
    return sum((e - s) - covered((s, e), jobs) for s, e in walls)


def core_util(task_seconds, wall_seconds, cores):
    """Task time over the core time the wall offered."""
    if wall_seconds <= 0:
        return 0.0
    return task_seconds / (wall_seconds * cores)

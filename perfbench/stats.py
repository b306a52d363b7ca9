"""The benchmark's arithmetic: order statistics, geometric mean and span
self times. Kept free of I/O so that test_stats.py can pin it down."""

import math
from collections import defaultdict, namedtuple

Span = namedtuple("Span", "id parent layer name start end")


def median(xs):
    s = sorted(xs)
    if not s:
        raise ValueError("median of an empty sample")
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def highest_percentile(xs, beyond=10):
    """The highest percentile that has at least `beyond` samples above it,
    with its nearest-rank value, as (p, value, n); None when the sample is
    too small for any percentile above the median to qualify."""
    s = sorted(xs)
    n = len(s)
    p = math.floor(100 * (n - beyond) / n) if n else 0
    if p <= 50:
        return None
    return p, s[max(1, math.ceil(p / 100 * n)) - 1], n


def geomean(xs):
    xs = list(xs)
    if not xs or any(x <= 0 for x in xs):
        raise ValueError("geometric mean needs positive values")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def union_length(intervals):
    """Total length covered by a set of [start, end) intervals."""
    total = 0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time of every span: its duration minus the part of it covered
    by its children. Children may overlap each other (concurrent Spark
    jobs); covered time counts once. Returns {span id: self time}."""
    children = defaultdict(list)
    for s in spans:
        children[s.parent].append(s)
    out = {}
    for s in spans:
        covered = union_length(
            (max(c.start, s.start), min(c.end, s.end)) for c in children[s.id])
        out[s.id] = (s.end - s.start) - covered
    return out


MS = 1_000_000  # nanoseconds per millisecond


def attach_batches(spans, slack=2 * MS):
    """Streaming micro-batches come from a listener, without a parent.
    Each goes under the innermost driver span that contains it in time,
    and the Spark jobs that ran inside a batch move under that batch.
    Listener times have millisecond resolution, hence the slack."""
    batches = [s for s in spans if s.parent == 0 and s.layer == "graft.streaming"]
    batch_ids = {b.id for b in batches}
    driver = [s for s in spans if s.layer != "spark" and s.id not in batch_ids]
    placed = {}
    for b in batches:
        hosts = [h for h in driver
                 if h.start - slack <= b.start and b.end <= h.end + slack]
        if hosts:
            placed[b.id] = min(hosts, key=lambda h: h.end - h.start).id
    placed_batches = [b._replace(parent=placed[b.id]) for b in batches if b.id in placed]
    out = []
    for s in spans:
        if s.id in placed:
            s = s._replace(parent=placed[s.id])
        elif s.layer == "spark" and s.name.startswith("job"):
            inside = [b for b in placed_batches if b.parent == s.parent and
                      b.start - slack <= s.start and s.end <= b.end + slack]
            if inside:
                s = s._replace(parent=inside[0].id)
        out.append(s)
    return out


def layer_self_times(spans, root_layer="run"):
    """Self time per layer, summed over the subtrees of the `root_layer`
    spans only (so set-up spans outside the passes do not count)."""
    by_id = {s.id: s for s in spans}
    selfs = self_times(spans)
    roots = {s.id for s in spans if s.layer == root_layer}

    def under_root(s):
        seen = set()
        while True:
            if s.id in roots:
                return True
            if s.parent not in by_id or s.parent in seen:
                return False
            seen.add(s.parent)
            s = by_id[s.parent]

    out = defaultdict(float)
    for s in spans:
        if under_root(s):
            out[s.layer] += selfs[s.id]
    return dict(out)

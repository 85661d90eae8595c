"""Statistics of the benchmark: medians, tails, span unions and self time.

Intervals are (start, end) pairs on one clock; times are in nanoseconds
unless a name says otherwise.
"""
import math
import statistics

MIN_BEYOND = 10
# highest tail percentile reported: p99 of ~1000 batches was decided by
# which batches a young collection landed on
TAIL_CAP = 95


def median(xs):
    return statistics.median(xs) if xs else 0.0


def trimmed_mean(xs, cut=0.1):
    """Mean of the samples left after dropping the lowest and the highest
    `cut` share (rounded down) of them."""
    if not xs:
        return 0.0
    k = int(len(xs) * cut)
    kept = sorted(xs)[k:len(xs) - k]
    return sum(kept) / len(kept)


def tail(xs):
    """The highest integer percentile with at least ten samples beyond it.

    Returns (percentile, value) using the nearest-rank definition, or None
    when there are too few samples. With n samples the percentile is
    floor(100 * (n - 10) / n), capped at TAIL_CAP.
    """
    n = len(xs)
    if n <= MIN_BEYOND:
        return None
    p = min(TAIL_CAP, (100 * (n - MIN_BEYOND)) // n)
    if p <= 0:
        return None
    rank = math.ceil(p * n / 100)  # 1-based nearest rank
    return p, sorted(xs)[rank - 1]


def pair_ratios(ops, kind, ref_kind):
    """Each op of `kind` over the `ref_kind` op that follows it, before the
    next op of `kind`. `ops` are (kind, duration) pairs in time order."""
    out, pending = [], None
    for k, d in ops:
        if k == kind:
            pending = d
        elif k == ref_kind and pending is not None:
            if d > 0:
                out.append(pending / d)
            pending = None
    return out


def union_length(intervals, clip=None):
    """Total length covered by intervals, optionally clipped to a window."""
    spans = []
    for s, e in intervals:
        if clip is not None:
            s, e = max(s, clip[0]), min(e, clip[1])
        if e > s:
            spans.append((s, e))
    spans.sort()
    total = 0
    cur_s = cur_e = None
    for s, e in spans:
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
    return (span[1] - span[0]) - union_length(children, clip=span)


def driver_only(op, jobs):
    """Wall time of an op that no Spark job covered."""
    return self_time(op, jobs)


def tracing_overhead_pct(steps):
    """Extra wall time of traced steps over untraced ones, in percent.

    `steps` are (kind, duration, traced) triples. Per kind, the trimmed
    means of the traced and untraced durations are weighted by the kind's
    share of all steps, so the figure is for the run's own step mix. Kinds
    seen only traced or only untraced are left out.
    """
    by_kind = {}
    for kind, d, traced in steps:
        by_kind.setdefault(kind, ([], []))[1 if traced else 0].append(d)
    on = off = 0.0
    for untraced, traced in by_kind.values():
        if untraced and traced:
            n = len(untraced) + len(traced)
            on += n * trimmed_mean(traced)
            off += n * trimmed_mean(untraced)
    return 100.0 * (on - off) / off if off else 0.0

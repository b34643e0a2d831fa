"""Statistics for the benchmark: medians, tails and span self time.

Everything here is a pure function over plain lists and dicts, so it is
unit-tested in test_stats.py without a JVM.
"""

import math
import statistics


def median(values):
    """Median of a non-empty list (mean of the middle two for even counts)."""
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def mix_mean(samples, mix):
    """Mean call wall of an operation made of calls of several kinds.

    `mix` maps each kind's sample name to how many calls of that kind one
    operation makes. Each kind contributes its median over the run, so a
    call slowed by a passing burst moves the result only if it shifts its
    own kind's median.
    """
    return sum(n * median(samples[k]) for k, n in mix.items()) / sum(mix.values())


def tail(values):
    """The highest whole percentile with at least ten samples beyond it.

    Nearest-rank percentiles: the value at rank ceil(p * n). With fewer than
    twenty samples no percentile at or above the median has ten beyond it;
    the median is reported then, and `beyond` says how many samples lie
    past it. Returns {"value", "pct", "n", "beyond"}.
    """
    n = len(values)
    if n == 0:
        raise ValueError("tail of no samples")
    if n < 20:
        return {"value": median(values), "pct": 50, "n": n, "beyond": n // 2}
    pct = math.floor(100 * (1 - 10 / n) + 1e-9)
    rank = math.ceil(pct * n / 100 - 1e-9)
    return {"value": sorted(values)[rank - 1], "pct": pct, "n": n, "beyond": n - rank}


def union_length(intervals):
    """Total length covered by a list of (start, end) intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(i for i in intervals if i[1] > i[0]):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def clipped(intervals, start, end):
    """Intervals clipped to [start, end], dropping those outside it."""
    return [(max(s, start), min(e, end)) for s, e in intervals if e > start and s < end]


def self_time(span, children):
    """A span's duration minus the part of it that its child spans cover."""
    start, end = span["start_ms"], span["end_ms"]
    covered = union_length(clipped([(c["start_ms"], c["end_ms"]) for c in children], start, end))
    return (end - start) - covered

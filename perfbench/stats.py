"""Pure helpers shared by the runner and the traced-run tool: percentiles
under the sample-count rule, self time from overlapping spans, and the
failure ratio.  No Spark, no I/O — covered by test_perfbench.py."""

from __future__ import annotations

import statistics

# A percentile is reported only when at least this many samples lie
# beyond it, so one outlier cannot be the whole tail.
MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> float | None:
    """The q-th percentile (0 < q < 100, linear interpolation between
    closest ranks), or None when fewer than MIN_BEYOND samples would lie
    above it — p50 needs 20 samples for that, p90 needs 100.  The median
    (q == 50) is always reported for a non-empty sample."""
    n = len(values)
    if n == 0:
        return None
    if q != 50 and n * (100 - q) / 100 < MIN_BEYOND:
        return None
    xs = sorted(values)
    pos = (n - 1) * q / 100
    lo = int(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the union of [start, end) intervals."""
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


def self_time(span: tuple[float, float], children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its child spans cover.
    Children may overlap each other (threads, concurrent queries) and
    may stick out of the parent; only their union inside the parent
    counts."""
    start, end = span
    clipped = [(max(start, s), min(end, e)) for s, e in children]
    return (end - start) - union_length(clipped)


def refresh_time(reads: list[tuple[str, float]]) -> float:
    """Time of one dashboard refresh from (panel, seconds) reads over
    several rounds: the sum over panels of each panel's fastest read.
    A read is a few hundred milliseconds of small Spark jobs, so a GC
    pause or a burst of host contention can double one; the fastest of
    several rounds is what the panel costs when nothing else intervenes
    (medians of three rounds still moved by a quarter with host CPU
    steal of 4 %)."""
    by_panel: dict[str, float] = {}
    for name, secs in reads:
        by_panel[name] = min(secs, by_panel.get(name, secs))
    return sum(by_panel.values())


def another_cycle(elapsed: float, cycle_s: list[float], budget: float) -> bool:
    """Whether a run that has used `elapsed` of its `budget` seconds on
    cycles that took `cycle_s` starts one more: always the first, then
    only one expected (at the mean cycle time) to end within the budget."""
    if not cycle_s:
        return True
    return elapsed + sum(cycle_s) / len(cycle_s) <= budget


def failed_ratio(failed: int, attempted: int) -> float:
    """Failed operations over attempted ones; a run that attempted
    nothing has failed outright."""
    if attempted <= 0:
        return 1.0
    return failed / attempted


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with statistics.quantiles(n=4) quartiles."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")

"""Summary statistics for one benchmark run."""

from __future__ import annotations

import math

# percentiles considered for the tail, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def median(values) -> float:
    xs = sorted(values)
    if not xs:
        raise ValueError("median of no samples")
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2.0


def tail(values, basis: int | None = None) -> tuple[float, float, int]:
    """The highest percentile of TAIL_LADDER with at least MIN_BEYOND
    samples above its nearest rank: returns (value, percentile, samples
    beyond).

    ``basis`` (at most ``len(values)``) picks the percentile as if there
    were only that many samples, so runs whose sample counts differ
    report the same percentile; the value and the count beyond it use
    every sample. With too few samples for any percentile, the maximum
    is returned with 0 samples beyond it.
    """
    xs = sorted(values)
    n = len(xs)
    basis = n if basis is None else min(basis, n)
    for p in TAIL_LADDER:
        if basis - max(1, math.ceil(p / 100.0 * basis)) >= MIN_BEYOND:
            rank = max(1, math.ceil(p / 100.0 * n))
            return xs[rank - 1], p, n - rank
    return xs[-1], 100.0, 0


def read_cpu_times(path: str = "/proc/stat") -> tuple[int, int] | None:
    """(steal, total) jiffies of the aggregate cpu line, or None where
    the kernel exposes no /proc/stat."""
    try:
        with open(path) as f:
            fields = f.readline().split()
    except OSError:
        return None
    if not fields or fields[0] != "cpu":
        return None
    ticks = [int(x) for x in fields[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice];
    # guest time is already counted in user/nice
    total = sum(ticks[:8])
    steal = ticks[7] if len(ticks) > 7 else 0
    return steal, total


def steal_frac(before, after) -> float:
    """Share of CPU time stolen by the hypervisor between two readings."""
    if before is None or after is None:
        return 0.0
    d_total = after[1] - before[1]
    return (after[0] - before[0]) / d_total if d_total > 0 else 0.0

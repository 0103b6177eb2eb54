"""Order statistics shared by the workloads and the result line."""

from __future__ import annotations

import statistics

# a tail figure is only reported from a sample with at least this many
# observations beyond it
TAIL_BEYOND = 10


def median(values) -> float:
    return float(statistics.median(values))


def tail(values) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that still has at
    least TAIL_BEYOND samples beyond it: the sample with exactly
    TAIL_BEYOND slower ones.  Needs more than TAIL_BEYOND samples."""
    n = len(values)
    if n <= TAIL_BEYOND:
        raise ValueError(f"tail needs > {TAIL_BEYOND} samples, got {n}")
    ordered = sorted(values)
    rank = n - TAIL_BEYOND  # 1-based rank of the reported sample
    return float(ordered[rank - 1]), 100.0 * rank / n


def spread(values) -> float:
    """Inter-quartile distance as a share of the median, the way the
    stability check computes it (statistics.quantiles, n=4)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2

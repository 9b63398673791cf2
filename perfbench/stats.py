"""Order statistics shared by the workloads and the report."""

from __future__ import annotations

import statistics

# A tail percentile must have at least this many samples beyond it.
TAIL_BEYOND = 10


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def tail_percentile(samples: list[float]) -> tuple[float, float] | None:
    """``(percentile, value)`` for the highest percentile that still has
    at least ``TAIL_BEYOND`` samples above it, by nearest rank: rank
    ``n - 10`` of ``n`` sorted samples, i.e. percentile ``100·(n-10)/n``.
    ``None`` when fewer than ``TAIL_BEYOND + 1`` samples exist."""
    n = len(samples)
    if n <= TAIL_BEYOND:
        return None
    ordered = sorted(samples)
    rank = n - TAIL_BEYOND
    return 100.0 * rank / n, float(ordered[rank - 1])


def tail_or_max(samples: list[float]) -> tuple[str, float]:
    """The tail value with its label: ``p<q>`` when the sample supports a
    tail percentile, else ``max`` over the (too few) samples."""
    got = tail_percentile(samples)
    if got is None:
        return "max", float(max(samples)) if samples else 0.0
    q, v = got
    return f"p{q:.1f}", v

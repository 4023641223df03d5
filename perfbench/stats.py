"""Order statistics the benchmark reports."""

from __future__ import annotations

import statistics

#: Candidate tail percentiles as exact fractions, highest first.
TAIL_PERCENTILES = ((9999, 10000), (999, 1000), (99, 100), (9, 10), (1, 2))


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def percentile(values, num: int, den: int) -> float:
    """Nearest-rank percentile ``num/den`` of ``values`` (0.0 when empty)."""
    xs = sorted(values)
    if not xs:
        return 0.0
    rank = max(1, -(-len(xs) * num // den))  # ceil without float rounding
    return float(xs[rank - 1])


def tail_percentile(values, min_beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile with at least ``min_beyond`` samples above its
    rank, as ``(percent, value, sample_count)``.

    Falls back through 99.99, 99.9, 99, 90 and 50; with fewer samples than
    that allows, the maximum is returned with percent 100.
    """
    xs = sorted(values)
    n = len(xs)
    for num, den in TAIL_PERCENTILES:
        rank = max(1, -(-n * num // den))
        if n - rank >= min_beyond:
            return 100.0 * num / den, float(xs[rank - 1]), n
    return 100.0, float(xs[-1]) if xs else 0.0, n


def due_time(t0: float, index: int, rate: float) -> float:
    """When message ``index`` of an open-loop schedule was due to be sent."""
    return t0 + index / rate


def open_loop_latencies_ms(
    arrivals: dict[int, float], t0: float, rate: float
) -> list[float]:
    """Latency of each delivered message, timed from its due time — so a
    stalled generator or a stalled pipeline both show as latency."""
    return [
        (arrived - due_time(t0, index, rate)) * 1000.0
        for index, arrived in arrivals.items()
    ]

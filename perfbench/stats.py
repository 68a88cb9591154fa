"""Sample statistics and the correctness tally.

Percentiles are nearest-rank. A tail percentile is only reported when at
least ``MIN_BEYOND`` samples lie beyond it. A failed or wrong operation
stays in its latency sample as the slowest possible value (the whole
measured window), so a failure can never make a latency look better, and
it counts against throughput and ``error_rate``.
"""

from __future__ import annotations

import math

MIN_BEYOND = 10
TAIL_LEVELS = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def _rank(n: int, q: float) -> int:
    """1-based nearest rank of the ``q``-th percentile among ``n`` (the
    rounding keeps 99.9% of 10000 at 9990, not 9991)."""
    return max(1, math.ceil(round(q * n / 100, 9)))


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank ``q``-th percentile of ``values``."""
    if not values:
        raise ValueError("percentile of an empty sample")
    return sorted(values)[_rank(len(values), q) - 1]


def beyond(n: int, q: float) -> int:
    """How many of ``n`` samples rank above the nearest-rank ``q``-th."""
    return n - _rank(n, q)


def tail_level(n: int) -> float | None:
    """The highest of ``TAIL_LEVELS`` with at least ``MIN_BEYOND``
    samples beyond it in a sample of ``n``, or None."""
    for q in TAIL_LEVELS:
        if beyond(n, q) >= MIN_BEYOND:
            return q
    return None


class Tally:
    """Attempted operations and their outcomes, with each one's latency."""

    def __init__(self) -> None:
        self.latencies: list[float] = []
        self.ok: list[bool] = []
        self.errors: list[str] = []

    def record(self, latency: float, ok: bool, error: str | None = None) -> int:
        self.latencies.append(latency)
        self.ok.append(ok)
        if error:
            self.errors.append(error)
        return len(self.ok) - 1

    def fail(self, i: int, error: str) -> None:
        """Mark operation ``i`` wrong after the fact (a checked answer)."""
        if self.ok[i]:
            self.ok[i] = False
            self.errors.append(error)

    @property
    def attempted(self) -> int:
        return len(self.ok)

    @property
    def failed(self) -> int:
        return self.ok.count(False)

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0

    def charged(self, window: float) -> list[float]:
        """Latencies with every failed operation charged ``window``."""
        return [lat if ok else max(lat, window) for lat, ok in zip(self.latencies, self.ok)]

"""Summary statistics and failure accounting for one benchmark run."""

from __future__ import annotations

import math
import statistics


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile ``p`` among ``n`` samples
    (rounded first, so 99.9 % of 10000 is 9990, not 9991)."""
    return max(1, math.ceil(round(p * n / 100.0, 9)))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (``p`` in [0, 100])."""
    if not values:
        raise ValueError("no samples")
    return sorted(values)[_rank(p, len(values)) - 1]


def tail_percentile(n: int, beyond: int = 10) -> int | None:
    """The highest of p50/p75/p90/p95/p99/p99.9 that has at least
    ``beyond`` samples above it among ``n``; None when not even p50 has."""
    best = None
    for p in (50, 75, 90, 95, 99, 99.9):
        above = n - _rank(p, n)
        if above >= beyond:
            best = p
    return best


def timing_summary(values: list[float]) -> dict:
    """Median plus the tail percentile the sample count supports."""
    out = {"n": len(values), "p50": statistics.median(values) if values else None}
    p = tail_percentile(len(values))
    if p is not None:
        out["tail_pct"] = p
        out["tail"] = percentile(values, p)
    return out


class Ledger:
    """Counts every operation attempted and every one that failed or
    returned a wrong answer; nothing is skipped."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failures: list[str] = []

    def record(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failures.append(what)
        return ok

    @property
    def failed(self) -> int:
        return len(self.failures)

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0

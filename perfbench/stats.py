"""Small statistics and bookkeeping shared by every workload."""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10   # samples a tail percentile must leave above itself


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def tail_percentile(values: list[float],
                    min_beyond: int = MIN_BEYOND) -> tuple[int, float]:
    """The highest whole percentile that still has ``min_beyond`` samples
    above it, as ``(percent, value)``: p90 at 100 samples, p50 at 20.
    Nearest-rank: the p-th percentile is the ``ceil(p·n/100)``-th smallest
    sample, so ``n - ceil(p·n/100)`` samples lie beyond it."""
    n = len(values)
    if n <= min_beyond:
        raise ValueError(f"{n} samples leave no percentile with "
                         f"{min_beyond} beyond it")
    pct = max(p for p in range(1, 100)
              if n - math.ceil(p * n / 100) >= min_beyond)
    return pct, percentile(values, pct)


def percentile(values: list[float], pct: int) -> float:
    """Nearest-rank ``pct``-th percentile: the ``ceil(pct·n/100)``-th
    smallest sample."""
    ordered = sorted(values)
    return float(ordered[max(1, math.ceil(pct * len(ordered) / 100)) - 1])


class Tally:
    """Operations attempted and failed in one run: triggers, queries and
    output checks. ``error_rate`` is failed / attempted."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def record(self, name: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{name}: {detail}" if detail else name)
        return ok

    def check(self, name: str, got, want) -> bool:
        """An output check: passes when ``got == want``."""
        ok = got == want
        detail = "" if ok else f"got {_short(got)}, want {_short(want)}"
        return self.record(name, ok, detail)

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def _short(value, limit: int = 160) -> str:
    text = repr(value)
    return text if len(text) <= limit else text[:limit] + "..."

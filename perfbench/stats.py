"""Small statistics helpers shared by run.py and its tests."""

from __future__ import annotations

import math
import statistics

#: a reported percentile must leave at least this many samples above it
MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty list."""
    ordered = sorted(values)
    rank = max(1, math.ceil(q / 100 * len(ordered)))
    return ordered[rank - 1]


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie above the nearest-rank q-th percentile."""
    return n - max(1, math.ceil(q / 100 * n))


def highest_supported_percentile(n: int, candidates=(99, 95, 90, 80, 75, 50)) -> float | None:
    """The highest candidate percentile with at least MIN_BEYOND samples
    beyond it, or None when even the lowest candidate lacks them."""
    for q in candidates:
        if samples_beyond(n, q) >= MIN_BEYOND:
            return q
    return None


def tail(values: list[float], q: float) -> dict:
    """The q-th percentile with the facts needed to trust it."""
    n = len(values)
    return {
        "value": percentile(values, q) if values else float("nan"),
        "q": q,
        "samples": n,
        "beyond": samples_beyond(n, q) if values else 0,
        "supported": bool(values) and samples_beyond(n, q) >= MIN_BEYOND,
    }


def median(values: list[float]) -> float:
    return statistics.median(values) if values else float("nan")


def geomean(values: list[float]) -> float:
    """Geometric mean: the latency of a mixed deck where every shape counts
    in proportion to its share, however far from the middle it sits."""
    return math.exp(statistics.fmean(math.log(v) for v in values)) if values else float("nan")


class Tally:
    """Counts attempts and failures; a wrong answer is a failure."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.reasons: dict[str, int] = {}

    def record(self, ok: bool, reason: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            key = reason.split(":", 1)[0] or "failed"
            self.reasons[key] = self.reasons.get(key, 0) + 1

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0

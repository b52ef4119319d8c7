"""Summary statistics for the benchmark's timed ops.

Pure functions over plain lists, so the tests can check them without
Spark.
"""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass, field

# a tail percentile must leave at least this many samples above it
TAIL_BEYOND = 10


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (numpy's default method)."""
    if not values:
        raise ValueError("quantile of no values")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int, beyond: int = TAIL_BEYOND) -> int:
    """The highest whole percentile with at least ``beyond`` of ``n``
    samples above it: p90 at n=100, p75 at n=40, p50 at n=20.

    Below 2 * ``beyond`` samples no percentile at or above the median
    qualifies; the median is returned, so the tail never reads below it.
    """
    if n <= 0:
        raise ValueError("no samples")
    return max(50, math.floor(100 * (n - beyond) / n))


@dataclass
class OpLog:
    """Outcome of every timed op of one run."""

    latencies: list[float] = field(default_factory=list)
    names: list[str] = field(default_factory=list)
    raised: list[bool] = field(default_factory=list)

    def record(self, name: str, seconds: float, ok: bool) -> None:
        self.names.append(name)
        self.latencies.append(seconds)
        self.raised.append(not ok)

    @property
    def attempted(self) -> int:
        return len(self.names)

    def failed(self, wrong: set[str]) -> int:
        """Ops that raised, plus every op whose query's output failed
        the oracle check: each of those runs returned a wrong result."""
        return sum(
            1 for n, r in zip(self.names, self.raised) if r or n in wrong
        )


def summarize(log: OpLog, wall_s: float, wrong: set[str]) -> dict[str, float]:
    """End-to-end figures of one run's timed window."""
    ok = [t for t, r in zip(log.latencies, log.raised) if not r]
    if not ok:
        raise ValueError("no timed op succeeded")
    pct = tail_percentile(len(ok))
    return {
        "ops_per_s": log.attempted / wall_s,
        "latency_p50_s": statistics.median(ok),
        "latency_tail_s": quantile(ok, pct / 100),
        "tail_percentile": pct,
        "samples": len(ok),
        "error_rate": log.failed(wrong) / log.attempted,
    }

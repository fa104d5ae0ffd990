"""Percentile helpers shared by the harness and the tests."""

from __future__ import annotations

import math

#: a percentile is reported only when at least this many samples lie beyond it
TAIL_SAMPLES = 10


def percentile(samples: list[float], q: float) -> float:
    """Nearest-rank percentile, ``q`` in (0, 100]."""
    if not samples:
        raise ValueError("percentile of no samples")
    ordered = sorted(samples)
    rank = max(1, math.ceil(q / 100.0 * len(ordered)))
    return ordered[rank - 1]


def supported(n: int, q: float) -> bool:
    """True when ``n`` samples leave at least TAIL_SAMPLES beyond the q-th
    percentile: p95 needs 200 samples, p99 needs 1000."""
    return n * (100.0 - q) / 100.0 >= TAIL_SAMPLES - 1e-9


def tail(samples: list[float], q: float = 95.0) -> float | None:
    """The q-th percentile, or None when too few samples support it."""
    return percentile(samples, q) if supported(len(samples), q) else None

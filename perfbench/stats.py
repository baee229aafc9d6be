"""Summary statistics for the benchmark's timings.

Every end-to-end timing is reported as a median plus the highest
percentile that still has at least ten samples beyond it, together with
the sample count, so a tail figure is never read off two or three
samples. Wall times are taken net of CPU steal (``unstolen``) first.
"""

from __future__ import annotations

from dataclasses import dataclass

TAIL_MIN_BEYOND = 10


def median(samples: list[float]) -> float:
    if not samples:
        raise ValueError("median of no samples")
    s = sorted(samples)
    n = len(s)
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2


@dataclass(frozen=True)
class Tail:
    """The sample at ``percentile``; ``beyond`` samples are larger-ranked."""

    value: float
    percentile: float
    beyond: int


def tail(samples: list[float], min_beyond: int = TAIL_MIN_BEYOND) -> Tail | None:
    """The highest percentile with at least ``min_beyond`` samples
    beyond it: with the samples sorted, the one at rank ``n - min_beyond``
    (1-based), whose percentile is ``100 * rank / n``. ``None`` when
    there are too few samples for any such percentile."""
    n = len(samples)
    rank = n - min_beyond
    if rank < 1:
        return None
    s = sorted(samples)
    return Tail(value=s[rank - 1], percentile=100.0 * rank / n, beyond=n - rank)


def summarize(samples: list[float]) -> dict:
    """Median, tail and sample count of one timing, as the report prints it."""
    t = tail(samples)
    return {
        "p50": median(samples),
        "tail": None if t is None else t.value,
        "tail_percentile": None if t is None else round(t.percentile, 2),
        "samples": len(samples),
    }


def unstolen(seconds: float, j0: tuple, j1: tuple) -> float:
    """``seconds`` net of CPU steal between two ``(busy, steal, ...)``
    jiffy readings of the whole machine: scaled by the share of its
    busy-or-stolen CPU time in between that the hypervisor did not take."""
    busy, steal = j1[0] - j0[0], j1[1] - j0[1]
    return seconds * busy / (busy + steal) if busy + steal > 0 else seconds

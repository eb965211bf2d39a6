"""Pure-Python measurement helpers: percentiles, the freshness join and
open-loop lateness accounting. No Spark here, so the rules are unit
tested directly (perfbench/tests/test_stats.py)."""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass
from datetime import datetime

# a percentile is reported only if at least this many samples lie beyond it
MIN_BEYOND = 10
MISSING = math.inf  # a failed or still-pending operation misses every limit


class TooFewSamples(ValueError):
    """Raised when a percentile would have fewer than MIN_BEYOND samples
    beyond it — the workload is sized too small for that percentile."""


def samples_needed(p: float, beyond: int = MIN_BEYOND) -> int:
    """Smallest sample count n for which percentile ``p`` has at least
    ``beyond`` samples beyond its nearest-rank position."""
    n = 1
    while n - math.ceil(p / 100.0 * n) < beyond:
        n += 1
    return n


def percentile(values, p: float, beyond: int = MIN_BEYOND) -> float:
    """Nearest-rank percentile that refuses to report from a thin tail.

    Missing samples (``MISSING``) count in n and sort past every real
    one, so a failed operation pushes the percentile up instead of
    vanishing."""
    vs = sorted(values)
    n = len(vs)
    if n == 0:
        raise TooFewSamples(f"p{p:g} of no samples")
    rank = max(1, math.ceil(p / 100.0 * n))
    if n - rank < beyond:
        raise TooFewSamples(
            f"p{p:g} of {n} samples has {n - rank} beyond it; "
            f"need {beyond} (n >= {samples_needed(p, beyond)})"
        )
    return vs[rank - 1]


def highest_percentile(values, candidates=(99, 95, 90, 75, 50)) -> str | None:
    """The highest candidate percentile the sample supports, formatted
    with the sample count (None when even the median is too thin)."""
    n = len(values)
    for p in candidates:
        if n >= samples_needed(p):
            return f"p{p}={percentile(values, p):.4f}s (n={n})"
    return None


def median(values) -> float:
    return float(statistics.median(values))


@dataclass(frozen=True)
class Segment:
    """One WAL segment the open-loop generator lands: events with lsn in
    [lo, hi), due at ``due`` (wall clock), landed at ``landed``."""

    lo: int
    hi: int
    due: float
    landed: float | None = None


def lateness(segments) -> list[float]:
    """How late the generator ran, per landed segment (never negative:
    landing early is impossible by construction, and clock jitter below
    zero is clamped). Unlanded segments are skipped — they are counted
    as missing by ``freshness``, not here."""
    return [
        max(0.0, s.landed - s.due) for s in segments if s.landed is not None
    ]


def epoch_start(progress: dict) -> float:
    """Wall-clock start (epoch seconds) of a streaming epoch, from the
    ISO timestamp in its ``StreamingQueryProgress`` report."""
    return datetime.fromisoformat(progress["timestamp"].replace("Z", "+00:00")).timestamp()


def freshness(segments, ledger, committed_at) -> list[float]:
    """Per-segment freshness: the ``committed_at`` of the first snapshot
    whose ledger row covers the segment, minus the segment's due time.

    ``ledger`` rows are ``(lo, hi, snapshot_id, rows)`` as
    ``SnapshotTable.applied_ranges()`` returns them; ``committed_at``
    maps snapshot id → wall-clock commit time (from ``snapshots()``).
    A segment no ledger row covers is still pending: ``MISSING``."""
    rows = sorted(
        (committed_at[int(r[2])], int(r[0]), int(r[1]))
        for r in ledger
        if int(r[2]) in committed_at
    )
    out = []
    for s in segments:
        t = next((c for c, lo, hi in rows if lo <= s.lo and s.hi <= hi), None)
        out.append(MISSING if t is None else t - s.due)
    return out


def applied_prefix(ledger) -> int:
    """End of the contiguous lsn prefix [first_lo, end) the ledger
    covers. Raises if rows overlap or leave a gap — the benchmark's
    writers apply contiguous ranges, so either is a correctness fault."""
    spans = sorted((int(r[0]), int(r[1])) for r in ledger)
    if not spans:
        raise ValueError("empty ledger")
    end = spans[0][1]
    for lo, hi in spans[1:]:
        if lo != end:
            kind = "overlap" if lo < end else "gap"
            raise ValueError(f"ledger {kind} at lsn {min(lo, end)}")
        end = hi
    return end

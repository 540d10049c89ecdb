"""Pure helpers for the benchmark: percentiles, span self time, page lag,
drain walls and failure accounting. Nothing here imports Spark, so the tests run without it.
"""

from __future__ import annotations

import math
from collections.abc import Container, Iterable, Mapping, Sequence
from dataclasses import dataclass, field

# Percentiles the tail rule may pick, highest first.
TAIL_GRID = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values: Sequence[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    return ordered[_rank(p, len(ordered)) - 1]


def _rank(p: float, n: int) -> int:
    # Rounding first keeps 99.9% of 10000 at rank 9990, not 9991.
    return max(1, math.ceil(round(p / 100.0 * n, 9)))


def tail_percentile(
    values: Sequence[float], min_beyond: int = 10, grid: Sequence[float] = TAIL_GRID
) -> tuple[float, float] | None:
    """The highest percentile in ``grid`` with at least ``min_beyond``
    samples strictly above its nearest rank, as ``(p, value)``; ``None``
    when even the median has fewer beyond it."""
    n = len(values)
    for p in grid:
        if n - _rank(p, n) >= min_beyond:
            return p, percentile(values, p)
    return None


@dataclass(frozen=True)
class Span:
    span_id: int
    parent: int | None
    name: str
    start: float
    end: float


def self_times(spans: Sequence[Span]) -> dict[str, float]:
    """Per span name, the summed self time: each span's duration minus the
    part of its interval that its children cover. Overlapping children
    count once, and a child's part outside its parent does not count."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered = 0.0
        cur_start = cur_end = None
        for c in sorted(children.get(s.span_id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_end is None or lo > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = lo, hi
            else:
                cur_end = max(cur_end, hi)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
    return out


def pages_in_batch(start: Mapping, end: Mapping) -> dict[str, range]:
    """Page indices a micro-batch covers, per symbol, from the source's
    ``{"pages": {symbol: consumed_count}}`` start and end offsets (a missing
    or empty start means nothing consumed yet)."""
    consumed = (start or {}).get("pages", {})
    out = {}
    for sym, hi in (end or {}).get("pages", {}).items():
        lo = int(consumed.get(sym, 0))
        if int(hi) > lo:
            out[sym] = range(lo, int(hi))
    return out


def page_lags(
    batches: Iterable[tuple[Mapping, Mapping, float]],
    created: Mapping[tuple[str, int], float],
) -> tuple[dict[tuple[str, int], float], list[tuple[str, int]]]:
    """Lag of each page from its creation stamp to the sink commit of the
    batch that emitted it.

    ``batches`` holds ``(start_offset, end_offset, commit_time)`` per
    micro-batch; ``created`` maps ``(symbol, page_index)`` to the page's
    creation stamp on the same clock. Returns the lag per emitted page and
    the pages that no batch emitted, in sorted order. A page covered by
    two batches (a replay) keeps its first emission.
    """
    lags: dict[tuple[str, int], float] = {}
    for start, end, commit in batches:
        for sym, idx in pages_in_batch(start, end).items():
            for i in idx:
                key = (sym, i)
                if key in created and key not in lags:
                    lags[key] = commit - created[key]
    missing = sorted(k for k in created if k not in lags)
    return lags, missing


def drain_wall(
    batches: Iterable[tuple[Mapping, Mapping, float, float]],
    pages: Container[tuple[str, int]],
) -> float:
    """Wall of draining ``pages``: from the start of the first micro-batch
    that read any of them to the commit of the last one.

    ``batches`` holds ``(start_offset, end_offset, start_time, commit_time)``
    per micro-batch, with offsets as in :func:`pages_in_batch`.
    """
    spans = [
        (t0, t1)
        for start, end, t0, t1 in batches
        if any((sym, i) in pages for sym, idx in pages_in_batch(start, end).items() for i in idx)
    ]
    if not spans:
        raise ValueError("no batch read the pages")
    return max(t1 for _, t1 in spans) - min(t0 for t0, _ in spans)


@dataclass
class Ledger:
    """Attempted and failed operations, with the reason for each failure."""

    attempted: int = 0
    failures: list[str] = field(default_factory=list)

    def record(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(what)

    @property
    def failed(self) -> int:
        return len(self.failures)

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0

"""Summary statistics and output digests for the benchmark."""

from __future__ import annotations

import hashlib
import math
import statistics
from typing import Iterable, Sequence

from tools.oracle_check import frame_key

TAIL_MIN_BEYOND = 10  # samples that must lie beyond a reported tail percentile


def median(values: Sequence[float]) -> float:
    return float(statistics.median(values))


def tail_percentile(n: int, min_beyond: int = TAIL_MIN_BEYOND) -> int | None:
    """Highest whole percentile with at least ``min_beyond`` of ``n``
    samples above it, or None when ``n`` is too small for any."""
    if n <= min_beyond:
        return None
    return math.floor(100 * (n - min_beyond) / n)


def percentile(values: Sequence[float], pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``pct`` percent of the samples at or below it."""
    ordered = sorted(values)
    rank = max(1, math.ceil(pct / 100 * len(ordered)))
    return float(ordered[rank - 1])


def frame_digest(cols: Sequence[str], rows: Iterable[Sequence]) -> str:
    """Order-insensitive digest of a result frame: column names sorted,
    rows canonicalised and sorted the way ``tools/oracle_check.py``
    compares Spark with DuckDB, so equal frames hash equal whatever the
    engine, row order or column order."""
    h = hashlib.sha256(repr(sorted(cols)).encode())
    for row in frame_key([tuple(r) for r in rows], list(cols)):
        h.update(repr(row).encode())
    return h.hexdigest()

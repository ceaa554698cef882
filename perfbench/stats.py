"""Pure helpers: percentiles, result canonicalisation and digests.

Nothing here touches Spark, so the rules the benchmark reports by can be
tested on their own (see tests/test_helpers.py).
"""

from __future__ import annotations

import hashlib
import math
import statistics
from collections.abc import Iterable, Sequence

#: a tail percentile is reported only if at least this many samples lie
#: beyond it; with fewer, the "tail" is one or two unlucky samples
TAIL_MIN_BEYOND = 10

#: the percentiles a tail may be reported at, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values: Sequence[float], pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least `pct`% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    return ordered[_rank(pct, len(ordered)) - 1]


def tail_percentile(n: int) -> float | None:
    """The highest percentile of TAIL_LADDER that has at least
    TAIL_MIN_BEYOND of `n` samples beyond it, or None."""
    for pct in TAIL_LADDER:
        if n - _rank(pct, n) >= TAIL_MIN_BEYOND:
            return pct
    return None


def _rank(pct: float, n: int) -> int:
    """1-based nearest rank of `pct` among `n` samples (rounded first, so
    float error in pct * n cannot push an exact rank up by one)."""
    return max(1, math.ceil(round(pct * n / 100.0, 9)))


def median(values: Iterable[float]) -> float:
    return statistics.median(list(values))


def ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def failed_ratio(attempted: int, failed: int) -> float:
    """Failed or wrong operations over attempted ones."""
    if attempted < 1:
        raise ValueError("no operation attempted")
    return failed / attempted


# -- result canonicalisation --------------------------------------------


def canon_cell(v) -> str:
    """One engine-neutral text form per value: floats to 9 significant
    digits (two engines may sum doubles in another order), timestamps to
    microseconds, bytes to hex."""
    if v is None:
        return "<null>"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return "<null>" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if hasattr(v, "strftime"):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    return str(v)


def canon_rows(rows: Iterable[Sequence], ordered: bool = False) -> list[str]:
    """Rows as canonical text lines; sorted unless the result's order is
    part of its meaning (ORDER BY)."""
    lines = ["\x1f".join(canon_cell(v) for v in row) for row in rows]
    return lines if ordered else sorted(lines)


def digest(rows: Iterable[Sequence], ordered: bool = False) -> str:
    """SHA-256 over the canonical rows: equal for equal results, and for an
    unordered result independent of row order."""
    h = hashlib.sha256()
    for line in canon_rows(rows, ordered):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()

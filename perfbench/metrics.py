"""Pure metric arithmetic for the benchmark: latency percentiles, failure
accounting, interval unions and metric-name checks. No Spark imports, so
the unit tests run without a JVM."""

from __future__ import annotations

import math
import re
from dataclasses import dataclass, field

# A result name: starts with a letter or digit, then letters, digits,
# '_', '.' or '-', at most 64 characters in all.
NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

# Candidate tail percentiles, highest last.
TAIL_GRID = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def valid_name(name: str) -> bool:
    return NAME_RE.fullmatch(name) is not None


def _rank(p: float, n: int) -> int:
    """1-based nearest-rank index of the p-th percentile of n samples."""
    # round first: 99.9 / 100 * 10000 is 9990.000000000002 in floating point
    return max(1, math.ceil(round(p * n / 100.0, 9)))


def tail_percentile(n: int) -> float | None:
    """The highest percentile in TAIL_GRID with at least MIN_BEYOND of
    ``n`` samples strictly beyond its nearest-rank position, or None when
    even the median has fewer than that beyond it."""
    best = None
    for p in TAIL_GRID:
        if n - _rank(p, n) >= MIN_BEYOND:
            best = p
    return best


def percentile(samples: list[float], p: float) -> float:
    """Nearest-rank percentile (a value that was actually measured)."""
    ordered = sorted(samples)
    return ordered[_rank(p, len(ordered)) - 1]


def samples_beyond(n: int, p: float) -> int:
    return n - _rank(p, n)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end] intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if end <= start:
            continue
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


@dataclass
class Outcomes:
    """Executions attempted and failed, by failure kind. An execution that
    raised, ran past its time limit or disagreed with the oracle counts as
    failed exactly once."""

    attempted: int = 0
    failures: dict[str, int] = field(
        default_factory=lambda: {"error": 0, "timeout": 0, "mismatch": 0}
    )
    failed_keys: dict[str, str] = field(default_factory=dict)

    def record(self, key: str, failure: str | None, detail: str = "") -> None:
        self.attempted += 1
        if failure is None:
            return
        self.failures[failure] += 1
        self.failed_keys.setdefault(key, f"{failure}: {detail}"[:300])

    @property
    def failed(self) -> int:
        return sum(self.failures.values())

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0

"""Pure arithmetic behind the benchmark's metrics (no Spark imports)."""

from __future__ import annotations

import hashlib
import math
import random

#: A tail percentile must leave at least this many samples above it.
TAIL_MIN_BEYOND = 10


def query_order(queries: list[str], seed: int, pass_no: int) -> list[str]:
    """The order in which pass ``pass_no`` visits ``queries``.

    A pure function of ``(seed, pass_no)`` and the query set: the same
    seed gives the same sequence of passes in every run, on every
    interpreter (``random.Random`` seeded from a digest, not ``hash``)."""
    key = hashlib.sha256(f"{seed}:{pass_no}".encode()).digest()
    order = sorted(queries)
    random.Random(int.from_bytes(key[:8], "big")).shuffle(order)
    return order


def interval_union(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the union of ``[start, end]`` intervals.

    Overlapping and nested intervals count once; empty or inverted ones
    count zero.  This is the time at least one stage was active."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def tail_percentile(n: int, min_beyond: int = TAIL_MIN_BEYOND) -> int | None:
    """Highest whole percentile ``p`` with at least ``min_beyond`` of ``n``
    samples strictly above its rank, or ``None`` when ``n`` is too small.

    With the nearest-rank definition the ``p``-th percentile is the
    ``ceil(p/100 * n)``-th smallest sample, which leaves
    ``n - ceil(p/100 * n)`` samples beyond it."""
    for p in range(99, 0, -1):
        if n - math.ceil(p * n / 100) >= min_beyond:
            return p
    return None


def percentile(samples: list[float], p: int) -> float:
    """Nearest-rank ``p``-th percentile of ``samples``."""
    ordered = sorted(samples)
    rank = max(1, math.ceil(p * len(ordered) / 100))
    return ordered[rank - 1]


def error_rate(attempted: int, failed: int) -> float:
    """Failed executions over attempted ones (0 when nothing ran)."""
    if failed > attempted:
        raise ValueError(f"failed ({failed}) exceeds attempted ({attempted})")
    return failed / attempted if attempted else 0.0

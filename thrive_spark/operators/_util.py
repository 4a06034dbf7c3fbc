"""Shared helpers for oracle-parity arithmetic.

The driver compares Spark results to DuckDB with an *exact* value
hash, so any aggregate whose floating-point summation order is
engine- or schedule-dependent must be made deterministic. Plain double
sums are not even self-consistent across Spark runs (partial-merge
order varies with task timing), and DECIMAL(38,10) accumulation costs
~3× in the hot path (measured at sf0.1).

The recipe used everywhere: **fixed-point long summation** —
``sum(floor(x*10^4 + 0.5))/10^4``. Every step (multiply, add, floor)
is IEEE-deterministic and identical in Spark and DuckDB; the sum is
exact integer arithmetic at any scale and any merge order; whole-stage
codegen sums longs faster than doubles. ``floor(x+0.5)`` is used
instead of ``round`` because the engines disagree on round-half mode
(Spark HALF_UP on exact decimal expansion, DuckDB half-away on the
double) — floor has no mode.

Semantics note: this computes the sum of inputs pre-rounded to 4
decimals, which for money-scale data is the natural fixed-point
semantics. Headroom: the scaled sum must stay under 2^63 — at 10^4
scaling that is ~9·10^14 in column units, fine up to ~10^9 rows of
~10^5-magnitude values per group; beyond that, widen to DECIMAL.
"""

from __future__ import annotations

import os

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(38,10)"
SCALE = 10000


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def fixed(col: Column | str, scale: int = SCALE) -> Column:
    """x → floor(x*scale + 0.5) as long (engine-exact fixed point)."""
    return F.floor(_c(col) * scale + 0.5).cast("long")


def dsum(col: Column | str, scale: int = SCALE) -> Column:
    """Order-insensitive engine-exact sum of doubles (→ double)."""
    return F.sum(fixed(col, scale)) / float(scale)


def dsum_over(col: Column | str, w, scale: int = SCALE) -> Column:
    """Windowed engine-exact sum (DuckDB evaluates sliding frames with
    segment trees — different association order than Spark)."""
    return F.sum(fixed(col, scale)).over(w) / float(scale)


def r4(col: Column | str, nd: int = 4) -> Column:
    return F.round(_c(col), nd)


def osum(expr: str, scale: int = SCALE) -> str:
    """DuckDB SQL twin of :func:`dsum`."""
    return (
        f"sum(CAST(floor(({expr}) * {scale} + 0.5) AS BIGINT)) / {scale}.0"
    )


def osum_over(expr: str, w: str, scale: int = SCALE) -> str:
    """DuckDB SQL twin of :func:`dsum_over` (``w`` is the window name)."""
    return (
        f"sum(CAST(floor(({expr}) * {scale} + 0.5) AS BIGINT)) OVER {w} / {scale}.0"
    )


def ffix(col: Column | str, nd: int = 4) -> Column:
    """Engine-exact output rounding: floor(x·10^nd + 0.5)/10^nd.

    For a double that is already bit-identical across engines (every
    upstream op deterministic), this emits the 4-decimal presentation
    value without `round`'s engine-divergent half mode.
    """
    s = 10**nd
    return F.floor(_c(col) * s + 0.5) / float(s)


def ofix(expr: str, nd: int = 4) -> str:
    """DuckDB SQL twin of :func:`ffix`."""
    s = 10**nd
    return f"floor(({expr}) * {s} + 0.5) / {s}.0"


def oround(expr: str, nd: int = 4) -> str:
    """DuckDB round with the float→double cast (SURVEY §2: DuckDB round
    on FLOAT leaves float32 artifacts)."""
    return f"round(CAST(({expr}) AS DOUBLE), {nd})"


#: Below this row count, iterative-loop state (edge lists, label/rank
#: tables) is laid out on a single partition: per-round scheduler/task
#: fixed cost dominates on toy graphs (measured ~2x/round), and one
#: task of <=2M narrow rows is well under an executor's memory.  Above
#: it, the natural wide partitioning is kept — at 100 TB a near-dup
#: edge list is billions of rows and a single-partition round would
#: serialize them through one core (r5 verdict scale flag).
SMALL_ITER_STATE_MAX_ROWS = 2_000_000


#: process-lifetime store behind :func:`measured`, keyed by
#: ``(name, sf_dir, table identity)``
_MEASURED: dict = {}


def _table_identity(sf_dir: str) -> tuple:
    """``(file name, size, mtime_ns)`` of every ``*.parquet`` table in
    ``sf_dir``: one directory scan, no Spark call."""
    with os.scandir(sf_dir) as it:
        return tuple(sorted(
            (e.name, e.stat().st_size, e.stat().st_mtime_ns)
            for e in it
            if e.name.endswith(".parquet")
        ))


def measured(name: str, sf_dir: str | None, fn):
    """Memoized ``fn()``: a plan-shape statistic measured over the
    tables of ``sf_dir`` (a row count, a split count, a max block
    size) that a regime switch compares against its threshold.

    Repeated invocations over unchanged input (warm bench passes,
    driver retries) skip the measuring job. The key includes each
    table's name, size and mtime, so rewriting a table under the same
    dir makes the next call measure again. Only the measured value is
    stored; callers read their thresholds at call time. With
    ``sf_dir=None`` (an input that is not a table of a dir) ``fn``
    runs on every call."""
    if sf_dir is None:
        return fn()
    key = (name, sf_dir, _table_identity(sf_dir))
    if key not in _MEASURED:
        _MEASURED[key] = fn()
    return _MEASURED[key]


def compact_iter_state(
    df, small_max_rows: int | None = None, cache_key=None
):
    """Materialize loop-invariant state once and pick its layout by
    MEASURED size, not by assumption.

    Returns ``(df, n_rows)``.  The upstream derivation runs exactly
    once (``localCheckpoint`` first), so the sizing ``count()`` is a
    cheap scan of materialized blocks, not a recompute; the
    small-regime ``coalesce(1)`` is a narrow op on top of the
    checkpoint, not a second materialization.  ``small_max_rows=None``
    reads :data:`SMALL_ITER_STATE_MAX_ROWS` at call time (tests force
    the wide path by monkeypatching it to 0). ``cache_key=(name,
    sf_dir)``, for a derivation of the tables in ``sf_dir``, memoizes
    the count through :func:`measured`; the localCheckpoint still
    happens per call, because the loop consumes those blocks."""
    if small_max_rows is None:
        small_max_rows = SMALL_ITER_STATE_MAX_ROWS
    df = df.localCheckpoint()
    name, sf_dir = cache_key or (None, None)
    n = measured(f"compact_iter_state:{name}", sf_dir, df.count)
    if n <= small_max_rows:
        df = df.coalesce(1)
    return df, n


def unit_rows(x):
    """Row-normalize a 2-D numpy array, leaving zero-norm rows ZERO
    instead of dividing by zero (r12 verdict #2): a zero vector has no
    direction, a zero row can never win a cosine comparison, and the
    masked divide keeps the ANN builders free of numpy
    ``invalid value encountered in divide`` RuntimeWarnings — the
    numpy twin of functions/vectors.py's NONZERO_EMB_SQL guard."""
    import numpy as np

    n = np.linalg.norm(x, axis=1, keepdims=True)
    out = np.zeros_like(x, dtype=np.float64)
    np.divide(x, n, out=out, where=n > 0)
    return out


def fan_out(df, target: int | None = None, cache_key=None):
    """Widen a NARROW scan to the session's core count before a heavy
    per-row map stage (r13). A small or single parquet file arrives as
    ONE input split, serializing md5/shingle/fold compute through one
    core no matter how many the session has; at real scale the input
    already lands in more splits than cores and this is a no-op — it
    never SHRINKS partitioning. Costs one round-robin shuffle of the
    projected columns, so call it only in front of map work that
    dominates that shuffle (per-shingle hashing, signature folds,
    tokenizer passes). Explicit-N repartition is deliberately used:
    AQE would coalesce a small hash-shuffle back to one partition.

    The ``df.rdd.getNumPartitions()`` probe is a driver-side physical
    planning pass on every call; pass ``cache_key=(name, sf_dir)``
    (e.g. ``("documents", sf_dir)``) to memoize the measured split
    count through :func:`measured`. Keyless calls probe every time."""
    if df.isStreaming:  # .rdd is illegal on a streaming DF; micro-
        return df       # batch sizing is the engine's job anyway
    sc = df.sparkSession.sparkContext
    n = target or sc.defaultParallelism
    name, sf_dir = cache_key or (None, None)
    cur = measured(
        f"fan_out:{name}", sf_dir, lambda: df.rdd.getNumPartitions()
    )
    if cur < n:
        df = df.repartition(n)
    return df

"""Sliding-window moments sketch: any-window quantiles and exact
distribution statistics from k+3 doubles PER TIME BUCKET.

Fifth member of the sliding family (sliding_hll.py: any-window
distinct; sliding_cms.py: top-k; sliding_theta.py: set algebra;
sliding_dd.py: relative-error quantiles). Power sums add and min/max
fold across time buckets (operators/moments.py), so a per-grain-bucket
state (*keys, bucket_ts, n, mn, mx, m1..mk, ...) answers ANY trailing
window with one conditional-sum pass — and the state is the smallest
of the family by far: k+3 numbers per (group, bucket) vs a DD bucket
table or an HLL register set. A year of daily buckets for a million
groups is ~4 GB of doubles; "mean/p99/skewness over the last 7/30/365
days, asked after the fact" never rescans raw rows.

Exactness contract: the window's n/min/max/mean/variance/skew/kurtosis
are EXACT for grain-aligned windows (sum regrouping is float-
associative, so equality is to fp-addition order, asserted at 1e-12 in
tests); quantiles carry the moments-sketch rank-accuracy contract
(|P(X <= est) - q| <= eps, kernel-measured <= 0.006 on continuous
shapes). Unaligned windows include the partially-covered oldest bucket
in full (family contract). Coarsen is the DD kind — no weakened
guarantee: sums re-grouped to a coarser grain serve aligned windows
identically.

The state is the core's moments spec (operators/sliding.py: no cells,
fold the sums with min/max); the cell build shared with
streaming/sliding_moments_stream.py, merge, expire, coarsen and the
windowed read are the core's.
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hyper_spark.kernel.moments import MAX_K
from hyper_spark.operators import sliding as core
from hyper_spark.operators.moments import moments_quantiles, moments_stats

__all__ = [
    "sliding_moments_table",
    "sliding_moments_merge",
    "sliding_moments_expire",
    "sliding_moments_coarsen",
    "sliding_moments_quantiles",
    "sliding_moments_stats",
]


def _sum_cols(cols: Sequence[str]) -> list[str]:
    """The additive columns of a state: m1..mk (, n_pos, lm1..lmk)."""
    k = sum(1 for c in cols if c.startswith("m") and c[1:].isdigit())
    if k == 0:
        raise ValueError("not a sliding moments state (no m1..mk columns)")
    out = [f"m{i}" for i in range(1, k + 1)]
    if "n_pos" in cols:
        out += ["n_pos"] + [f"lm{i}" for i in range(1, k + 1)]
    return out


def _fold(cols: Sequence[str]) -> list[Column]:
    return [
        F.sum("n").alias("n"),
        F.min("mn").alias("mn"),
        F.max("mx").alias("mx"),
        *[F.sum(c).alias(c) for c in _sum_cols(cols)],
    ]


SPEC = core.SlidingSpec("sliding moments", (), _fold)


def moments_cells(
    df: DataFrame,
    ts_col: str,
    keys: Sequence[str],
    col: str | Column,
    k: int,
    grain: str,
    log_moments: bool,
    watermark: str = "1 hour",
) -> DataFrame:
    """One moments sketch per (keys, grain bucket): DataFrame[*keys,
    bucket_ts, n, mn, mx, m1..mk (, n_pos, lm1..lmk)] — the cell build
    shared by the batch table and its streaming twin."""
    if not 2 <= k <= MAX_K:
        raise ValueError(f"k must be in [2, {MAX_K}], got {k}")
    c = F.col(col) if isinstance(col, str) else col
    v = F.col("__v")
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.min(v).alias("mn"),
        F.max(v).alias("mx"),
        *[F.sum(F.pow(v, i)).alias(f"m{i}") for i in range(1, k + 1)],
    ]
    if log_moments:
        lx = F.when(v > 0, F.log(v))
        aggs.append(F.count(lx).alias("n_pos"))
        aggs.extend(F.sum(F.pow(lx, i)).alias(f"lm{i}") for i in range(1, k + 1))
    return core.build_cells(
        df, ts_col, keys, grain, watermark, c.isNotNull(), [c.alias("__v")], [], aggs
    )


def sliding_moments_table(
    df: DataFrame,
    ts_col: str,
    keys: Sequence[str],
    col: str | Column,
    k: int = 8,
    grain: str = "1 day",
    log_moments: bool = True,
) -> DataFrame:
    """Build the sliding state: DataFrame[*keys, bucket_ts, n, mn, mx,
    m1..mk (, n_pos, lm1..lmk)] — one moments sketch per (group,
    grain-bucket), moments_by's arithmetic exactly. Pure codegen; the
    k is carried by the schema itself, so mixed-k states fail any
    union loudly instead of silently mis-merging."""
    return moments_cells(df, ts_col, keys, col, k, grain, log_moments)


def sliding_moments_merge(
    states: Sequence[DataFrame], keys: Sequence[str]
) -> DataFrame:
    """Merge same-(k, grain) shard/checkpoint states: sums add, min/max
    fold per (group, bucket) — the resumable-fold contract."""
    return core.merge(SPEC, states, keys)


sliding_moments_expire = core.expire


def sliding_moments_coarsen(
    state: DataFrame,
    keys: Sequence[str],
    older_than_ts: str,
    grain: str,
) -> DataFrame:
    """Tiered retention: re-bucket history strictly OLDER than the
    cutoff to a coarser grain. Sums re-group (the same fold the query
    performs), so coarse-aligned windows are served identically from
    ~grain-ratio fewer rows — the DD kind of coarsen, no weakened
    guarantee. Cutoff must sit on a coarse boundary (the core's
    cutoff-alignment contract, operators/sliding.py)."""
    return core.coarsen(SPEC, state, keys, older_than_ts, grain)


def _windowed_state(
    state: DataFrame,
    keys: Sequence[str],
    t_ref: str,
    windows: Mapping[str, str],
) -> DataFrame:
    """One conditional-sum pass producing a (keys + window)-keyed
    moments sketch table covering every requested trailing window."""
    sum_cols = _sum_cols(state.columns)

    def aggs(inw: Column) -> dict[str, Column]:
        return {
            "n": F.sum(F.when(inw, F.col("n")).otherwise(0)),
            "mn": F.min(F.when(inw, F.col("mn"))),
            "mx": F.max(F.when(inw, F.col("mx"))),
            **{c: F.sum(F.when(inw, F.col(c)).otherwise(0.0)) for c in sum_cols},
        }

    return core.windowed_read(state, keys, [], t_ref, windows, aggs).filter(
        F.col("n") > 0
    )


def sliding_moments_quantiles(
    state: DataFrame,
    keys: Sequence[str],
    t_ref: str,
    windows: Mapping[str, str],
    qs: Sequence[float] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Quantiles per (group, trailing window) queried at ``t_ref``:
    DataFrame[*keys, window, q, value]. ``windows`` maps label ->
    interval ('7 days'). One conditional-sum pass covers every window;
    the maxent solve then runs once per (group, window) row."""
    keys = list(keys)
    stacked = _windowed_state(state, keys, t_ref, windows)
    return moments_quantiles(stacked, [*keys, "window"], list(qs))


def sliding_moments_stats(
    state: DataFrame,
    keys: Sequence[str],
    t_ref: str,
    windows: Mapping[str, str],
) -> DataFrame:
    """Exact mean/variance/skewness/kurtosis per (group, trailing
    window) — pure Column arithmetic over the window-summed power
    sums, SQL-replayable term by term (moments_stats)."""
    keys = list(keys)
    stacked = _windowed_state(state, keys, t_ref, windows)
    return moments_stats(stacked)

"""Exponentially time-decayed aggregation: trending values and decayed
counts without windows.

The classic streaming-monitoring primitive (Cormode et al., "Forward
Decay: A Practical Time Decay Model for Streaming Systems", ICDE 2009):
each observation at time t contributes weight 2^-((t_ref - t)/half_life)
toward its value's score, so a value's score halves every ``half_life``
of inactivity and recent activity dominates — "what's trending" rather
than "what's frequent", with no window-boundary cliff.

Forward-decay identity (the reason this distributes): decayed score at
reference time T = 2^-(T-t0)/h * sum_i 2^((t_i-t0)/h) for any fixed
origin t0 — the inner sum is ORIGIN-ANCHORED and therefore a plain
mergeable SUM: partials combine across partitions, checkpoints, and
cluster sizes like any other additive aggregate, and re-referencing to
a new T is a scalar multiply, no rescan. (The naive backward form
2^-(T-t)/h bakes T into every partial, which breaks resumability.)

Plan shape: one JVM aggregate — weight expression + groupBy(value) with
map-side combine; top-k via the same two-phase candidate pattern as
heavy_hitters when k is given. Deterministic given (t_ref, half_life),
so the whole operator is SQL-oracle-able.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hyper_spark.operators.sliding import interval_seconds

__all__ = ["decayed_counts", "decayed_topk"]


def _decay_weight(
    ts: Column, t_ref: Column, half_life_s: float, t0: Column
) -> Column:
    # origin-anchored forward weight: 2^((t - t0)/h); the caller scales
    # the aggregate by 2^-((T - t0)/h) once
    return F.pow(
        F.lit(2.0),
        (ts.cast("double") - t0.cast("double")) / F.lit(half_life_s),
    )


def decayed_counts(
    df: DataFrame,
    ts_col: str,
    col: str,
    half_life: str | float,
    by: Sequence[str] = (),
    t_ref: str | None = None,
    weight: str | Column | None = None,
) -> DataFrame:
    """Decayed score per (by, value): DataFrame[*by, col, decayed_count,
    last_seen]. ``half_life`` is seconds (float) or an interval string
    like '1 hour'. ``t_ref`` (ISO timestamp string) defaults to the
    input's max(ts) so the freshest observation has weight 1; pin it
    for reproducible comparisons across runs. ``weight`` optionally
    scales each observation (e.g. bytes, tokens) before decay.

    One aggregate, one shuffle on (by, value); the partials are
    origin-anchored sums (see module doc), so the same code is correct
    under tree merges and resumed builds."""
    hl = _half_life_seconds(df, half_life)
    # TIMESTAMP_NTZ parquet columns cannot cast straight to double;
    # hop through session-tz timestamp first (same as sessionize/resample)
    c, t = F.col(col), F.col(ts_col).cast("timestamp")
    bys = list(by)
    w = (
        F.lit(1.0)
        if weight is None
        else (F.col(weight) if isinstance(weight, str) else weight).cast("double")
    )
    if t_ref is None:
        ref = df.agg(F.max(t).alias("m")).collect()[0]["m"]
        if ref is None:
            raise ValueError("empty input and no t_ref — nothing to anchor")
    else:
        ref = t_ref
    ref_c = F.lit(ref).cast("timestamp")
    # origin = the reference instant itself: weights are 2^((t-T)/h),
    # i.e. already scaled (<= 1 for t <= T) — one expression, no
    # post-multiply needed, while staying a pure additive aggregate
    wexpr = w * _decay_weight(t, ref_c, hl, ref_c)
    return (
        df.filter(c.isNotNull() & t.isNotNull())
        .groupBy(*bys, c.alias(col))
        .agg(
            F.sum(wexpr).alias("decayed_count"),
            F.max(t).alias("last_seen"),
        )
    )


def decayed_topk(
    df: DataFrame,
    ts_col: str,
    col: str,
    half_life: str | float,
    k: int = 10,
    by: Sequence[str] = (),
    t_ref: str | None = None,
) -> DataFrame:
    """The k currently-trending values (per ``by`` group): highest
    decayed score first, ties broken by value for determinism."""
    from pyspark.sql.window import Window

    bys = list(by)
    scored = decayed_counts(df, ts_col, col, half_life, by=bys, t_ref=t_ref)
    if not bys:
        return scored.orderBy(F.desc("decayed_count"), F.col(col)).limit(k)
    w = Window.partitionBy(*bys).orderBy(F.desc("decayed_count"), F.col(col))
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def _half_life_seconds(df: DataFrame, half_life: str | float) -> float:
    if isinstance(half_life, (int, float)):
        hl = float(half_life)
    else:
        # parse interval strings ('1 hour', '30 minutes') JVM-side so
        # the accepted grammar matches window()/watermark exactly
        hl = interval_seconds(df.sparkSession, half_life)
    if hl <= 0:
        raise ValueError(f"half_life must be positive, got {half_life!r}")
    return hl

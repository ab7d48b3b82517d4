"""Streaming forward-decay trending state (windowed anchored partials).

This is the streaming payoff of the forward-decay identity
(operators/decay.py, Cormode et al. ICDE 2009): because decayed scores
are origin-anchored plain SUMS, the streaming build needs no custom
state operator — it is Structured Streaming's native windowed sum
aggregate, JVM codegen end to end, exactly like dd_stream.py.

The naive single-origin stream state overflows: 2^((t - t0)/h) grows
without bound as event time advances past any fixed origin (double
overflow after ~1000 half-lives). The fix is to anchor each partial to
ITS OWN tumbling window's start:

* state per live (keys, value, window) = ``partial`` =
  sum_i w_i * 2^((t_i - window_start)/h) — the exponent is bounded by
  window_length/half_life (guarded <= 900), never by stream age;
* append mode emits each window's FINAL partial at watermark passage;
  late rows inside the watermark fold in like any streaming agg;
* evaluation at ANY reference time T is a batch read over the sink:
  score(v) = sum_w partial_w * 2^((window_start_w - T)/h) — the
  re-referencing is one scalar multiply per window row, no rescan of
  raw history (the lambda shape shared by every sketch sink here);
* windows ended more than ``horizon`` half-lives before T contribute
  < n_w * 2^-horizon and can be pruned with a partition-prunable
  filter on window_end — the bounded-work query path at 100 TB.

Merge/resume: partials for the same (keys, value, window) from any
partitioning, checkpoint, or cluster size combine by addition, so the
sink rows are a mergeable sketch table like the DDSketch bucket rows.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hyper_spark.operators.decay import _half_life_seconds
from hyper_spark.operators.sliding import interval_seconds

__all__ = [
    "streaming_windowed_decay_by",
    "windowed_decayed_counts",
    "windowed_decayed_topk",
]

# 2^900 is comfortably inside double range (max exponent 1023) while
# allowing generous window/half-life ratios
_MAX_WINDOW_HALF_LIVES = 900.0


def streaming_windowed_decay_by(
    df: DataFrame,
    ts_col: str,
    keys: Sequence[str],
    col: str,
    half_life: str | float,
    window: str = "1 day",
    watermark: str = "1 hour",
    weight: str | Column | None = None,
) -> DataFrame:
    """Windowed anchored decay partials per (keys, value, window):
    DataFrame[*keys, col, window_start, window_end, partial, n,
    last_seen]. Works identically on a bounded batch DataFrame (same
    plan minus the watermark), which is what the parity gate exploits.

    ``partial`` is anchored at window_start (see module doc); ``n`` is
    the raw observation count (integer — exact across engines) and
    ``last_seen`` the max event time, both free from the same agg."""
    hl = _half_life_seconds(df, half_life)
    win_s = interval_seconds(df.sparkSession, window)
    if win_s / hl > _MAX_WINDOW_HALF_LIVES:
        raise ValueError(
            f"window/half_life = {win_s / hl:.0f} half-lives per window "
            f"exceeds {_MAX_WINDOW_HALF_LIVES:.0f} (anchored weights "
            "would overflow double) — use a shorter window or longer "
            "half-life"
        )
    keys = list(keys)
    t = F.col(ts_col).cast("timestamp")
    c = F.col(col)
    w = (
        F.lit(1.0)
        if weight is None
        else (F.col(weight) if isinstance(weight, str) else weight).cast(
            "double"
        )
    )
    win = F.window(F.col(ts_col), window)
    src = df
    if df.isStreaming:
        src = src.withWatermark(ts_col, watermark)
    anchored = w * F.pow(
        F.lit(2.0),
        (t.cast("double") - F.col("__w.start").cast("timestamp").cast("double"))
        / F.lit(hl),
    )
    return (
        src.filter(c.isNotNull() & t.isNotNull())
        .withColumn("__w", win)
        .groupBy(*keys, F.col("__w"), c.alias(col))
        .agg(
            F.sum(anchored).alias("partial"),
            F.count(F.lit(1)).alias("n"),
            F.max(t).alias("last_seen"),
        )
        .select(
            *keys,
            col,
            F.col("__w.start").alias("window_start"),
            F.col("__w.end").alias("window_end"),
            "partial",
            "n",
            "last_seen",
        )
    )


def windowed_decayed_counts(
    sink: DataFrame,
    col: str,
    half_life: str | float,
    t_ref: str,
    by: Sequence[str] = (),
    horizon: float | None = None,
) -> DataFrame:
    """Batch evaluation over the partial sink at reference time
    ``t_ref`` (ISO timestamp string): DataFrame[*by, col,
    decayed_count, n, last_seen]. ``horizon`` (in half-lives) prunes
    windows whose end precedes t_ref by more than that — each pruned
    observation contributed < 2^-horizon, and the filter is a plain
    range predicate on window_end (partition-prunable on a
    window-partitioned sink)."""
    hl = _half_life_seconds(sink, half_life)
    bys = list(by)
    ref = F.lit(t_ref).cast("timestamp")
    src = sink
    if horizon is not None:
        cutoff = ref.cast("double") - F.lit(float(horizon) * hl)
        src = src.filter(
            F.col("window_end").cast("timestamp").cast("double") >= cutoff
        )
    factor = F.pow(
        F.lit(2.0),
        (
            F.col("window_start").cast("timestamp").cast("double")
            - ref.cast("double")
        )
        / F.lit(hl),
    )
    return src.groupBy(*bys, col).agg(
        F.sum(F.col("partial") * factor).alias("decayed_count"),
        F.sum("n").alias("n"),
        F.max("last_seen").alias("last_seen"),
    )


def windowed_decayed_topk(
    sink: DataFrame,
    col: str,
    half_life: str | float,
    t_ref: str,
    k: int = 10,
    by: Sequence[str] = (),
    horizon: float | None = None,
) -> DataFrame:
    """The k hottest values at ``t_ref`` from the partial sink —
    highest decayed score first, value tie-break, per ``by`` group."""
    from pyspark.sql.window import Window

    bys = list(by)
    scored = windowed_decayed_counts(
        sink, col, half_life, t_ref, by=bys, horizon=horizon
    )
    if not bys:
        return scored.orderBy(F.desc("decayed_count"), F.col(col)).limit(k)
    w = Window.partitionBy(*bys).orderBy(F.desc("decayed_count"), F.col(col))
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


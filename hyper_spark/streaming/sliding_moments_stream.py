"""Streaming build for the sliding-window moments state.

Same move as sliding_cms_stream.py: the sliding moments state is
relational (operators/sliding_moments.py — one row of k+3 numbers per
(*keys, grain-bucket)), and every component is a NATIVE windowed
aggregate — COUNT / MIN / MAX / SUM(POW(x, i)) — so the build is
Structured Streaming's plain windowed agg: JVM state store end to end,
watermark expiry free, no custom state operator, no Python anywhere.

Sums and min/max are order-insensitive, so closed buckets match the
batch bucketization of the same rows exactly up to float-addition
associativity (counts and min/max bit-exact, power sums at ~1e-15
relative — the parity pytest asserts both). The sink is directly
queryable by sliding_moments_quantiles / sliding_moments_stats. The
cell build is the batch table's own (operators/sliding_moments.py::
moments_cells over the core's ``build_cells``).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame

from hyper_spark.operators.sliding_moments import moments_cells

__all__ = ["streaming_sliding_moments"]


def streaming_sliding_moments(
    df: DataFrame,
    ts_col: str,
    keys: Sequence[str],
    col: str | Column,
    k: int = 8,
    grain: str = "1 day",
    watermark: str = "1 hour",
    log_moments: bool = True,
) -> DataFrame:
    """Streaming moments rows per (keys, grain window): DataFrame[*keys,
    bucket_ts, n, mn, mx, m1..mk (, n_pos, lm1..lmk)] — the batch
    table's cell build, the exact schema the sliding_moments query
    paths consume. Late rows inside the watermark fold in exactly
    (sum/min/max are order-insensitive); works identically on a
    bounded batch frame, which the parity test exploits."""
    return moments_cells(df, ts_col, keys, col, k, grain, log_moments, watermark)

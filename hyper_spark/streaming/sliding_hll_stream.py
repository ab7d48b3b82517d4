"""Streaming build for the sliding-window HLL state.

Same move as dd_stream.py: because the sliding-HLL state is relational
(operators/sliding_hll.py — rows (*keys, idx, bucket_ts, rho)), the
streaming build is Structured Streaming's NATIVE windowed max
aggregate: state per live (keys, window, idx) is one small int, JVM
state store end to end, watermark expiry for free, no custom state
operator and no Python.

Append rows are each grain-bucket's FINAL (idx, max rho) — integers,
order-insensitive, so they equal the batch bucketization of the same
rows EXACTLY. The sink is directly queryable by
``sliding_estimates`` (the Pareto front is only a compaction, never a
correctness requirement); run ``sliding_merge([sink_df], keys)``
periodically to compact history to the front — fronts merge
losslessly, so compaction can run incrementally at any cadence, the
checkpoint/rollup shape used across the library. The cell build is the
batch table's own (operators/sliding_hll.py::register_cells over the
core's ``build_cells``); only the front filter is left to the merge.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame

from hyper_spark.operators.sliding_hll import register_cells

__all__ = ["streaming_sliding_register_by"]


def streaming_sliding_register_by(
    df: DataFrame,
    ts_col: str,
    keys: Sequence[str],
    col: str | Column,
    p: int = 14,
    grain: str = "1 hour",
    watermark: str = "1 hour",
    hash_fn: str = "sha1",
) -> DataFrame:
    """Streaming bucketized register rows per (keys, grain window):
    DataFrame[*keys, idx, bucket_ts, rho] — the batch table's cell
    build before its front filter. Late rows inside the watermark fold
    in exactly (max is order-insensitive); works identically on a
    bounded batch frame, which the parity test exploits."""
    return register_cells(df, ts_col, keys, col, p, grain, hash_fn, watermark)

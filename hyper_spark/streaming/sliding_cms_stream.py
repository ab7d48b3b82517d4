"""Streaming build for the sliding-window CMS cell state.

Same move as sliding_hll_stream.py: the sliding-CMS state is
relational (operators/sliding_cms.py — rows (*keys, bucket_ts, row,
bucket, cnt)), and a grain-bucket's cell count is a plain windowed
COUNT — Structured Streaming's native aggregate, JVM state store end
to end, watermark expiry free, no custom state operator, no Python.
Counts are order-insensitive, so closed buckets equal the batch
bucketization of the same rows EXACTLY (the parity pytest).

Candidates (the enumeration side) stream separately: per-bucket
space-saving top-k (streaming/topk_stream.py::streaming_windowed_topk)
with capacity c emits every item with in-bucket share >= 1/c — the
same Misra-Gries guarantee operators/sliding_cms.py derives from
local_topk_candidates, so a capacity >= the query k preserves the
window-completeness argument. ``sliding_cms_topk`` queries the two
sinks directly. The cell build is the batch table's own
(operators/sliding_cms.py::cms_cells over the core's ``build_cells``).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame

from hyper_spark.operators.sliding_cms import cms_cells

__all__ = ["streaming_sliding_cms_cells"]


def streaming_sliding_cms_cells(
    df: DataFrame,
    ts_col: str,
    keys: Sequence[str],
    col: str | Column,
    grain: str = "1 day",
    depth: int = 5,
    width: int = 2048,
    watermark: str = "1 hour",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Streaming cell rows per (keys, grain window): DataFrame[*keys,
    bucket_ts, row, bucket, cnt, depth, width, hash_fn] — the batch
    table's cell build, the exact schema sliding_cms_topk consumes.
    Late rows inside the watermark fold in exactly (count is
    order-insensitive); works identically on a bounded batch frame,
    which the parity test exploits."""
    return cms_cells(df, ts_col, keys, col, grain, depth, width, hash_fn, watermark)

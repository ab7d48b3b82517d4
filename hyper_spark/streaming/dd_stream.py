"""Event-time windowed streaming DDSketch.

The payoff of keeping DDSketch's state relational (ddsketch.py): the
streaming build needs NO custom state operator at all. Bucket counts
under a tumbling window are exactly Structured Streaming's native
windowed count aggregate, so the whole pipeline — bucketing, windowing,
watermark expiry, state store — is JVM codegen against the built-in
HDFS-backed state store, with none of the applyInPandasWithState
machinery the kernel-blob sketches (KLL/t-digest/HLL/theta) need:

* state per live (keys, window) = its bucket rows (≤ stores×buckets
  integers), dropped by the watermark like any streaming agg;
* append mode emits each window's FINAL bucket table once the
  watermark passes its end — bit-identical to the batch dd_by of the
  same rows (integer counts, order-insensitive), so batch/stream
  parity is exact, not approximate;
* quantile evaluation stays a BATCH read over the sink
  (``dd_quantiles`` with the window columns as extra keys) — the
  lambda-architecture shape: the stream maintains the mergeable state,
  queries run on demand without touching raw history.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hyper_spark.operators.ddsketch import dd_bucket_col, dd_quantiles
from hyper_spark.operators.sliding_dd import dd_mass

__all__ = ["streaming_windowed_dd_by", "windowed_dd_quantiles"]


def streaming_windowed_dd_by(
    df: DataFrame,
    ts_col: str,
    keys: Sequence[str],
    col: str | Column,
    alpha: float = 0.01,
    window: str = "1 hour",
    watermark: str = "10 minutes",
    slide: str | None = None,
    weight: str | Column | None = None,
) -> DataFrame:
    """Streaming DDSketch bucket rows per (keys, tumbling window):
    DataFrame[*keys, window_start, window_end, store, bucket, count].

    ``weight`` mirrors ddsketch.py::dd_by: bucket mass = SUM(weight)
    (still a native windowed agg — a streaming sum instead of a
    streaming count), non-positive/NULL weights contribute nothing,
    and the sink stays directly queryable by ``windowed_dd_quantiles``
    with ``weighted=True`` passed through to ``dd_quantiles``.

    Append-mode rows are final (emitted at watermark passage); late
    rows inside the watermark fold in exactly (counts add); older rows
    are dropped by Spark upstream — the standard watermark contract.
    Works identically on a batch DataFrame (the groupBy is the same
    plan), which is what the parity gate exploits.

    ``slide`` turns the windows SLIDING (e.g. window='1 hour',
    slide='15 minutes' → each row lands in 4 overlapping windows) —
    free here because the state is a native windowed aggregate; the
    blob-state sketches would need explicit window fan-out."""
    c = F.col(col) if isinstance(col, str) else col
    keys = list(keys)
    store, bucket = dd_bucket_col(c, alpha)
    win = (
        F.window(F.col(ts_col), window, slide)
        if slide is not None
        else F.window(F.col(ts_col), window)
    )
    where, prep, mass = dd_mass(weight)
    return (
        df.withWatermark(ts_col, watermark)
        .filter(c.isNotNull() & where)
        .select(
            *keys, F.col(ts_col), store.alias("store"), bucket.alias("bucket"), *prep
        )
        .groupBy(*keys, win.alias("__w"), "store", "bucket")
        .agg(mass.alias("count"))
        .select(
            *keys,
            F.col("__w.start").alias("window_start"),
            F.col("__w.end").alias("window_end"),
            "store",
            "bucket",
            "count",
        )
    )


def windowed_dd_quantiles(
    sink_df: DataFrame,
    qs: Sequence[float],
    keys: Sequence[str] = (),
    alpha: float = 0.01,
    weighted: bool = False,
) -> DataFrame:
    """Batch quantile evaluation over a windowed-bucket sink (the
    output of ``streaming_windowed_dd_by`` written to a table):
    DataFrame[*keys, window_start, window_end, q, est]. ``alpha`` must
    match the build; pass ``weighted=True`` for sinks built with
    ``weight=``."""
    return dd_quantiles(
        sink_df, qs, [*keys, "window_start", "window_end"], alpha,
        weighted=weighted,
    )

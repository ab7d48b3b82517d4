"""Streaming windowed heavy hitters with bounded (space-saving) state.

Per (keys, event-time tumbling window), the state is a space-saving
summary of at most ``capacity`` (value, count, err) counters — the
classic bounded-memory top-k structure (Metwally et al., "Efficient
Computation of Frequent and Top-k Elements in Data Streams"): a new
value beyond capacity evicts the current minimum counter and inherits
its count as overestimation error. Guarantees, independent of stream
length:

- every counter satisfies true_count <= est_count <= true_count + err;
- any value with true frequency > n/capacity is IN the summary;
- with ``capacity`` >= the window's distinct-value count, counts are
  EXACT and err == 0 (what the oracle gate exploits).

A window's summary is emitted ONCE — when the event-time watermark
passes the window end (no row can still arrive) — as its final top-k,
then the state drops; the shared ``streaming/stateful.py::stateful_fold``
owns the window, the state read/write and the watermark close. State
per live window is O(capacity), so an endless stream holds only
watermark-horizon windows × capacity counters. Rows inside the
watermark fold in order-insensitively (per-batch counts merge into
counters); older rows are dropped by Spark upstream, as with every
watermarked operator.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hyper_spark.streaming.stateful import EventTime, stateful_fold

__all__ = ["streaming_windowed_topk"]


def streaming_windowed_topk(
    df: DataFrame,
    ts_col: str,
    keys: Sequence[str],
    col: str,
    k: int = 10,
    capacity: int | None = None,
    window: str = "1 hour",
    watermark: str = "10 minutes",
    output_mode: str = "append",
) -> DataFrame:
    """One row per (keys, window, rank<=k) AFTER the window closes:
    [*keys, window_start, window_end, value, est_count, err_bound,
    rank]. ``value`` is the tracked column cast to string (uniform
    state type). Default ``capacity`` is ``8*k``. Output rows are final
    by construction → append mode.

    Windows still open when a finite replay ends never close (nothing
    advances the watermark past them) — append a far-future sentinel
    row to flush, as with ``streaming_sessionize``."""
    capacity = capacity or 8 * k
    if capacity < k:
        raise ValueError("capacity must be >= k")

    def fold(state, pdfs):
        summary = {v: (c, e) for v, c, e in zip(*state)} if state else {}
        for pdf in pdfs:
            if not len(pdf):
                continue
            for v, c in pdf["__v"].value_counts().items():
                c = int(c)
                if v in summary:
                    cur, err = summary[v]
                    summary[v] = (cur + c, err)
                elif len(summary) < capacity:
                    summary[v] = (c, 0)
                else:
                    # space-saving eviction: the minimum counter's count
                    # becomes the newcomer's overestimation error
                    evict = min(summary.items(), key=lambda t: (t[1][0], t[0]))
                    m_min = evict[1][0]
                    del summary[evict[0]]
                    summary[v] = (m_min + c, m_min)
        vs = list(summary)
        return (vs, [summary[v][0] for v in vs], [summary[v][1] for v in vs]), None

    def close(state, _wm):
        top = sorted(zip(*state), key=lambda t: (-t[1], t[0]))[:k]
        return None, {
            "value": [t[0] for t in top],
            "est_count": [t[1] for t in top],
            "err_bound": [t[2] for t in top],
            "rank": list(range(1, len(top) + 1)),
        }

    return stateful_fold(
        df, keys, F.col(col).isNotNull(), [F.col(col).cast("string").alias("__v")],
        "vals array<string>, counts array<bigint>, errs array<bigint>",
        ["value string", "est_count bigint", "err_bound bigint", "rank int"],
        fold, output_mode, close=close,
        event_time=EventTime(ts_col, watermark, window),
    )

"""Event-time windowed streaming quantiles with watermark expiry, and
the quantile fold both quantile streams share.

Completes the windowed-stream family (distinct sketches →
``streaming_windowed_sketch_by``, heavy hitters →
``streaming_windowed_topk``): per (keys, tumbling window), a KLL or
t-digest sketch accumulates the window's values through the shared
``streaming/stateful.py::stateful_fold``; when the event-time watermark
passes the window end, ONE final row of quantile estimates is emitted
and the state drops. Late rows inside the watermark fold in
order-insensitively (sketch updates commute); older rows are dropped by
Spark upstream. State per live window is the kernel sketch's bounded
summary (KLL O(k·log(n/k)) items, t-digest O(delta) centroids) as the
batch operator's JSON dict, independent of stream length — so an
endless stream holds only watermark-horizon windows.
"""

from __future__ import annotations

import json
from typing import Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hyper_spark.operators.quantiles import _CLASSES, _KINDS, _q_name
from hyper_spark.streaming.stateful import EventTime, stateful_fold

__all__ = ["streaming_windowed_quantiles"]


def quantile_fold(method: str, param: float | None, qs: Sequence[float]):
    """The quantile family for ``stateful_fold``: (fields, fold, load,
    rows). ``fold(state, pdfs)`` → (state, sketch) folds the batch's
    ``__v`` values into the stored sketch, ``load(state)`` reads a
    stored sketch and ``rows(sketch)`` gives its [n, q_XXXX...] row,
    column-named like the batch ``sketch_quantiles``."""
    if method not in ("kll", "tdigest"):
        raise ValueError(f"unknown quantile method {method!r}")
    qs = [float(q) for q in qs]
    names = [_q_name(q) for q in qs]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate quantile probes: {qs}")
    param = 200.0 if param is None else param

    def load(state):
        return _CLASSES[method].from_dict(json.loads(bytes(state[0]).decode()))

    def fold(state, pdfs):
        sk = load(state) if state else _KINDS[method](param)
        for pdf in pdfs:
            if len(pdf):
                sk.update_batch(pdf["__v"].to_numpy(dtype=np.float64))
        return (json.dumps(sk.to_dict()).encode(),), sk

    def rows(sk) -> dict:
        ests = sk.quantiles(qs)
        return {"n": [int(sk.n)], **{nm: [float(e)] for nm, e in zip(names, ests)}}

    return ["n bigint"] + [f"{nm} double" for nm in names], fold, load, rows


def streaming_windowed_quantiles(
    df: DataFrame,
    ts_col: str,
    keys: Sequence[str],
    col: str,
    qs: Sequence[float],
    method: str = "kll",
    param: float | None = None,
    window: str = "1 hour",
    watermark: str = "10 minutes",
    output_mode: str = "append",
) -> DataFrame:
    """One FINAL row per (keys, window) after it closes: [*keys,
    window_start, window_end, n, q_XXXX...]. Append mode (rows are
    final by construction). Windows still open when a finite replay
    ends need a far-future sentinel row to flush, as with the other
    watermarked operators."""
    fields, fold, load, rows = quantile_fold(method, param, qs)
    return stateful_fold(
        df, keys, F.col(col).isNotNull(), [F.col(col).cast("double").alias("__v")],
        "state binary", fields, lambda state, pdfs: (fold(state, pdfs)[0], None),
        output_mode,
        close=lambda state, _wm: (None, rows(load(state))),
        event_time=EventTime(ts_col, watermark, window),
    )

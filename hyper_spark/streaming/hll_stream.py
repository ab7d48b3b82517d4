"""Structured Streaming sketches keyed by group: HLL, windowed HLL,
Theta/KMV, count-min and quantiles.

Each sketch is a mergeable state, so its streaming form is the batch
operator's state folded once per micro-batch through the shared
``streaming/stateful.py::stateful_fold``; this module supplies only each
family's state schema, value fields and fold. For HLL the state per
group key is the 2^p-byte register blob and a micro-batch folds its
(idx, rho) rows in with ``np.maximum``. The hash path is the same JVM
expression tree as batch, so batch and streaming sketches over the same
data are byte-identical — tested by feeding the same rows through both
paths.

Late data needs no special handling for these sketches (max, union and
addition are order- and duplicate-insensitive); watermarks only matter
when the caller windows by event time, where the core closes a window's
state once the watermark passes its end.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hyper_spark.functions.hashing import hll_prepare
from hyper_spark.kernel.hll import (
    decode_register_blob,
    encode_registers,
    estimate_from_registers,
)
from hyper_spark.streaming.quantiles_window_stream import quantile_fold
from hyper_spark.streaming.stateful import EventTime, stateful_fold

__all__ = [
    "streaming_sketch_by",
    "streaming_cms_by",
    "streaming_theta_by",
    "streaming_quantiles_by",
    "streaming_windowed_sketch_by",
]

_HLL_FIELDS = ["p int", "registers binary", "estimate double"]


def _hll_rows(p: int, regs: np.ndarray, **extra) -> dict:
    # the emitted registers are canonical dense bytes (batch parity)
    return {
        "p": [p],
        "registers": [regs.tobytes()],
        "estimate": [estimate_from_registers(regs, p)],
        **extra,
    }


def _hll_fold(p: int, state_encoding: str, **extra):
    """The HLL fold: register max of the batch's (idx, rho) rows into
    the stored register blob; emits the updated sketch plus ``extra``."""

    def fold(state, pdfs):
        if state:
            regs = decode_register_blob(p, state[0], state_encoding)
        else:
            regs = np.zeros(1 << p, dtype=np.uint8)
        for pdf in pdfs:
            if len(pdf):
                np.maximum.at(
                    regs,
                    pdf["idx"].to_numpy(dtype=np.int64),
                    pdf["rho"].to_numpy(dtype=np.uint8),
                )
        return (encode_registers(regs, state_encoding),), _hll_rows(p, regs, **extra)

    return fold


def streaming_sketch_by(
    df: DataFrame,
    keys: Sequence[str],
    col: str,
    p: int = 14,
    output_mode: str = "update",
    state_encoding: str = "auto",
    hash_fn: str = "sha1",
) -> DataFrame:
    """Streaming grouped distinct-count sketches.

    Input: a streaming DataFrame. Output: one row per group per
    micro-batch with the current (p, registers, estimate); the emitted
    ``registers`` are always canonical dense bytes (batch parity).
    State per group is at most 2^p bytes independent of stream length;
    with ``state_encoding='auto'`` (default) low-fill groups store the
    sparse ⟨idx:16, rho:8⟩ pair blob instead (src/hyper_bisect.erl:
    18-29) — at high-cardinality streaming keys this shrinks the state
    store by up to ~2^p/3·nnz per group."""
    idx, rho = hll_prepare(F.col(col), p, hash_fn)
    # NULLs are skipped exactly as in batch sketch_by (NULL would hash to
    # NULL idx/rho and poison the densify)
    return stateful_fold(
        df, keys, F.col(col).isNotNull(), [idx.alias("idx"), rho.alias("rho")],
        "registers binary", _HLL_FIELDS, _hll_fold(p, state_encoding), output_mode,
    )


def streaming_windowed_sketch_by(
    df: DataFrame,
    ts_col: str,
    keys: Sequence[str],
    col: str,
    p: int = 14,
    window: str = "1 hour",
    watermark: str = "10 minutes",
    output_mode: str = "update",
    state_encoding: str = "auto",
    hash_fn: str = "sha1",
    slide: str | None = None,
) -> DataFrame:
    """Event-time tumbling-window distinct sketches with BOUNDED state —
    the "watermarks + windowed aggs for late data" shape the north star
    asks for. Without expiry, per-(key, window) state grows forever on
    an endless stream; here a window's state is dropped once the
    watermark passes its end, at which point Spark has already filtered
    every row that could still belong to it, so the drop is lossless.

    Per micro-batch each live (keys, window) emits its current estimate
    with ``final = false``; when the watermark passes a window's end its
    state times out and ONE closing row with ``final = true`` is emitted
    before the state is removed (rows after the last input never close
    windows still below the watermark — standard Structured Streaming).
    Late rows inside the watermark fold in exactly like batch (register
    max is order-insensitive); rows older than the watermark are dropped
    by Spark upstream.

    Output: [*keys, window_start, window_end, p, registers, estimate,
    final]. State per live window ≤ 2^p bytes (sparse-encoded below the
    fill threshold with the default ``state_encoding='auto'``).

    ``slide`` makes the windows SLIDING ("rolling 1-hour distinct,
    updated every 10 minutes"): each event folds into its
    window/slide overlapping windows (Spark's window() generates the
    assignments; register max is order- and duplicate-insensitive, so
    the overlap costs state but never correctness), live state is
    window/slide × the tumbling case, and expiry per window is
    unchanged."""
    idx, rho = hll_prepare(F.col(col), p, hash_fn)
    return stateful_fold(
        df, keys, F.col(col).isNotNull(), [idx.alias("idx"), rho.alias("rho")],
        "registers binary", _HLL_FIELDS + ["final boolean"],
        _hll_fold(p, state_encoding, final=[False]), output_mode,
        close=lambda state, _wm: (None, _hll_rows(
            p, decode_register_blob(p, state[0], state_encoding), final=[True]
        )),
        event_time=EventTime(ts_col, watermark, window, slide),
    )


def streaming_theta_by(
    df: DataFrame,
    keys: Sequence[str],
    col: str,
    k: int = 4096,
    output_mode: str = "update",
) -> DataFrame:
    """Streaming grouped Theta/KMV sketches: state per group is the
    k-smallest-hashes entry blob (≤ 8k bytes, independent of stream
    length). Union is order- and duplicate-insensitive, so late data
    folds in exactly like batch and batch/stream sketches over the
    same rows are byte-identical (tested). Output per micro-batch:
    [keys..., k, n_entries, entries, estimate] — rows persist as the
    same sketch-table schema ``operators/theta_agg.py`` reads, so a
    stream's final state joins the batch set algebra directly
    (theta_union / theta_intersect_card)."""
    from hyper_spark.kernel.theta import ThetaSketch

    def fold(state, pdfs):
        sk = ThetaSketch.from_bytes(k, bytes(state[0])) if state else ThetaSketch.empty(k)
        for pdf in pdfs:
            if len(pdf):
                hashes = pdf["__h"].to_numpy(dtype=np.int64)
                sk = sk.union(ThetaSketch.from_signed_hashes(k, hashes))
        blob = sk.to_bytes()
        return (blob,), {
            "k": [k], "n_entries": [len(sk.entries)], "entries": [blob],
            "hash_fn": ["xxhash64"], "estimate": [sk.estimate()],
        }

    return stateful_fold(
        df, keys, F.col(col).isNotNull(), [F.xxhash64(F.col(col)).alias("__h")],
        "entries binary",
        ["k int", "n_entries int", "entries binary", "hash_fn string",
         "estimate double"],
        fold, output_mode,
    )


def streaming_cms_by(
    df: DataFrame,
    keys: Sequence[str],
    col: str,
    depth: int = 5,
    width: int = 2048,
    output_mode: str = "update",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Streaming grouped count-min sketches: state is the d×w int64
    counter blob per group (addition is the merge, so late/out-of-order
    data folds in exactly like batch). Same bucket exprs as the batch
    operator (xxhash64 default, md5 the opt-in kernel-parity mode —
    same hash_fn contract: never merge across hash_fns) ⇒ batch/stream
    counters are
    identical for the same rows."""
    from hyper_spark.operators.cms_agg import cms_bucket_col

    buckets = F.posexplode(
        F.array(*[cms_bucket_col(F.col(col), i, width, hash_fn) for i in range(depth)])
    )

    def fold(state, pdfs):
        if state:
            n, blob = state
            counters = np.frombuffer(blob, dtype="<i8").reshape(depth, width).copy()
        else:
            n, counters = 0, np.zeros((depth, width), dtype=np.int64)
        for pdf in pdfs:
            if len(pdf):
                rows = pdf["row"].to_numpy(dtype=np.int64)
                np.add.at(counters, (rows, pdf["bucket"].to_numpy(dtype=np.int64)), 1)
                # count input rows as row==0 cells: exact even when a
                # group's exploded rows split across Arrow batches at a
                # non-multiple of depth (len//depth would floor-undercount
                # and understate the eps*n bound derived from n)
                n += int((rows == 0).sum())
        blob = counters.astype("<i8").tobytes()
        return (n, blob), {
            "depth": [depth], "width": [width], "n": [n], "counters": [blob],
            "hash_fn": [hash_fn],
        }

    return stateful_fold(
        df, keys, F.col(col).isNotNull(), [buckets.alias("row", "bucket")],
        "n bigint, counters binary",
        ["depth int", "width int", "n bigint", "counters binary", "hash_fn string"],
        fold, output_mode,
    )


def streaming_quantiles_by(
    df: DataFrame,
    keys: Sequence[str],
    col: str,
    qs: Sequence[float],
    method: str = "tdigest",
    param: float | None = None,
    output_mode: str = "update",
) -> DataFrame:
    """Streaming grouped quantiles (KLL or t-digest state per group) —
    the turn-latency-quantile workload in streaming form. Emits an
    UPDATED row per key every micro-batch, so the default output mode is
    'update' like the other stateful operators (ADVICE r02: with an
    append sink each per-batch row would look final). State is the
    kernel sketch's JSON dict (bounded: KLL O(k·log(n/k)) items,
    t-digest O(delta) centroids — independent of stream length); every
    micro-batch folds its values with ``update_batch`` and emits the
    current quantile estimates, column-named like the batch operator
    (``q_0500`` for q=0.5). NULL values are skipped as in batch."""
    fields, fold_sketch, _, rows = quantile_fold(method, param, qs)

    def fold(state, pdfs):
        state, sk = fold_sketch(state, pdfs)
        return state, rows(sk)

    return stateful_fold(
        df, keys, F.col(col).isNotNull(), [F.col(col).cast("double").alias("__v")],
        "state binary", fields, fold, output_mode,
    )

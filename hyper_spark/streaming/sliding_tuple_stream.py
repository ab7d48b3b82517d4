"""Streaming build for the sliding-window Tuple state — the
summary-carrying sibling of sliding_theta_stream.py, completing
streaming builds for all six sliding families.

The theta stream's admission-delta contract extends to summaries
because k-min admission is FINAL: the running k-min of a bucket only
ever moves toward smaller hashes, so a hash in the bucket's final
k-min is among the k smallest of every prefix that contains it — it
is admitted on arrival and NEVER evicted afterwards. Therefore every
batch can emit, per (group, grain-bucket):

- one row per NEWLY ADMITTED hash carrying its batch value sum
  (possibly 0.0 — admission itself must reach the sink so the entry
  counts even when its key's values are all NULL), and
- one row per ALREADY-ADMITTED hash whose batch value sum is nonzero
  (a pure summary delta).

Summing the sink's deltas per (group, bucket, hash) reconstructs each
admitted hash's exact in-bucket total: contributions before a key's
first arrival cannot exist (the hash is a function of the key, so
every row of the key carries it), and contributions after admission
are all emitted because the hash never leaves the running k-min.
Hashes evicted mid-stream (or never admitted) are not in the final
k-min, so their partial deltas are exactly what
``sliding_tuple_merge``'s per-bucket re-trim drops. Union-of-deltas →
merge therefore equals the batch ``sliding_tuple_table`` of the same
rows exactly (hash set row parity; summaries up to double addition
order — pytest-asserted).

The fold runs in the shared ``streaming/stateful.py::stateful_fold``,
grouped by (keys, bucket start, bucket end). State per live (group,
bucket) is the SAME ≤ 8k-byte sorted int64 blob as the theta stream —
summaries live only in the sink as deltas, never in state — and is
dropped without emission when the event-time
watermark passes the bucket end. The sink grows by ≤ k admissions
plus one delta row per (batch, active admitted key); periodic
``sliding_tuple_merge([sink])`` compaction is the documented
re-trim. Hash convention matches the batch build's xxhash64 path
(mixed states fail the merge's (k, hash_fn) check loudly).
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hyper_spark.streaming.stateful import EventTime, stateful_fold

__all__ = ["streaming_sliding_tuple_entries"]


def _admit(state, pdfs, k: int):
    """Fold a batch into the bucket's running k-min: (state, rows of the
    new admissions and of admitted hashes with a nonzero batch sum)."""
    cur = np.frombuffer(bytes(state[0]), np.int64) if state else np.empty(0, np.int64)
    h_parts, v_parts = [], []
    for pdf in pdfs:
        if len(pdf):
            h_parts.append(pdf["h"].to_numpy(dtype=np.int64))
            v_parts.append(pdf["__v"].to_numpy(dtype=np.float64))
    if h_parts:
        uh, inv = np.unique(np.concatenate(h_parts), return_inverse=True)
        sums = np.zeros(len(uh), dtype=np.float64)
        np.add.at(sums, inv, np.concatenate(v_parts))
    else:
        uh = np.empty(0, dtype=np.int64)
        sums = np.empty(0, dtype=np.float64)
    merged = np.unique(np.concatenate([cur, uh]))[:k]
    in_merged = np.isin(uh, merged, assume_unique=True)
    was_admitted = np.isin(uh, cur, assume_unique=True)
    emit = in_merged & (~was_admitted | (sums != 0.0))
    if not emit.any():
        return (merged.tobytes(),), None
    n = int(emit.sum())
    return (merged.tobytes(),), {
        "h": uh[emit], "summary": sums[emit], "k": [k] * n, "hash_fn": ["xxhash64"] * n,
    }


def kmin_admissions(
    df: DataFrame,
    ts_col: str,
    keys: Sequence[str],
    id_col: str,
    val: Column,
    k: int,
    grain: str,
    watermark: str,
    output_mode: str,
) -> DataFrame:
    """Per-(keys, grain-bucket) k-min admission deltas:
    DataFrame[*keys, bucket_ts, h, summary, k, hash_fn] — one row per
    newly admitted hash and per already-admitted hash with a nonzero
    batch sum of ``val`` (module doc). With ``val`` all zero it emits
    exactly the admissions — the theta stream. A bucket's state drops
    without an emission once the watermark passes its end: every
    admitted hash was already emitted with its full delta trail."""
    if k < 3:
        raise ValueError("k must be >= 3")
    # NULL values count 0 (the batch build's coalesce(sum, 0) contract)
    return stateful_fold(
        df, keys, F.col(id_col).isNotNull() & F.col(ts_col).isNotNull(),
        [
            F.xxhash64(F.col(id_col).cast("string")).alias("h"),
            F.coalesce(val.cast("double"), F.lit(0.0)).alias("__v"),
        ],
        "entries binary",
        ["h bigint", "summary double", "k int", "hash_fn string"],
        lambda state, pdfs: _admit(state, pdfs, k), output_mode,
        event_time=EventTime(
            ts_col, watermark, grain, names=("__ws", "__we"), emit=("bucket_ts",)
        ),
    )


def streaming_sliding_tuple_entries(
    df: DataFrame,
    ts_col: str,
    keys: Sequence[str],
    id_col: str,
    val_col: str,
    k: int = 4096,
    grain: str = "1 day",
    watermark: str = "1 hour",
    output_mode: str = "append",
) -> DataFrame:
    """Streaming per-(keys, grain-bucket) tuple-entry deltas:
    DataFrame[*keys, bucket_ts, h, summary, k, hash_fn] — the
    sliding_tuple state schema with per-batch summary deltas. Run
    ``sliding_tuple_merge([sink_df], keys)`` over the appended sink to
    compact to the exact batch state; the merged state feeds
    ``sliding_tuple_estimates`` / ``_coarsen`` unchanged."""
    return kmin_admissions(
        df, ts_col, keys, id_col, F.col(val_col), k, grain, watermark, output_mode
    )

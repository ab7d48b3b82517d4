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

State per live (group, bucket) is the SAME ≤ 8k-byte sorted int64
blob as the theta stream — summaries live only in the sink as deltas,
never in state — and is dropped without emission when the event-time
watermark passes the bucket end. The sink grows by ≤ k admissions
plus one delta row per (batch, active admitted key); periodic
``sliding_tuple_merge([sink])`` compaction is the documented
re-trim. Hash convention matches the batch build's xxhash64 path
(mixed states fail the merge's (k, hash_fn) check loudly).
"""

from __future__ import annotations

from typing import Any, Iterator, Sequence, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

__all__ = ["streaming_sliding_tuple_entries"]


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
    exactly the admissions — the theta stream."""
    if k < 3:
        raise ValueError("k must be >= 3")
    keys = list(keys)
    session_tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
    win = F.window(F.col(ts_col), grain)
    src = df
    if df.isStreaming:
        src = src.withWatermark(ts_col, watermark)
    # NULL values count 0 (the batch build's coalesce(sum, 0) contract)
    # and the watermarked event-time column must survive into the
    # stateful operator's child plan (hll_stream.py lesson)
    prepared = src.filter(
        F.col(id_col).isNotNull() & F.col(ts_col).isNotNull()
    ).select(
        *keys,
        win["start"].alias("__ws"),
        win["end"].alias("__we"),
        F.xxhash64(F.col(id_col).cast("string")).alias("h"),
        F.coalesce(val.cast("double"), F.lit(0.0)).alias("__v"),
        F.col(ts_col),
    )

    out_fields = [
        f"{df.schema[kk].name} {df.schema[kk].dataType.simpleString()}"
        for kk in keys
    ] + [
        "bucket_ts timestamp",
        "h bigint",
        "summary double",
        "k int",
        "hash_fn string",
    ]
    output_schema = ", ".join(out_fields)
    state_schema = "entries binary"
    group_cols = keys + ["__ws", "__we"]

    def update(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # watermark passed the bucket end: every admitted hash was
            # already emitted with its full delta trail — drop state
            state.remove()
            return
        if state.exists:
            (blob,) = state.get
            cur = np.frombuffer(bytes(blob), dtype=np.int64)
        else:
            cur = np.empty(0, dtype=np.int64)
        h_parts, v_parts = [], []
        for pdf in pdfs:
            if len(pdf):
                h_parts.append(pdf["h"].to_numpy(dtype=np.int64))
                v_parts.append(pdf["__v"].to_numpy(dtype=np.float64))
        if h_parts:
            h_all = np.concatenate(h_parts)
            v_all = np.concatenate(v_parts)
            uh, inv = np.unique(h_all, return_inverse=True)
            sums = np.zeros(len(uh), dtype=np.float64)
            np.add.at(sums, inv, v_all)
        else:
            uh = np.empty(0, dtype=np.int64)
            sums = np.empty(0, dtype=np.float64)
        merged = np.unique(np.concatenate([cur, uh]))[:k]
        state.update((merged.tobytes(),))
        # drop state once the watermark passes the bucket end; if it
        # already has (possible on replays), close inline — a
        # past-deadline setTimeoutTimestamp raises
        bucket_end = pd.Timestamp(key[len(keys) + 1])
        if bucket_end.tz is None:
            bucket_end = bucket_end.tz_localize(session_tz)
        deadline = int(bucket_end.value // 10**6)
        if state.getCurrentWatermarkMs() >= deadline:
            state.remove()
        else:
            state.setTimeoutTimestamp(deadline)
        in_merged = np.isin(uh, merged, assume_unique=True)
        was_admitted = np.isin(uh, cur, assume_unique=True)
        emit = in_merged & (~was_admitted | (sums != 0.0))
        if emit.any():
            n = int(emit.sum())
            out = {kk: [key[i]] * n for i, kk in enumerate(keys)}
            out["bucket_ts"] = [key[len(keys)]] * n
            out["h"] = uh[emit]
            out["summary"] = sums[emit]
            out["k"] = [k] * n
            out["hash_fn"] = ["xxhash64"] * n
            yield pd.DataFrame(out)

    return prepared.groupBy(*group_cols).applyInPandasWithState(
        update,
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode=output_mode,
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
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

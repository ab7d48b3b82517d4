"""Streaming gap sessionization with watermark-correct merging.

The batch ``operators.temporal.sessionize`` is one window lineage; in
streaming, gap sessions need Spark's session-window MERGE semantics: a
late row (inside the watermark) can bridge two provisional sessions into
one, so no session may be finalized before the watermark passes its end
plus the gap. This operator keeps the full set of OPEN sessions per key
as state (list of (start, last, n) triples), folds each micro-batch's
rows in with an interval merge, and emits a session row exactly once —
when the event-time watermark passes ``last + gap`` and no row can
extend or bridge it anymore. State is then dropped, so per-key state is
bounded by the number of sessions still inside the watermark horizon
(≈ gap/watermark-delay worth of activity), never by stream length.

The fold runs in the shared ``streaming/stateful.py::stateful_fold``:
this module supplies the interval merge, the key's deadline (its
earliest open session's last event + gap, + 1 ms) and the close, which
emits the sessions the watermark has passed (last + gap <= watermark)
and keeps the rest. Event
times reach the merge as epoch micros computed JVM-side, and session
bounds leave it tz-aware, so a fall-back hour in the session time zone
is no different from any other hour.

Batch parity: after a final watermark flush, the emitted sessions are
exactly the batch ``sessionize`` partition of the same rows (same gap
rule; order-insensitive because merging is commutative) — the oracle
gate checks the per-key session histogram against DuckDB's windowed
sessionization.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hyper_spark.streaming.stateful import EventTime, stateful_fold

__all__ = ["streaming_sessionize"]


def _merge_runs(
    starts: np.ndarray, lasts: np.ndarray, counts: np.ndarray, gap: float
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Merge (start, last, count) runs whose gaps are <= gap. Inputs need
    not be sorted; output sorted by start. Pure numpy, no Python loop:
    over the start-sorted runs the running max of ``lasts`` is always
    the current merged run's last, so a new run begins wherever a start
    lies more than ``gap`` past the running max before it."""
    order = np.argsort(starts, kind="stable")
    s, l, c = starts[order], lasts[order], counts[order]
    reach = np.maximum.accumulate(l)
    heads = np.flatnonzero(np.r_[True, s[1:] - reach[:-1] > gap])
    return s[heads], np.maximum.reduceat(l, heads), np.add.reduceat(c, heads)


def _runs(state: tuple) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    starts, lasts, counts = state
    return (
        np.asarray(starts, dtype=np.float64),
        np.asarray(lasts, dtype=np.float64),
        np.asarray(counts, dtype=np.int64),
    )


def _utc(seconds: np.ndarray) -> pd.DatetimeIndex:
    # tz-aware, so pyspark need not re-localize a wall time (which it
    # cannot do right inside a fall-back hour)
    return pd.to_datetime((seconds * 1e9).astype("int64"), utc=True)


def streaming_sessionize(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    gap: float,
    watermark: str = "10 minutes",
    output_mode: str = "append",
) -> DataFrame:
    """One output row per CLOSED session: [*keys, session_start,
    session_end, n_events]. A session closes (and its state drops) when
    the watermark passes its last event + ``gap`` — before that, any
    in-watermark late row may still extend it or bridge it with a
    neighbor, exactly like Spark's native session_window merging.

    Sessions still open when the stream ends are never emitted (standard
    Structured Streaming: nothing advances the watermark past them); for
    a terminating replay, append a sentinel row far in the future to
    flush. Default output_mode is 'append' because every emitted row is
    final by construction. Rows with a NULL ``ts_col`` are skipped."""
    keys = list(keys)
    if not keys:
        raise ValueError("streaming sessionization needs at least one key")

    def fold(state, pdfs):
        # epoch seconds from the JVM's epoch micros, as ns / 1e9
        ts = [pdf["__us"].to_numpy(dtype=np.int64) * 1000 / 1e9 for pdf in pdfs if len(pdf)]
        runs = _runs(state) if state else (np.empty(0), np.empty(0), np.empty(0, np.int64))
        if ts:
            ts = np.concatenate(ts)
            runs = [np.concatenate(p) for p in zip(runs, (ts, ts, np.ones(len(ts), np.int64)))]
        if not len(runs[0]):
            return None, None
        return tuple(r.tolist() for r in _merge_runs(*runs, gap)), None

    def close(state, watermark_ms):
        # every session the watermark has passed (last + gap <= wm): no
        # in-watermark row can extend or bridge it anymore
        starts, lasts, counts = _runs(state)
        closed = lasts + gap <= watermark_ms / 1000.0
        if not closed.any():
            return state, None
        keep = ~closed
        kept = (starts[keep].tolist(), lasts[keep].tolist(), counts[keep].tolist())
        return kept if keep.any() else None, {
            "session_start": _utc(starts[closed]),
            "session_end": _utc(lasts[closed]),
            "n_events": counts[closed],
        }

    return stateful_fold(
        df, keys, F.col(ts_col).isNotNull(), [F.unix_micros(F.col(ts_col)).alias("__us")],
        "starts array<double>, lasts array<double>, counts array<bigint>",
        ["session_start timestamp", "session_end timestamp", "n_events bigint"],
        fold, output_mode, close=close,
        # wake up when the earliest open session becomes closable
        deadline=lambda state: int((min(state[1]) + gap) * 1000) + 1,
        event_time=EventTime(ts_col, watermark),
    )

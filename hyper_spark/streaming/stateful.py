"""One stateful fold for every stream operator.

A sketch is a mergeable state, so its streaming form is the batch state
folded once per micro-batch: per group key, read the stored state, fold
the batch's rows into it, store it back and emit rows. ``stateful_fold``
owns everything around the fold — the ``applyInPandasWithState`` call,
the output schema built from the key fields, the state read and write,
the key columns in front of every emitted row and the event-time
deadlines — so a family supplies only its state schema, its value
fields, ``fold(state, pdfs) → (state, rows)`` and, when it closes on
event time, ``close(state, watermark_ms) → (state, rows)``.

Deadlines. With ``event_time`` the stream is watermarked on its
timestamp column and every key carries one event-time deadline (epoch
millis), stored as its timeout. Each family has its own rule: an
event-time window's deadline is its end, read from the batch, and the
window closes once the watermark reaches it; gap sessions and
transitions pass ``deadline(state)`` (last event plus the gap or the
close delay, + 1 ms), and their ``close`` itself picks what the
watermark has passed. One close path serves both ways a key comes due:
Spark times it out once the watermark passes its deadline, and a batch
that folds when the watermark has already passed it (possible on
replays; ``setTimeoutTimestamp`` raises on a past deadline) closes
inline. ``close`` may keep part of the state (a session store keeps its
still-open sessions); the kept state's next deadline is stored with it.
Without ``event_time`` state is kept forever (``NoTimeout``).

Every epoch is computed JVM-side. Pandas gets timestamps tz-naive in
the session time zone, which cannot be mapped back to an instant inside
a fall-back hour (``AmbiguousTimeError``).

The grouping columns, the state schema, the output mode and the timeout
conf are the checkpoint contract: a query restarting on stored state
needs all four unchanged (``tests/test_stream_contract.py`` pins them).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Callable, Iterator, Optional, Sequence, Tuple

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

__all__ = ["EventTime", "stateful_fold"]

Rows = Optional[dict]
State = Optional[tuple]
Fold = Callable[[State, Iterator[pd.DataFrame]], Tuple[State, Rows]]
Close = Callable[[tuple, int], Tuple[State, Rows]]


@dataclass(frozen=True)
class EventTime:
    """Event time on ``ts_col``, watermarked ``watermark`` behind the
    latest event. With ``window`` the groups are also event-time
    windows, grouped as the columns ``names`` (start, end) after the
    keys and emitted as ``emit``, a renamed prefix of them. The
    watermarked ``ts_col`` rides along into the stateful operator's
    child plan: extracting ``window.start`` strips the watermark
    metadata, and Spark then rejects ``EventTimeTimeout``."""

    ts_col: str
    watermark: str
    window: str | None = None
    slide: str | None = None
    names: Tuple[str, str] = ("window_start", "window_end")
    emit: Tuple[str, ...] = ("window_start", "window_end")


def _drop(state: tuple, watermark_ms: int) -> Tuple[State, Rows]:
    return None, None


def _first_end(pdfs: Iterator[pd.DataFrame], ends: list) -> Iterator[pd.DataFrame]:
    """Pass ``pdfs`` through, noting the window end of the first row."""
    for pdf in pdfs:
        if len(pdf) and not ends:
            ends.append(int(pdf["__end"].iat[0]))
        yield pdf


def stateful_fold(
    df: DataFrame,
    keys: Sequence[str],
    where: Column,
    values: Sequence[Column],
    state_schema: str,
    fields: Sequence[str],
    fold: Fold,
    output_mode: str,
    close: Close = _drop,
    deadline: Callable[[tuple], int] | None = None,
    event_time: EventTime | None = None,
) -> DataFrame:
    """Fold ``df``'s rows passing ``where`` into one state per group:
    DataFrame[*keys, *event_time.emit (windowed only), *fields].

    ``values`` are the columns ``fold`` reads from each pandas batch;
    ``fold(state, pdfs)`` gets the stored state tuple (``None`` for a
    new group) and returns the state to store (``None`` stores none)
    and the rows to emit (a dict of equal-length value columns, or
    ``None``). ``deadline(state)`` is a non-windowed family's next
    deadline in epoch millis. ``close(state, watermark_ms)`` returns the
    state to keep and the rows to emit (by default it drops the state
    and emits nothing); it runs when a window's end or a timeout comes
    due, and after every fold of a family with a ``deadline``."""
    keys = list(keys)
    cols, group_cols = [*keys], [*keys]
    out_names = [df.schema[k].name for k in keys]
    out_fields = [f"{n} {df.schema[n].dataType.simpleString()}" for n in out_names]
    window = event_time is not None and event_time.window is not None
    if event_time is not None:
        df = df.withWatermark(event_time.ts_col, event_time.watermark)
        values = [*values, F.col(event_time.ts_col)]
    if window:
        win = F.window(F.col(event_time.ts_col), event_time.window, event_time.slide)
        cols += [win["start"].alias(event_time.names[0]), win["end"].alias(event_time.names[1])]
        group_cols += event_time.names
        values.append(F.unix_millis(win["end"]).alias("__end"))
        out_names += event_time.emit
        out_fields += [f"{name} timestamp" for name in event_time.emit]
    if not group_cols:
        raise ValueError("streaming sketches need at least one group key")

    def due(state: State) -> Optional[int]:
        return None if state is None or deadline is None else deadline(state)

    def emit(key: Tuple[Any, ...], rows: Rows) -> Iterator[pd.DataFrame]:
        if rows is not None:
            n = len(next(iter(rows.values())))
            yield pd.DataFrame({**{c: [v] * n for c, v in zip(out_names, key)}, **rows})

    def update(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            new, rows, at = state.get, None, state.oldTimeoutTimestamp
        else:
            ends: list = []
            new, rows = fold(
                state.get if state.exists else None,
                _first_end(pdfs, ends) if window else pdfs,
            )
            at = ends[0] if window else due(new)
        closing = None
        if at is not None and (deadline is not None or state.getCurrentWatermarkMs() >= at):
            new, closing = close(new, state.getCurrentWatermarkMs())
            at = due(new)
        if new is not None:
            state.update(new)
            if at is not None:
                state.setTimeoutTimestamp(at)
        elif state.exists:
            state.remove()
        yield from emit(key, rows)
        yield from emit(key, closing)

    return (
        df.filter(where)
        .select(*cols, *values)
        .groupBy(*group_cols)
        .applyInPandasWithState(
            update,
            outputStructType=", ".join([*out_fields, *fields]),
            stateStructType=state_schema,
            outputMode=output_mode,
            timeoutConf=(
                GroupStateTimeout.EventTimeTimeout
                if event_time is not None
                else GroupStateTimeout.NoTimeout
            ),
        )
    )

"""One stateful fold for every streaming sketch.

A sketch is a mergeable state, so its streaming form is the batch state
folded once per micro-batch: per group key, read the stored state, fold
the batch's rows into it, store it back and emit rows. ``stateful_fold``
owns everything around the fold — the ``applyInPandasWithState`` call,
the output schema built from the key fields, the state read and write,
and the key columns in front of every emitted row — so a family supplies
only its state schema, its value fields, ``fold(state, pdfs) → (state,
rows)`` and, when windowed, ``close(state) → rows``.

Windowed operators group by ``(*keys, start, end)`` of an event-time
window and close a window's state when the watermark passes its end: at
that point Spark has already dropped every row that could still belong
to it, so the close is lossless. The window end arrives in the key
tz-naive, rendered in the session time zone, and is localized here
before taking epoch millis (otherwise the deadline shifts by the zone's
offset: early west of UTC, late east). A window whose deadline the
watermark has already reached when a batch folds (possible on replays;
``setTimeoutTimestamp`` raises on a past deadline) closes inline.
Non-windowed operators keep their state forever (``NoTimeout``).

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

__all__ = ["EventWindow", "stateful_fold"]

Rows = Optional[dict]
Fold = Callable[[Optional[tuple], Iterator[pd.DataFrame]], Tuple[tuple, Rows]]
Close = Callable[[tuple], Rows]


@dataclass(frozen=True)
class EventWindow:
    """An event-time window over ``ts_col``, grouped as the columns
    ``names`` (start, end) after the keys and emitted as ``emit``, a
    renamed prefix of them. The watermarked ``ts_col`` rides along into
    the stateful operator's child plan: extracting ``window.start``
    strips the watermark metadata, and Spark then rejects
    ``EventTimeTimeout``."""

    ts_col: str
    length: str
    watermark: str
    slide: str | None = None
    names: Tuple[str, str] = ("window_start", "window_end")
    emit: Tuple[str, ...] = ("window_start", "window_end")


def stateful_fold(
    df: DataFrame,
    keys: Sequence[str],
    where: Column,
    values: Sequence[Column],
    state_schema: str,
    fields: Sequence[str],
    fold: Fold,
    output_mode: str,
    close: Close = lambda state: None,
    window: EventWindow | None = None,
) -> DataFrame:
    """Fold ``df``'s rows passing ``where`` into one state per group:
    DataFrame[*keys, *window.emit, *fields].

    ``values`` are the columns ``fold`` reads from each pandas batch;
    ``fold(state, pdfs)`` gets the stored state tuple (``None`` for a
    new group) and returns the state to store and the rows to emit (a
    dict of equal-length value columns, or ``None``); ``close(state)``
    gives the rows a window emits when it closes (none by default)."""
    keys = list(keys)
    cols, group_cols = [*keys], [*keys]
    out_names = [df.schema[k].name for k in keys]
    out_fields = [f"{n} {df.schema[n].dataType.simpleString()}" for n in out_names]
    if window is not None:
        df = df.withWatermark(window.ts_col, window.watermark)
        win = F.window(F.col(window.ts_col), window.length, window.slide)
        cols += [win["start"].alias(window.names[0]), win["end"].alias(window.names[1])]
        group_cols += window.names
        values = [*values, F.col(window.ts_col)]
        out_names += window.emit
        out_fields += [f"{name} timestamp" for name in window.emit]
        session_tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
    if not group_cols:
        raise ValueError("streaming sketches need at least one group key")

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
            stored = state.get
            state.remove()
            yield from emit(key, close(stored))
            return
        new, rows = fold(state.get if state.exists else None, pdfs)
        state.update(new)
        closing = None
        if window is not None:
            end = pd.Timestamp(key[len(keys) + 1])
            if end.tz is None:
                end = end.tz_localize(session_tz)
            deadline = int(end.value // 10**6)
            if state.getCurrentWatermarkMs() >= deadline:
                state.remove()
                closing = close(new)
            else:
                state.setTimeoutTimestamp(deadline)
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
                if window
                else GroupStateTimeout.NoTimeout
            ),
        )
    )

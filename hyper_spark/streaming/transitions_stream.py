"""Streaming state-transition extraction per conversation/key.

The batch ``operators.temporal.transitions`` orders each key's rows
globally before pairing consecutive states; a stream cannot order what
has not arrived, so this operator BUFFERS a key's (order, state) pairs
as state and emits the key's transition pairs exactly once — when the
event-time watermark says the key has been quiet for ``close_after``
(the conversation is over; same close rule as gap sessionization).
Out-of-order arrival inside the watermark is therefore handled
correctly: pairing happens on the buffered, sorted sequence, not on
arrival order.

State honesty (same contract as streaming_dedup): per-key state is the
key's full buffered sequence — bounded by conversation length, NOT by
a window. That is the correct minimum for order-sensitive semantics
(any earlier emission could be invalidated by a late turn), and fine
for transcripts where conversations are bounded; it is the wrong tool
for never-ending per-key streams. Choose ``close_after`` comfortably
larger than the watermark delay: a straggler landing after its key
timed out re-opens the key and emits a spurious partial sequence.

For never-ending per-key streams, ``max_buffer=N`` is the explicit
bounded-state mode (the order-dimension sibling of
``streaming_dedup(state='bloom')``): when a key's buffer exceeds N,
the oldest N - N//2 entries are SORTED and FOLDED into a per-key pair
counter plus the folded chain's last state, and the fold frontier's
order becomes the key's ORDER HORIZON — later arrivals whose order
precedes it are dropped, exactly as the event-time watermark drops
late timestamps. Per-key state is then bounded by
N + |state vocabulary|² regardless of stream length. Divergence from
the exact mode is one-sided and structural: results are IDENTICAL
whenever each key's order disorder stays within the retained N//2
tail; a beyond-horizon straggler loses only its own transitions
(nothing already counted is ever wrong). The exact mode (default) is
untouched.

Output rows are per-key pair counts [key, from_state, to_state, n] —
final by construction (append mode); a downstream
``groupBy(from_state, to_state).sum(n)`` reproduces the batch
``transitions`` counts exactly (pytest-asserted parity incl. bounds).
"""

from __future__ import annotations

from collections import Counter
from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

__all__ = ["streaming_transitions"]


def streaming_transitions(
    df: DataFrame,
    key: str,
    ts_col: str,
    order_col: str,
    state_col: str,
    close_after: float = 1800.0,
    watermark: str = "10 minutes",
    include_bounds: bool = True,
    start_state: str = "__START__",
    end_state: str = "__END__",
    output_mode: str = "append",
    max_buffer: int | None = None,
) -> DataFrame:
    """One row per (key, from_state, to_state) AFTER the key closes:
    [<key> string, from_state, to_state, n bigint]. NULL states are
    dropped before buffering (consecutive *observed* states, the batch
    contract). ``close_after`` is in seconds of event time.
    ``max_buffer`` opts into the bounded-state fold (module docstring).

    Keys still open when a finite replay ends never close — append a
    far-future sentinel row to flush, as with streaming_sessionize."""
    if max_buffer is not None and max_buffer < 4:
        raise ValueError(f"max_buffer must be >= 4, got {max_buffer}")
    prepared = (
        df.withWatermark(ts_col, watermark)
        .filter(F.col(state_col).isNotNull())
        .select(
            F.col(key).cast("string").alias("__k"),
            F.col(ts_col),
            # epoch seconds computed JVM-side: the pandas path would
            # need per-batch tz localization (what stateful_fold does
            # for a window end)
            F.col(ts_col).cast("timestamp").cast("double").alias("__t"),
            F.col(order_col).cast("double").alias("__o"),
            F.col(state_col).cast("string").alias("__s"),
        )
    )
    output_schema = (
        f"{key} string, from_state string, to_state string, n bigint"
    )
    state_schema = "orders array<double>, states array<string>, last_ts double"

    def emit(k, orders, states) -> pd.DataFrame:
        seq = [s for _, s in sorted(zip(orders, states))]
        pairs: Counter = Counter(zip(seq, seq[1:]))
        if include_bounds and seq:
            pairs[(start_state, seq[0])] += 1
            pairs[(seq[-1], end_state)] += 1
        items = sorted(pairs.items())
        return pd.DataFrame(
            {
                key: [k[0]] * len(items),
                "from_state": [a for (a, _), _n in items],
                "to_state": [b for (_, b), _n in items],
                "n": [n for _pair, n in items],
            }
        )

    def update(
        k: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            orders, states, _ = state.get
            state.remove()
            if states:
                yield emit(k, orders, states)
            return

        if state.exists:
            orders, states, last_ts = state.get
            orders, states = list(orders), list(states)
        else:
            orders, states, last_ts = [], [], float("-inf")
        for pdf in pdfs:
            if not len(pdf):
                continue
            orders.extend(float(o) for o in pdf["__o"])
            states.extend(str(s) for s in pdf["__s"])
            last_ts = max(last_ts, float(pdf["__t"].max()))
        if states:
            deadline_ms = int((last_ts + close_after) * 1000) + 1
            wm = state.getCurrentWatermarkMs()
            if wm >= deadline_ms:
                # a straggler for an already-expired key (or a batch
                # whose watermark raced past the deadline): a timeout
                # in the past is illegal — close the key NOW
                state.remove()
                yield emit(k, orders, states)
            else:
                state.update((orders, states, last_ts))
                state.setTimeoutTimestamp(deadline_ms)
        return

    if max_buffer is None:
        return prepared.groupBy("__k").applyInPandasWithState(
            update,
            outputStructType=output_schema,
            stateStructType=state_schema,
            outputMode=output_mode,
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )

    # ---------------------------------------------- bounded-state mode
    keep = max_buffer // 2
    bounded_schema = (
        "orders array<double>, states array<string>, last_ts double, "
        "ffrom array<string>, fto array<string>, fn array<long>, "
        "folded_last string, first_state string, has_folded boolean, "
        "fmax_order double"
    )

    def fold(orders, states, counter, folded_last, first_state, fmax):
        """Fold the oldest len-keep entries of the sorted buffer into the
        pair counter; the fold frontier's order becomes the horizon."""
        seq = sorted(zip(orders, states))
        cut, rest = seq[: len(seq) - keep], seq[len(seq) - keep:]
        folded = [s for _, s in cut]
        if first_state is None:
            first_state = folded[0]
        chain = ([folded_last] if folded_last is not None else []) + folded
        counter.update(zip(chain, chain[1:]))
        return (
            [o for o, _ in rest],
            [s for _, s in rest],
            counter,
            folded[-1],
            first_state,
            cut[-1][0],
        )

    def emit_bounded(k, counter, folded_last, first_state, orders, states):
        pairs = Counter(counter)
        seq = [s for _, s in sorted(zip(orders, states))]
        chain = ([folded_last] if folded_last is not None else []) + seq
        pairs.update(zip(chain, chain[1:]))
        if include_bounds and chain:
            pairs[(start_state, first_state if first_state is not None else chain[0])] += 1
            pairs[(chain[-1], end_state)] += 1
        items = sorted(pairs.items())
        return pd.DataFrame(
            {
                key: [k[0]] * len(items),
                "from_state": [a for (a, _), _n in items],
                "to_state": [b for (_, b), _n in items],
                "n": [n for _pair, n in items],
            }
        )

    def unpack(state):
        (orders, states, last_ts, ffrom, fto, fn,
         folded_last, first_state, has_folded, fmax) = state.get
        counter = Counter(dict(zip(zip(ffrom, fto), fn)))
        if not has_folded:
            folded_last, first_state, fmax = None, None, float("-inf")
        return (
            list(orders), list(states), last_ts, counter,
            folded_last, first_state, fmax,
        )

    def update_bounded(
        k: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            orders, states, _, counter, folded_last, first_state, _ = unpack(state)
            state.remove()
            if states or counter:
                yield emit_bounded(k, counter, folded_last, first_state, orders, states)
            return

        if state.exists:
            (orders, states, last_ts, counter,
             folded_last, first_state, fmax) = unpack(state)
        else:
            orders, states, last_ts = [], [], float("-inf")
            counter, folded_last, first_state, fmax = Counter(), None, None, float("-inf")
        for pdf in pdfs:
            if not len(pdf):
                continue
            # the order horizon: arrivals whose order precedes the fold
            # frontier are dropped, as the watermark drops late event time
            pdf = pdf[pdf["__o"] > fmax]
            if not len(pdf):
                continue
            orders.extend(float(o) for o in pdf["__o"])
            states.extend(str(s) for s in pdf["__s"])
            last_ts = max(last_ts, float(pdf["__t"].max()))
            if len(orders) > max_buffer:
                orders, states, counter, folded_last, first_state, fmax = fold(
                    orders, states, counter, folded_last, first_state, fmax
                )
        if states or counter:
            deadline_ms = int((last_ts + close_after) * 1000) + 1
            wm = state.getCurrentWatermarkMs()
            if wm >= deadline_ms:
                state.remove()
                yield emit_bounded(
                    k, counter, folded_last, first_state, orders, states
                )
            else:
                items = sorted(counter.items())
                state.update(
                    (
                        orders,
                        states,
                        last_ts,
                        [a for (a, _b), _n in items],
                        [b for (_a, b), _n in items],
                        [n for _p, n in items],
                        folded_last if folded_last is not None else "",
                        first_state if first_state is not None else "",
                        folded_last is not None,
                        fmax if fmax != float("-inf") else -1.0e308,
                    )
                )
                state.setTimeoutTimestamp(deadline_ms)
        return

    return prepared.groupBy("__k").applyInPandasWithState(
        update_bounded,
        outputStructType=output_schema,
        stateStructType=bounded_schema,
        outputMode=output_mode,
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )

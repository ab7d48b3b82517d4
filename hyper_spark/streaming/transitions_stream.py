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

Both modes are one fold in the shared
``streaming/stateful.py::stateful_fold``, which sets the key's deadline
(last event + ``close_after``, + 1 ms) and runs the close that emits the
pairs. They keep their two stored state layouts: the exact mode stores
only the buffer, the bounded mode the buffer plus the folded counter.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hyper_spark.streaming.stateful import EventTime, stateful_fold

__all__ = ["streaming_transitions"]

_BUFFER = "orders array<double>, states array<string>, last_ts double"
_FOLDED = (
    ", ffrom array<string>, fto array<string>, fn array<long>, "
    "folded_last string, first_state string, has_folded boolean, "
    "fmax_order double"
)


def _load(state: tuple | None) -> tuple:
    """A stored state of either layout, or none, as (orders, states,
    last_ts, counter, folded_last, first_state, fmax); nothing folded
    is (…, Counter(), None, None, -inf)."""
    orders, states, last_ts, *folded = state or ([], [], float("-inf"))
    if folded and folded[5]:  # has_folded
        ffrom, fto, fn, folded_last, first_state, _, fmax = folded
        counter = Counter(dict(zip(zip(ffrom, fto), fn)))
        return list(orders), list(states), last_ts, counter, folded_last, first_state, fmax
    return list(orders), list(states), last_ts, Counter(), None, None, float("-inf")


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
    bounded = max_buffer is not None

    def fold_oldest(orders, states, counter, folded_last, first_state):
        """Fold the oldest entries of the sorted buffer, all but its
        newest max_buffer // 2, into the pair counter; the fold
        frontier's order becomes the horizon."""
        seq = sorted(zip(orders, states))
        cut, rest = seq[: len(seq) - max_buffer // 2], seq[len(seq) - max_buffer // 2:]
        folded = [s for _, s in cut]
        chain = ([folded_last] if folded_last is not None else []) + folded
        counter.update(zip(chain, chain[1:]))
        return (
            [o for o, _ in rest], [s for _, s in rest], counter, folded[-1],
            folded[0] if first_state is None else first_state, cut[-1][0],
        )

    def fold(state, pdfs):
        orders, states, last_ts, counter, folded_last, first_state, fmax = _load(state)
        for pdf in pdfs:
            if bounded:
                # the order horizon: arrivals whose order precedes the fold
                # frontier are dropped, as the watermark drops late event time
                pdf = pdf[pdf["__o"] > fmax]
            if not len(pdf):
                continue
            orders.extend(float(o) for o in pdf["__o"])
            states.extend(str(s) for s in pdf["__s"])
            last_ts = max(last_ts, float(pdf["__t"].max()))
            if bounded and len(orders) > max_buffer:
                orders, states, counter, folded_last, first_state, fmax = fold_oldest(
                    orders, states, counter, folded_last, first_state
                )
        if not (states or counter):
            return None, None
        if not bounded:
            return (orders, states, last_ts), None
        items = sorted(counter.items())
        return (
            orders, states, last_ts,
            [a for (a, _b), _n in items], [b for (_a, b), _n in items], [n for _p, n in items],
            folded_last if folded_last is not None else "",
            first_state if first_state is not None else "",
            folded_last is not None,
            fmax if fmax != float("-inf") else -1.0e308,
        ), None

    def deadline(state):
        return int((state[2] + close_after) * 1000) + 1

    def close(state, watermark_ms):
        if watermark_ms < deadline(state):
            return state, None
        orders, states, _, pairs, folded_last, first_state, _ = _load(state)
        seq = [s for _, s in sorted(zip(orders, states))]
        chain = ([folded_last] if folded_last is not None else []) + seq
        pairs.update(zip(chain, chain[1:]))
        if include_bounds and chain:
            pairs[(start_state, first_state if first_state is not None else chain[0])] += 1
            pairs[(chain[-1], end_state)] += 1
        items = sorted(pairs.items())
        return None, {
            "from_state": [a for (a, _), _n in items],
            "to_state": [b for (_, b), _n in items],
            "n": [n for _pair, n in items],
        }

    return stateful_fold(
        df.withColumn("__k", F.col(key).cast("string")), ["__k"],
        F.col(state_col).isNotNull(),
        [
            # epoch seconds computed JVM-side, never from the tz-naive
            # wall times pandas gets
            F.col(ts_col).cast("timestamp").cast("double").alias("__t"),
            F.col(order_col).cast("double").alias("__o"),
            F.col(state_col).cast("string").alias("__s"),
        ],
        _BUFFER + _FOLDED if bounded else _BUFFER,
        ["from_state string", "to_state string", "n bigint"],
        fold, output_mode, close=close,
        deadline=deadline,
        event_time=EventTime(ts_col, watermark),
    ).withColumnRenamed("__k", key)

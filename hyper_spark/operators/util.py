"""Shared operator utilities."""

from __future__ import annotations

from typing import Callable, Iterator, Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructField, StructType

__all__ = ["spread", "widen_for_explosion"]


def spread(df: DataFrame) -> DataFrame:
    """Repartition up to the cluster's parallelism when the source scan
    yields fewer partitions (a small-file table can arrive as ONE
    partition, serializing every map-side Python stage onto one core —
    measured 5.7s -> 0.65s on the sf0.1 minhash signature stage). No-op
    when the input is already wide, so at 100 TB nothing extra shuffles."""
    want = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < want:
        return df.repartition(want)
    return df


def widen_for_explosion(df: DataFrame, *cols: str, factor: int = 1) -> DataFrame:
    """Repartition by ``cols`` with an EXPLICIT partition count so AQE
    cannot coalesce the downstream stage.

    AQE sizes post-shuffle stages from their shuffle INPUT bytes, which
    is exactly wrong for candidate-generating equi-joins whose output
    explodes quadratically in per-key group size: a few MB of slim
    prefix entries coalesce to a handful of tasks that then each emit
    hundreds of MB of join output (measured on the sf0.1 ssjoin: 12 MB
    of prefix entries -> 11 tasks x ~25 s with 750 MB of partial-agg
    spill; at 32 explicit partitions the same stage spreads across the
    full cluster). An explicit count (`REPARTITION_BY_NUM`) is exempt
    from AQE coalescing, and joining two sides repartitioned to the
    same count on the join key adds NO extra exchange — it replaces the
    `ENSURE_REQUIREMENTS` shuffle the join would have inserted anyway.

    ``factor`` multiplies ``defaultParallelism`` so per-task explosion
    variance load-balances across waves; scale-adaptive by
    construction (no constant tuned to local mode)."""
    want = df.sparkSession.sparkContext.defaultParallelism * factor
    return df.repartition(want, *cols)


def _group_codes(batch: pa.RecordBatch, cols: Sequence[str]) -> tuple[np.ndarray, np.ndarray]:
    """Number the distinct ``cols`` value tuples of a non-empty batch:
    the first row holding each tuple, and each row's tuple number.
    NULL is a value of its own; no ``cols`` is one tuple."""
    first = np.zeros(1, dtype=np.int64)
    code = np.zeros(batch.num_rows, dtype=np.int64)
    for c in cols:
        enc = pc.dictionary_encode(batch.column(c), null_encoding="encode")
        # renumbering after each column keeps the codes below rows^2
        _, first, code = np.unique(
            code * len(enc.dictionary) + enc.indices.to_numpy(),
            return_index=True,
            return_inverse=True,
        )
    return first, code


def arrow_schema(spark, schema: StructType) -> pa.Schema:
    """The Arrow schema of the batches a ``mapInArrow`` returning
    ``schema`` yields in this session."""
    large = spark.conf.get(
        "spark.sql.execution.arrow.useLargeVarTypes", "false"
    ).lower() == "true"
    return to_arrow_schema(schema, prefers_large_types=large)


def grow(a: np.ndarray, n: int) -> np.ndarray:
    """``a`` with room for at least ``n`` rows; new rows are zero."""
    if n <= len(a):
        return a
    out = np.zeros((max(n, 2 * len(a)),) + a.shape[1:], dtype=a.dtype)
    out[: len(a)] = a
    return out


def keyed_partials(
    df: DataFrame,
    keys: Sequence[str],
    fields: Sequence[StructField],
    new_fold: Callable[[], object],
) -> DataFrame:
    """The map-side combine every sketch family shares: per task
    partition, one row per distinct ``keys`` tuple (one row in all
    when ``keys`` is empty) of ``keys`` followed by ``fields``. An
    empty partition yields no rows.

    Batches stay in Arrow and numpy. Each row gets a group code from
    the Arrow key columns (NULL is a key value of its own) and each
    group a partition-wide slot, numbered from 0 as the groups
    arrive. ``new_fold()`` is called once per partition and
    returns the family's fold, which has two methods:
    ``fold(batch, slot, n)`` folds a batch into slots ``0 .. n-1``,
    ``slot`` being each row's slot; ``emit(n)`` returns the values of
    ``fields`` for slots ``0 .. n-1``, one column per field, in slot
    order. Keys are emitted as the Arrow values that arrived, so a
    bigint key above 2^53 keeps its exact value whatever shares its
    batch."""
    keys = list(keys)
    schema = StructType([df.schema[k] for k in keys] + list(fields))
    out_schema = arrow_schema(df.sparkSession, schema)

    def build(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        fold = new_fold()
        slots: dict[tuple, int] = {}
        heads: list[list[pa.Array]] = []  # key values of the slots each batch opened
        for batch in batches:
            if batch.num_rows == 0:
                continue
            first, code = _group_codes(batch, keys)
            key_cols = [batch.column(c).take(first) for c in keys]
            # with no keys the batch is one group, keyed ()
            tuples = list(zip(*(c.to_pylist() for c in key_cols))) or [()]
            new = [i for i, t in enumerate(tuples) if t not in slots]
            for i in new:
                slots[tuples[i]] = len(slots)
            if new:
                heads.append([c.take(new) for c in key_cols])
            slot = np.fromiter((slots[t] for t in tuples), np.int64, len(tuples))[code]
            fold.fold(batch, slot, len(slots))
        n = len(slots)
        if not n:
            return
        cols = [pa.concat_arrays([h[i] for h in heads]) for i in range(len(keys))]
        cols += [c if isinstance(c, pa.Array) else pa.array(c) for c in fold.emit(n)]
        yield pa.RecordBatch.from_arrays(
            [c.cast(f.type) for c, f in zip(cols, out_schema)], schema=out_schema
        )

    return df.mapInArrow(build, schema)


def _slot_rows(batch: pa.RecordBatch, slot: np.ndarray) -> Iterator[tuple[int, pa.RecordBatch]]:
    """Each slot of ``batch`` with its rows, in their batch order: one
    stable sort of the slots and one ``take`` per batch (none when the
    batch holds one slot), then a zero-copy slice per slot."""
    order = np.argsort(slot, kind="stable")
    ordered = slot[order]
    starts = np.flatnonzero(np.r_[True, ordered[1:] != ordered[:-1]])
    if len(starts) == 1:
        yield int(slot[0]), batch
        return
    batch = batch.take(pa.array(order))
    for a, b in zip(starts, [*starts[1:], len(slot)]):
        yield int(ordered[a]), batch.slice(a, b - a)


class SlotStates:
    """A ``keyed_partials`` fold that keeps one state per slot:
    ``new_state()`` opens a slot, ``update(state, rows)`` folds a
    slot's rows of one batch and returns the state, and
    ``emit(states)`` returns the value columns."""

    def __init__(self, new_state, update, emit):
        self.new_state, self.update, self._emit = new_state, update, emit
        self.states: list = []

    def fold(self, batch: pa.RecordBatch, slot: np.ndarray, n: int) -> None:
        self.states += [self.new_state() for _ in range(n - len(self.states))]
        for s, rows in _slot_rows(batch, slot):
            self.states[s] = self.update(self.states[s], rows)

    def emit(self, n: int) -> list:
        return self._emit(self.states)


def grouped_apply(
    df: DataFrame,
    keys: Sequence[str],
    per_group_fn: Callable[[pd.DataFrame], pd.DataFrame],
    fields: Sequence[StructField],
) -> DataFrame:
    """The reduce step every sketch family shares: apply
    ``per_group_fn`` once per ``keys`` group (once in all when ``keys``
    is empty) and emit what it returns as rows of ``keys`` followed by
    ``fields``.

    Keyed: cluster by ``keys``, sort within partitions and stream the
    groups through one ``mapInArrow``: one Arrow stream per partition,
    where ``applyInPandas`` sends each group as its own. Each group
    still costs a pandas conversion and a call of ``per_group_fn``;
    measured on a 4 vCPU VM over 4,000 ten-row groups in 4 partitions,
    a group adds about 0.1 ms of wall time here against 0.4–0.5 ms
    under ``applyInPandas``. A call over few groups is dominated by
    neither but by the fixed cost of each Python task: on that VM
    about 45 ms from submit to the function's first line in a warm
    worker, and about 235 ms when the worker's
    ``importlib.invalidate_caches()`` re-reads every zip archive (see
    ``hyper_spark.packaging`` and ``tools/python_task_overhead.py``).
    Global: one ``SinglePartition`` exchange and one call over the
    partition's rows. Empty input yields no rows either way, like
    ``groupBy().applyInPandas``. NULL keys form one group.

    Groups are split on the Arrow key columns, before any pandas
    conversion, and each group reaches ``per_group_fn`` with the
    dtypes ``applyInPandas`` would give it: an integral column holding
    a NULL turns float64 only in the groups that hold the NULL, so a
    bigint key above 2^53 is never rounded by a neighbouring group. A
    keyed group may arrive as a slice whose index need not start at 0,
    so ``per_group_fn`` reads rows by position (``iloc``), not by
    label."""
    keys = list(keys)
    schema = StructType([df.schema[k] for k in keys] + list(fields))
    frames = _GroupFrames(df.sparkSession, schema)
    if not keys:
        return df.repartition(1).mapInArrow(_apply_once(per_group_fn, frames), schema)
    return (
        df.repartition(*keys)
        .sortWithinPartitions(*keys)
        .mapInArrow(_stream_groups(per_group_fn, keys, frames), schema)
    )


class _GroupFrames:
    """Arrow <-> pandas with the conversions of Spark's grouped-map
    pandas UDFs (pyspark's ``GroupPandasUDFSerializer``), configured
    from the session the way the Python worker configures it."""

    def __init__(self, spark, schema: StructType):
        from pyspark.sql.pandas.serializers import GroupPandasUDFSerializer
        from pyspark.sql.pandas.types import to_arrow_type

        def flag(key: str, default: str) -> bool:
            return spark.conf.get(key, default).lower() == "true"

        self._ser = GroupPandasUDFSerializer(
            spark.conf.get("spark.sql.session.timeZone"),
            flag("spark.sql.execution.pandas.convertToArrowArraySafely", "false"),
            flag("spark.sql.legacy.execution.pandas.groupedMap.assignColumnsByName", "true"),
            flag("spark.sql.execution.pythonUDF.pandas.intToDecimalCoercionEnabled", "false"),
        )
        self._out_type = to_arrow_type(
            schema,
            prefers_large_types=flag("spark.sql.execution.arrow.useLargeVarTypes", "false"),
        )

    def to_pandas(self, table: pa.Table) -> pd.DataFrame:
        cols = [self._ser.arrow_to_pandas(c, i) for i, c in enumerate(table.itercolumns())]
        return pd.concat(cols, axis=1)

    def groups(self, table: pa.Table, starts: np.ndarray) -> Iterator[pd.DataFrame]:
        """Each group of ``table`` (groups begin at the row offsets
        ``starts``) as its own frame. Only integral and boolean columns
        change dtype with a NULL present; when none holds a NULL the
        table converts once and the groups are row slices of it."""
        ends = [*starts[1:], table.num_rows]
        if any(
            (pa.types.is_integer(c.type) or pa.types.is_boolean(c.type)) and c.null_count
            for c in table.itercolumns()
        ):
            for a, b in zip(starts, ends):
                yield self.to_pandas(table.slice(a, b - a))
            return
        pdf = self.to_pandas(table)
        for a, b in zip(starts, ends):
            yield pdf.iloc[a:b]

    def to_arrow(self, pdf: pd.DataFrame) -> pa.RecordBatch:
        batch = self._ser._create_batch([(pdf, self._out_type)])
        return pa.RecordBatch.from_struct_array(batch.column(0))

    def outputs_to_arrow(self, outs: list[pd.DataFrame]) -> Iterator[pa.RecordBatch]:
        """The groups' outputs as Arrow, each converted as if alone:
        they are concatenated in pandas only when their dtypes agree,
        so one group's NaN key cannot turn the others' keys float64."""
        if all(o.dtypes.equals(outs[0].dtypes) for o in outs[1:]):
            yield self.to_arrow(pd.concat(outs, ignore_index=True))
        else:
            yield from map(self.to_arrow, outs)


def _apply_once(per_group_fn, frames: _GroupFrames):
    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        parts = [b for b in batches if b.num_rows]
        if parts:
            table = pa.Table.from_batches(parts)
            yield frames.to_arrow(per_group_fn(frames.to_pandas(table)))

    return run


def _same_group(a, b) -> np.ndarray:
    """Row-wise: do the key values ``a[i]`` and ``b[i]`` fall in one
    group? NULLs group together, and so do NaNs."""
    same = pc.or_(
        pc.fill_null(pc.equal(a, b), False),
        pc.and_(pc.is_null(a), pc.is_null(b)),
    )
    if pa.types.is_floating(a.type):
        both_nan = pc.fill_null(pc.and_(pc.is_nan(a), pc.is_nan(b)), False)
        same = pc.or_(same, both_nan)
    return same.to_numpy(zero_copy_only=False)


def _group_starts(table: pa.Table, keys: list[str]) -> np.ndarray:
    """Row offsets at which a key-sorted table starts a new group."""
    n = table.num_rows
    new = np.ones(n, dtype=bool)
    same = np.ones(n - 1, dtype=bool)
    for k in keys:
        col = table.column(k)
        same &= _same_group(col.slice(1), col.slice(0, n - 1))
    new[1:] = ~same
    return np.flatnonzero(new)


def _stream_groups(per_group_fn, keys: list[str], frames: _GroupFrames):
    """Split key-sorted batches into groups. The trailing (possibly
    incomplete) group of every batch is carried into the next; outputs
    are batched into one record batch per input batch where their
    dtypes allow."""

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        tail = None
        for batch in batches:
            if batch.num_rows == 0:
                continue
            table = pa.Table.from_batches([batch])
            if tail is None:
                starts = _group_starts(table, keys)
            else:
                # the carried group's last row decides whether the
                # batch's first row opens a new group
                edge = pa.concat_tables([tail.slice(tail.num_rows - 1), table])
                starts = np.concatenate(
                    [[0], _group_starts(edge, keys)[1:] + tail.num_rows - 1]
                )
                table = pa.concat_tables([tail, table])
            last = int(starts[-1])
            tail = table.slice(last)
            if last:
                done = frames.groups(table.slice(0, last), starts[:-1])
                yield from frames.outputs_to_arrow([per_group_fn(g) for g in done])
        if tail is not None:
            yield frames.to_arrow(per_group_fn(frames.to_pandas(tail)))

    return run

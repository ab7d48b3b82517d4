"""One bucketed-state core for the sliding sketch families.

Every sliding family (sliding_hll, sliding_cms, sliding_theta,
sliding_dd, sliding_moments, sliding_tuple) keeps the same relational
state: rows keyed by ``(*keys, bucket_ts, *cells)`` whose values fold
under one monoid — register ``max``, counter ``sum``, power sums with
min/max, distinct hashes, summary sums. A family is therefore a
``SlidingSpec`` — its cell columns, its fold aggregates, its lineage
columns (build parameters every row carries) and an optional re-trim
(the per-bucket k-min of theta/tuple, the per-register Pareto front of
HLL) — and one set of functions serves all of them:

* ``build_cells``: the bucketed fold of raw rows, shared by each batch
  ``*_table`` and its streaming twin (the watermark applies only to a
  streaming frame; ``F.window`` drops NULL timestamps in both);
* ``merge``: union → fold → re-trim;
* ``expire``: a range predicate on ``bucket_ts``;
* ``coarsen``: keep the recent buckets, re-bucket the older ones to
  ``F.window(bucket_ts, grain).start``, fold, re-trim;
* ``read_lineage``: the one driver read of the lineage columns;
* ``window_cutoffs`` / ``stack_windows`` / ``windowed_read``: the
  trailing-window read — every window's cutoff as a foldable Column
  (no Spark job before the action) and one row per window.

Cutoff alignment (the contract every coarsen shares): re-bucketing
commutes with the fold, so coarse-aligned windows read identically
from the coarsened state. The recent/archive split point must itself
sit on a coarse boundary, or the straddling coarse bucket will claim
fine buckets newer than the cutoff.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce
from typing import Callable, Mapping, Sequence

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql.window import Window

__all__ = [
    "SlidingSpec",
    "build_cells",
    "merge",
    "expire",
    "coarsen",
    "read_lineage",
    "kmin",
    "bucket_kmin",
    "window_cutoffs",
    "window_aggs",
    "stack_windows",
    "windowed_read",
    "pack_keys",
    "unpack_keys",
    "bucket_start",
    "bucket_seconds",
    "epoch_seconds",
    "interval_seconds_col",
    "interval_seconds",
]


@dataclass(frozen=True)
class SlidingSpec:
    """A sliding family's state: ``cells`` (with the keys and
    ``bucket_ts``, the fold group), ``fold`` (the state's columns ->
    the fold aggregates; none means a distinct set), ``lineage``
    (grouped through every fold) and ``retrim`` ((folded, keys,
    lineage row) -> the trimmed state; the lineage row is read only
    when the spec has lineage)."""

    name: str
    cells: tuple[str, ...]
    fold: Callable[[Sequence[str]], list[Column]]
    lineage: tuple[str, ...] = ()
    retrim: Callable[[DataFrame, list[str], Row | None], DataFrame] | None = None


def bucket_start(ts_col: str, grain: str) -> Column:
    """The grain bucket of a timestamp column: its window start."""
    return F.window(F.col(ts_col), grain).start.cast("timestamp")


def bucket_seconds() -> Column:
    return F.col("bucket_ts").cast("timestamp").cast("double")


def epoch_seconds(ts: str) -> Column:
    return F.lit(ts).cast("timestamp").cast("double")


def interval_seconds_col(interval: str) -> Column:
    """An interval string ('7 days') in seconds, parsed JVM-side so the
    grammar is ``F.window``'s; foldable, so it costs no Spark job."""
    return F.expr(f"cast(cast(INTERVAL '{interval}' as interval second) as long)")


def interval_seconds(spark, interval: str) -> float:
    """``interval_seconds_col`` as a Python float (one Spark job), for
    driver-side guards."""
    row = spark.range(1).select(interval_seconds_col(interval).alias("s")).collect()
    return float(row[0]["s"])


def build_cells(
    df: DataFrame,
    ts_col: str,
    keys: Sequence[str],
    grain: str,
    watermark: str | None,
    where: Column,
    prep: Sequence[Column],
    cells: Sequence[str],
    aggs: Sequence[Column],
    lineage: Sequence[Column] = (),
) -> DataFrame:
    """Fold raw rows into grain buckets: DataFrame[*keys, bucket_ts,
    *cells, *aggs, *lineage]. ``prep`` derives the cell and value
    columns the aggregates read; rows failing ``where`` are skipped;
    ``watermark`` applies when ``df`` is streaming."""
    keys = list(keys)
    src = df.withWatermark(ts_col, watermark) if df.isStreaming else df
    grouped = (
        src.filter(where)
        .select(*keys, F.col(ts_col), *prep)
        .groupBy(*keys, F.window(F.col(ts_col), grain).alias("__w"), *cells)
        .agg(*aggs)
    )
    values = [c for c in grouped.columns if c not in (*keys, "__w", *cells)]
    return grouped.select(
        *keys,
        F.col("__w.start").cast("timestamp").alias("bucket_ts"),
        *cells,
        *values,
        *lineage,
    )


def _fold(spec: SlidingSpec, df: DataFrame, keys: Sequence[str]) -> DataFrame:
    group = [*keys, "bucket_ts", *spec.cells, *spec.lineage]
    aggs = spec.fold(df.columns)
    out = df.groupBy(*group).agg(*aggs) if aggs else df.select(*group).distinct()
    return out.select(*[c for c in df.columns if c in out.columns])


def _retrim(spec: SlidingSpec, out: DataFrame, keys: list[str], meta) -> DataFrame:
    return spec.retrim(out, keys, meta) if spec.retrim else out


def _trim_lineage(spec: SlidingSpec, state: DataFrame) -> Row | None:
    if spec.retrim and spec.lineage:
        return read_lineage(state, spec.lineage, spec.name)
    return None


def merge(
    spec: SlidingSpec, states: Sequence[DataFrame], keys: Sequence[str]
) -> DataFrame:
    """Merge same-lineage shard/checkpoint/incremental states: union,
    fold, re-trim — lossless, so it equals the direct build of the
    combined input."""
    if not states:
        raise ValueError("no states to merge")
    keys = list(keys)
    u = reduce(DataFrame.unionByName, states)
    return _retrim(spec, _fold(spec, u, keys), keys, _trim_lineage(spec, u))


def expire(state: DataFrame, older_than_ts: str) -> DataFrame:
    """Drop buckets strictly older than the cutoff — a plain range
    predicate, partition-prunable on a bucket_ts-partitioned store. A
    Pareto front minus its oldest suffix is still a front, and every
    other family's buckets are independent, so no re-trim is needed."""
    return state.filter(
        F.col("bucket_ts").cast("timestamp")
        >= F.lit(older_than_ts).cast("timestamp")
    )


def coarsen(
    spec: SlidingSpec,
    state: DataFrame,
    keys: Sequence[str],
    older_than_ts: str,
    grain: str,
) -> DataFrame:
    """Tiered retention: re-bucket history strictly OLDER than the
    cutoff to the coarser ``grain`` and fold it, keep the recent
    buckets, re-trim the union (the HLL front must see both sides; a
    per-bucket k-min leaves trimmed recent buckets as they are).
    Lossless for every window whose oldest edge aligns to the coarse
    grain (module doc)."""
    keys = list(keys)
    meta = _trim_lineage(spec, state)
    cut = F.lit(older_than_ts).cast("timestamp")
    b = F.col("bucket_ts").cast("timestamp")
    coarse = bucket_start("bucket_ts", grain)
    old = _fold(spec, state.filter(b < cut).withColumn("bucket_ts", coarse), keys)
    return _retrim(spec, state.filter(b >= cut).unionByName(old), keys, meta)


def read_lineage(state: DataFrame, cols: Sequence[str], name: str) -> Row:
    """The state's single lineage row — one driver action; raises on
    an empty state or on states built with different parameters."""
    metas = state.select(*cols).distinct().take(2)
    if not metas:
        raise ValueError(f"empty {name} state")
    if len(metas) > 1:
        raise ValueError(
            f"mixed ({', '.join(cols)}) {name} states cannot be queried together"
        )
    return metas[0]


def kmin(entries: DataFrame, group: Sequence[str], k: int) -> DataFrame:
    """k smallest h per group: partition-local prune bounds every
    per-group sort at n_partitions x k rows, then the global rank."""
    local = Window.partitionBy(F.spark_partition_id(), *group).orderBy("h")
    w = Window.partitionBy(*group).orderBy("h")
    return (
        entries.withColumn("__lrn", F.row_number().over(local))
        .filter(F.col("__lrn") <= k)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__lrn", "__rn")
    )


def bucket_kmin(df: DataFrame, keys: list[str], meta: Row) -> DataFrame:
    """The theta/tuple re-trim: the k smallest hashes per bucket."""
    return kmin(df, [*keys, "bucket_ts"], int(meta["k"]))


def window_cutoffs(t_ref: str, windows: Mapping[str, str]) -> list[tuple[str, Column]]:
    """(label, cutoff) per trailing window ending at ``t_ref``: the
    cutoff is epoch seconds as a foldable Column — a bucket is in the
    window iff its start is at/after it."""
    if not windows:
        raise ValueError("windows is empty: name at least one trailing window")
    ref = epoch_seconds(t_ref)
    return [(lab, ref - interval_seconds_col(span)) for lab, span in windows.items()]


def stack_windows(
    df: DataFrame,
    keys: Sequence[str],
    carry: Sequence[str],
    cutoffs: Sequence[tuple[str, Column]],
    fields: Callable[[int, Column], Sequence[Column]],
) -> DataFrame:
    """One row per window: DataFrame[*keys, window, *carry, *fields]
    where ``fields(i, cutoff)`` are window i's aliased columns."""
    keys, carry = list(keys), list(carry)
    s = F.explode(
        F.array(
            *[
                F.struct(F.lit(lab).alias("window"), *fields(i, cut))
                for i, (lab, cut) in enumerate(cutoffs)
            ]
        )
    ).alias("__s")
    out = df.select(*keys, *carry, s)
    names = [f.name for f in out.schema["__s"].dataType.fields][1:]
    return out.select(
        *keys, "__s.window", *carry, *[F.col(f"__s.{n}").alias(n) for n in names]
    )


def window_aggs(
    cutoffs: Sequence[tuple[str, Column]],
    aggs: Callable[[Column], Mapping[str, Column]],
) -> list[Column]:
    """Every window's conditional aggregates in one pass: ``aggs(in
    window)`` (name -> Column) per window, named ``__{i}_{name}``."""
    b = bucket_seconds()
    return [
        c.alias(f"__{i}_{n}")
        for i, (_, cut) in enumerate(cutoffs)
        for n, c in aggs(b >= cut).items()
    ]


def windowed_read(
    state: DataFrame,
    keys: Sequence[str],
    carry: Sequence[str],
    t_ref: str,
    windows: Mapping[str, str],
    aggs: Callable[[Column], Mapping[str, Column]],
) -> DataFrame:
    """The trailing-window read at ``t_ref``: per (*keys, *carry) one
    conditional-aggregate pass over the state for every window, then
    one row per window — DataFrame[*keys, window, *carry, *aggs]."""
    cutoffs = window_cutoffs(t_ref, windows)
    names = list(aggs(F.lit(True)))
    per = state.groupBy(*keys, *carry).agg(*window_aggs(cutoffs, aggs))
    return stack_windows(
        per,
        keys,
        carry,
        cutoffs,
        lambda i, _: [F.col(f"__{i}_{n}").alias(n) for n in names],
    )


def pack_keys(df: DataFrame, keys: Sequence[str]) -> tuple[DataFrame, list[str]]:
    """(df with ``__g``, ["__g"]): the group keys as one never-NULL
    struct, so joins on it match NULL keys. Unlike ``eqNullSafe``
    (which Spark plans as coalesce/isnull join keys) the join key stays
    the grouping column, so an input already partitioned by ``__g``
    needs no second exchange. No keys: (df, [])."""
    if not keys:
        return df, []
    return df.withColumn("__g", F.struct(*keys)), ["__g"]


def unpack_keys(keys: Sequence[str]) -> list[Column]:
    return [F.col("__g").getField(k).alias(k) for k in keys]

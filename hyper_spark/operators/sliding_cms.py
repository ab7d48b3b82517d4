"""Sliding-window count-min + heavy hitters: frequency/top-k over ANY
trailing window from one bucketed state.

The CMS companion to operators/sliding_hll.py (the north star's
"heavy-hitter tool counts" question, windowed after the fact): counter
cells merge by SUM, so a state of per-grain-bucket cells answers every
trailing window by summing the in-window buckets — one build, every
window. The candidate problem (a CMS can estimate but not enumerate)
is solved per bucket: `local_topk_candidates`'s Misra-Gries clause
guarantees each bucket emits every item with in-bucket share >= 1/k,
and an item with SHARE >= 1/k over a grain-aligned window must have
share >= 1/k in at least one of its buckets (averaging) — so every
window heavy hitter is in the union of the window's candidate sets.

State (both relational, parquet-persistable, partition-prunable on
bucket_ts):

* cells:      (*keys, bucket_ts, row, bucket, cnt) + (depth, width,
              hash_fn) lineage columns — at most depth x width cells
              per (group, bucket) no matter how many raw rows;
* candidates: (*keys, bucket_ts, <col>) — at most
              n_partitions x (k*fanout + k) per (group, bucket).

Query = one conditional-sum pass over cells (ALL windows at once, the
sliding_estimates shape) + candidate probe join + per-(group, window)
top-k rank. Pure JVM end to end; raw rows are touched only at build.

Estimates carry the standard CMS one-sided guarantee per window:
true <= est <= true + (e/width) * N_window with prob >= 1 - e^-depth
(kernel/cms.py:9-10). Exactness note: when width >= the number of
distinct in-window items there are still collisions across GRAIN
BUCKETS only if items collide in a row — same cell algebra as a
single CMS of the window's rows, so bounds are those of a plain CMS
built on exactly the window (parity pytest-asserted).

The cells are the core's CMS spec (operators/sliding.py: cells (row,
bucket), fold ``sum(cnt)``, lineage (depth, width, hash_fn)); the
candidates fold by distinct union. Merge, expire, coarsen, the cell
build shared with streaming/sliding_cms_stream.py and the window
cutoffs are the core's; the top-k read is this module's.
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hyper_spark.operators import sliding as core
from hyper_spark.operators.cms_agg import cms_bucket_col, local_topk_candidates

__all__ = [
    "sliding_cms_table",
    "sliding_cms_merge",
    "sliding_cms_expire",
    "sliding_cms_coarsen",
    "sliding_cms_topk",
]

SPEC = core.SlidingSpec(
    "cell",
    ("row", "bucket"),
    lambda cols: [F.sum("cnt").alias("cnt")],
    lineage=("depth", "width", "hash_fn"),
)


def _cands_spec(cands: DataFrame, keys: Sequence[str]) -> core.SlidingSpec:
    """Candidate sets fold by distinct union on their item column."""
    item = tuple(c for c in cands.columns if c not in (*keys, "bucket_ts"))
    return core.SlidingSpec("candidate", item, lambda cols: [])


def cms_cells(
    df: DataFrame,
    ts_col: str,
    keys: Sequence[str],
    col: str | Column,
    grain: str,
    depth: int,
    width: int,
    hash_fn: str,
    watermark: str = "1 hour",
) -> DataFrame:
    """Per (keys, grain bucket, row, bucket) the count:
    DataFrame[*keys, bucket_ts, row, bucket, cnt, depth, width,
    hash_fn] — the cell build shared by the batch table and its
    streaming twin."""
    c = F.col(col) if isinstance(col, str) else col
    rows = F.posexplode(
        F.array(*[cms_bucket_col(c, i, width, hash_fn) for i in range(depth)])
    )
    return core.build_cells(
        df, ts_col, keys, grain, watermark, c.isNotNull(),
        [rows.alias("row", "bucket")], ["row", "bucket"],
        [F.count(F.lit(1)).alias("cnt")],
        [F.lit(depth).alias("depth"), F.lit(width).alias("width"),
         F.lit(hash_fn).alias("hash_fn")],
    )


def sliding_cms_table(
    df: DataFrame,
    ts_col: str,
    keys: Sequence[str],
    col: str | Column,
    grain: str = "1 day",
    depth: int = 5,
    width: int = 2048,
    k: int = 16,
    fanout: int = 4,
    hash_fn: str = "xxhash64",
) -> tuple[DataFrame, DataFrame]:
    """Build the sliding state -> (cells, candidates); see module doc.
    ``k`` bounds the per-bucket candidate guarantee (share >= 1/k);
    query with any k' <= k."""
    c = F.col(col) if isinstance(col, str) else col
    name = col if isinstance(col, str) else df.select(col).columns[0]
    keys = list(keys)
    t = F.col(ts_col).cast("timestamp")
    base = df.filter(c.isNotNull() & t.isNotNull()).select(
        *keys, core.bucket_start(ts_col, grain).alias("bucket_ts"), c.alias(name)
    )
    cands = local_topk_candidates(
        base, name, k, fanout=fanout, by=["bucket_ts", *keys]
    ).select(*keys, "bucket_ts", name)
    return cms_cells(df, ts_col, keys, col, grain, depth, width, hash_fn), cands


def sliding_cms_merge(
    cell_states: Sequence[DataFrame],
    cand_states: Sequence[DataFrame],
    keys: Sequence[str],
) -> tuple[DataFrame, DataFrame]:
    """Merge same-(grain, depth, width, hash_fn) shard/checkpoint/
    incremental states: counter cells SUM, candidate sets UNION —
    both lossless, so the merge equals the direct build of the
    combined input (pytest-asserted)."""
    if not cell_states or not cand_states:
        raise ValueError("no states to merge")
    return (
        core.merge(SPEC, cell_states, keys),
        core.merge(_cands_spec(cand_states[0], keys), cand_states, keys),
    )


def sliding_cms_expire(
    cells: DataFrame, cands: DataFrame, older_than_ts: str
) -> tuple[DataFrame, DataFrame]:
    """Drop buckets strictly older than the cutoff from both tables —
    plain range predicates, partition-prunable on a bucket_ts-
    partitioned store (the core's ``expire``)."""
    return core.expire(cells, older_than_ts), core.expire(cands, older_than_ts)


def sliding_cms_coarsen(
    cells: DataFrame,
    cands: DataFrame,
    keys: Sequence[str],
    older_than_ts: str,
    grain: str,
) -> tuple[DataFrame, DataFrame]:
    """Tiered retention: re-bucket history strictly OLDER than the
    cutoff to a coarser grain (counter cells SUM into the coarse
    bucket — exactly the window-sum the query performs, so coarse-
    aligned windows return identical results from fewer rows);
    candidate sets re-bucket by distinct union. The candidate
    1/k-share guarantee weakens to the COARSE bucket for archived
    history (an item needs share >= 1/k in some coarse bucket) — the
    usual tiered-rollup trade. Cutoff must sit on a coarse boundary
    (the core's cutoff-alignment contract, operators/sliding.py)."""
    return (
        core.coarsen(SPEC, cells, keys, older_than_ts, grain),
        core.coarsen(_cands_spec(cands, keys), cands, keys, older_than_ts, grain),
    )


def sliding_cms_topk(
    cells: DataFrame,
    cands: DataFrame,
    keys: Sequence[str],
    col: str,
    t_ref: str,
    windows: Mapping[str, str],
    k: int,
    params: tuple[int, int, str] | None = None,
) -> DataFrame:
    """Top-k items per (group, trailing window) queried at ``t_ref``:
    DataFrame[*keys, window, <col>, estimate]. ``windows`` maps
    label -> interval ('7 days'). Grain-aligned windows carry the full
    CMS guarantee + candidate completeness (module doc); unaligned
    ones include the partially-covered oldest bucket in full.

    One conditional-sum pass over cells covers every window; the
    candidate probe re-derives the depth bucket expressions from the
    state's recorded (depth, width, hash_fn) lineage, so mixing states
    built with different parameters fails loudly. Reading the lineage
    is one driver action on ``cells`` — cheap on a persisted state
    table (the operational shape), but it recomputes an unpersisted
    build plan once; when composing build+query in one plan either
    persist the state or pass ``params=(depth, width, hash_fn)`` to
    skip the introspection. Groups join on the packed keys, so a NULL
    key is a group like any other."""
    keys = list(keys)
    cutoffs = core.window_cutoffs(t_ref, windows)
    if params is None:
        params = tuple(core.read_lineage(cells, SPEC.lineage, SPEC.name))
    depth, width, hash_fn = params
    b = core.bucket_seconds()
    cells, g = core.pack_keys(cells, keys)
    cands, _ = core.pack_keys(cands, keys)
    summed = (
        cells.groupBy(*g, "row", "bucket")
        .agg(*core.window_aggs(
            cutoffs,
            lambda inw: {"c": F.sum(F.when(inw, F.col("cnt")).otherwise(0))},
        ))
    )
    probe = (
        cands.groupBy(*g, col)
        .agg(F.max(b).alias("__newest"))
        .select(
            *g,
            col,
            "__newest",
            F.posexplode(
                F.array(
                    *[
                        cms_bucket_col(F.col(col), i, width, hash_fn)
                        for i in range(depth)
                    ]
                )
            ).alias("row", "bucket"),
        )
    )
    per_item = (
        probe.join(summed, on=[*g, "row", "bucket"], how="left")
        .groupBy(*g, col)
        .agg(
            F.max("__newest").alias("__newest"),
            *[
                F.min(F.coalesce(F.col(f"__{i}_c"), F.lit(0))).alias(f"__e_{i}")
                for i in range(len(cutoffs))
            ],
        )
    )
    stacked = core.stack_windows(
        per_item,
        g,
        [col],
        cutoffs,
        lambda i, cut: [
            F.col(f"__e_{i}").alias("estimate"),
            (F.col("__newest") >= cut).alias("__in"),
        ],
    ).filter(F.col("__in") & (F.col("estimate") > 0))
    w = Window.partitionBy(*g, "window").orderBy(
        F.desc("estimate"), F.col(col)
    )
    return (
        stacked.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .select(*core.unpack_keys(keys), "window", col, "estimate")
    )

"""Sliding-window Tuple sketches: any-trailing-window distinct-key
counts AND per-key-aggregated subset sums, asked after the fact, from
one retained state.

Completes the sliding family (sliding_hll / sliding_cms /
sliding_theta / sliding_dd / sliding_moments) with the tuple_agg
question: "how much value did the distinct users of the last 7/30/365
days account for" — at any trailing window, without rescanning raw
history. Same published semantics as operators/tuple_agg.py (the
Tuple generalization of the theta framework, Dasgupta et al. 2016 §6)
bucketed by the sliding doctrine.

Why the state is lossless for every trailing window: the state keeps,
per (group, grain-bucket), the k smallest distinct key-hashes with
the key's EXACT in-bucket value sum. For any bucket subset W:

- entry coverage: a hash in the k-min of W's union is among the k
  smallest distinct hashes of W, hence among the k smallest of every
  in-W bucket where it appears (a bucket's keys are a subset of W's),
  so every union-k-min hash survives per-bucket trimming — the
  sliding_theta argument;
- summary coverage: by the same containment it survives in EVERY
  in-W bucket where it appeared, each carrying that bucket's exact
  per-key sum, so summing its retained summaries over W reproduces
  the key's exact window total.

Therefore the window query — per-(group, window, hash) summary sum
over in-window buckets, then a k-min trim — equals ``tuple_sketch_by``
run directly on the window's raw rows: hash set exactly, summaries up
to double addition order (bit-identical for integer-valued summaries;
pytest-asserted).

Merge/expire/coarsen follow the family contracts: shard merge sums
same-(bucket, hash) summaries (row-disjoint shards, the CMS counter
doctrine) and re-trims per bucket; expiry is a partition-prunable
range filter; tiered-retention coarsening re-buckets old history to a
coarser grain (summary sums + re-trim) and is lossless for every
window whose oldest edge aligns to the coarse grain — the same
containment argument applied to the coarse bucket.

Everything is whole-stage codegen: build = one groupBy shuffle + the
partition-local k-min prune; queries are one conditional-sum pass
over ≤ k rows per (group, bucket). Zero Python.

The state is the core's tuple spec (operators/sliding.py: cells ``h``,
fold ``sum(summary)``, lineage (k, hash_fn), re-trim the per-bucket
k-min); merge, expire, coarsen and the window cutoffs are the core's.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hyper_spark.operators import sliding as core
from hyper_spark.operators.sliding import kmin as _kmin
from hyper_spark.operators.tuple_agg import _hash_col, _theta

__all__ = [
    "sliding_tuple_table",
    "sliding_tuple_merge",
    "sliding_tuple_expire",
    "sliding_tuple_coarsen",
    "sliding_tuple_estimates",
]

SPEC = core.SlidingSpec(
    "sliding tuple",
    ("h",),
    lambda cols: [F.sum("summary").alias("summary")],
    lineage=("k", "hash_fn"),
    retrim=core.bucket_kmin,
)


def sliding_tuple_table(
    df: DataFrame,
    ts_col: str,
    keys: Sequence[str],
    id_col: str | Column,
    val_col: str | Column,
    k: int = 4096,
    grain: str = "1 day",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Build the sliding state: DataFrame[*keys, bucket_ts, h, summary,
    k, hash_fn] — per (group, grain-bucket) the k smallest distinct
    key-hashes, each carrying the key's exact in-bucket sum of
    ``val_col`` (NULL values count 0; NULL keys/timestamps skipped)."""
    if k < 3:
        raise ValueError("k must be >= 3")
    keys = list(keys)
    idc = F.col(id_col) if isinstance(id_col, str) else id_col
    valc = F.col(val_col) if isinstance(val_col, str) else val_col
    t = F.col(ts_col).cast("timestamp")
    per_key = (
        df.filter(idc.isNotNull() & t.isNotNull())
        .select(
            *keys,
            core.bucket_start(ts_col, grain).alias("bucket_ts"),
            _hash_col(idc, hash_fn).alias("h"),
            valc.cast("double").alias("__v"),
        )
        .groupBy(*keys, "bucket_ts", "h")
        .agg(F.coalesce(F.sum("__v"), F.lit(0.0)).alias("summary"))
    )
    return _kmin(per_key, [*keys, "bucket_ts"], k).select(
        "*", F.lit(k).alias("k"), F.lit(hash_fn).alias("hash_fn")
    )


def sliding_tuple_merge(
    states: Sequence[DataFrame], keys: Sequence[str]
) -> DataFrame:
    """Merge row-disjoint shard/checkpoint/incremental states:
    same-(group, bucket, hash) summaries SUM, then re-trim per bucket.
    Lossless vs the direct build of the combined input (hash set
    exact, summaries up to double addition order)."""
    return core.merge(SPEC, states, keys)


sliding_tuple_expire = core.expire


def sliding_tuple_coarsen(
    state: DataFrame,
    keys: Sequence[str],
    older_than_ts: str,
    grain: str,
) -> DataFrame:
    """Tiered retention: re-bucket history strictly OLDER than the
    cutoff to a coarser grain (per-key summaries SUM across the folded
    fine buckets, then one k-min re-trim per coarse bucket). Lossless
    for every window whose oldest edge aligns to the coarse grain —
    the module-docstring containment argument applied to the coarse
    bucket. Cutoff must sit on a coarse boundary (the core's
    cutoff-alignment contract, operators/sliding.py)."""
    return core.coarsen(SPEC, state, keys, older_than_ts, grain)


def sliding_tuple_estimates(
    state: DataFrame,
    keys: Sequence[str],
    t_ref: str,
    windows: Mapping[str, str],
    k: int | None = None,
) -> DataFrame:
    """Trailing-window tuple estimates at ``t_ref``: DataFrame[*keys,
    window, n_entries, distinct_est, sum_est, mean_est, exact]. Per
    (group, window, hash): summaries SUM over in-window buckets (the
    key's exact window total, by the module-docstring containment
    argument), then one k-min trim and the tuple_agg estimator —
    exact below saturation, Horvitz–Thompson above it. The state's
    hash_fn lineage is read with one driver action."""
    keys = list(keys)
    cutoffs = core.window_cutoffs(t_ref, windows)
    meta = core.read_lineage(state, SPEC.lineage, SPEC.name)
    k = int(meta["k"]) if k is None else k
    kf = float(k)
    b = core.bucket_seconds()
    stacked = (
        core.stack_windows(
            state, keys, ["h", "summary"], cutoffs,
            lambda i, cut: [(b >= cut).alias("__in")],
        )
        .filter(F.col("__in"))
        .groupBy(*keys, "window", "h")
        .agg(F.sum("summary").alias("summary"))
    )
    kept = _kmin(stacked, [*keys, "window"], k)
    w = Window.partitionBy(*keys, "window")
    pre = kept.withColumn("__kth", F.max("h").over(w))
    agg = pre.groupBy(*keys, "window").agg(
        F.count(F.lit(1)).alias("n_entries"),
        F.first("__kth").alias("__kth"),
        F.sum("summary").alias("__sum_all"),
        F.sum(
            F.when(F.col("h") < F.col("__kth"), F.col("summary"))
        ).alias("__sum_below"),
    )
    theta = _theta(F.col("__kth"), meta["hash_fn"])
    sat = F.col("n_entries") >= k
    distinct_est = F.when(sat, F.lit(kf - 1.0) / theta).otherwise(
        F.col("n_entries").cast("double")
    )
    sum_est = F.when(
        sat, F.coalesce(F.col("__sum_below"), F.lit(0.0)) / theta
    ).otherwise(F.col("__sum_all"))
    return agg.select(
        *keys,
        "window",
        "n_entries",
        distinct_est.alias("distinct_est"),
        sum_est.alias("sum_est"),
        F.when(distinct_est > 0, sum_est / distinct_est).alias("mean_est"),
        (~sat).alias("exact"),
    )

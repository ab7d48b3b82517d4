"""Tuple sketches: Theta/KMV entries carrying per-key aggregated
summaries — unbiased subset-SUM and mean over *distinct keys*, and
over set expressions (sum of A's metric over keys in A∩B), from one
bounded sample.

Why this exists next to the theta family: ``theta_by`` answers "how
many distinct users", but the natural follow-ups — "how much value do
those distinct users account for", "what's the total spend of users
active in BOTH weeks" — need a *summary* attached to each sampled
key. That is the published Tuple sketch generalization of the theta
framework (Dasgupta, Lang, Rhodes, Thaler 2016 §6, "A Framework for
Estimating Stream Expression Cardinalities"; the Apache DataSketches
Tuple sketch is the best-known implementation): keep the k smallest
distinct key-hashes, each carrying the key's aggregated value, and
estimate any subset-sum by Horvitz–Thompson — every distinct key
survives with probability theta, so ``sum(retained summaries)/theta``
is unbiased for the population total.

Representation — RELATIONAL, the sliding-family doctrine rather than
theta_agg's packed blobs: state rows ``(*keys, h, summary, k,
hash_fn)`` with the k smallest distinct hashes per group. Counters
and hashes stay JVM columns end to end (build, merge, estimate are
all whole-stage codegen — zero Python), plain parquet persists them,
and range/equality predicates prune them.

Exactness contract (the theta doctrine, kernel/theta.py): with fewer
than k distinct keys the entry set is COMPLETE and every estimate —
distinct count, subset sum, mean, intersection sum — is exact; the
``exact`` output column says which regime each row is in.

Merge contract (the CMS/DDSketch counter doctrine, NOT theta's
idempotent union): summaries of the same key combine by SUM, so
shards must partition the underlying ROWS (each observation counted
once). Merging row-disjoint shards is lossless: per-key sums combine
exactly, and the k smallest of the union is a subset of the union of
per-shard k smallest (each shard retains its k smallest, and a hash
in the merged k-min is in its own shard's k-min). Self-merge double
counts by design — same as summing a CMS with itself.

Hash functions:

- ``xxhash64`` (default): one codegen expression, signed ascending
  order == the kernel's flipped-uint64 order (sliding_theta.py:20).
- ``md5``: the oracle-parity opt-in — the 60-bit integer encoded by
  the first 15 hex chars of ``md5(key || ':t')``. Spark computes it
  as ``conv(substring(md5(..),1,15),16,10)`` and ANSI SQL engines
  reproduce it exactly (DuckDB ``('0x' || substring(md5(..),1,15))
  ::BIGINT``), so a SATURATED estimate — k-min selection, theta, the
  HT estimator — replays value-for-value in the correctness oracle
  (the countsketch md5 doctrine, cms_agg.py:61).

Scale shape: one ``groupBy(keys, id)`` shuffle computes exact per-key
summaries (map-side combined), then ``_kmin``'s partition-local prune
bounds every per-group sort at n_partitions × k rows before the
global rank — shuffle volume is O(groups × partitions × k), never
O(distinct keys). Estimates are one aggregate over ≤ k rows/group.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hyper_spark.kernel.theta import theta_rse
from hyper_spark.operators.sliding import kmin as _kmin

__all__ = [
    "tuple_sketch_by",
    "tuple_merge",
    "tuple_estimates",
    "tuple_intersect_sum",
    "tuple_threshold_count",
    "theta_rse",
]

_SUMMARY_AGGS = {"sum": F.sum, "min": F.min, "max": F.max}

_TWO60 = float(1 << 60)
_TWO63 = float(1 << 63)
_TWO64 = float(1 << 64)


def _hash_col(c: Column, hash_fn: str) -> Column:
    if hash_fn == "xxhash64":
        return F.xxhash64(c.cast("string"))
    if hash_fn == "md5":
        return F.conv(
            F.substring(
                F.md5(F.concat(c.cast("string"), F.lit(":t"))), 1, 15
            ),
            16,
            10,
        ).cast("long")
    raise ValueError(f"hash_fn must be 'xxhash64' or 'md5'; got {hash_fn!r}")


def _theta(kth: Column, hash_fn: str) -> Column:
    """Normalized k-th smallest hash — the inclusion probability."""
    if hash_fn == "md5":
        return kth.cast("double") / F.lit(_TWO60)
    return (kth.cast("double") + F.lit(_TWO63)) / F.lit(_TWO64)


def tuple_sketch_by(
    df: DataFrame,
    keys: Sequence[str],
    id_col: str | Column,
    val_col: str | Column,
    k: int = 4096,
    hash_fn: str = "xxhash64",
    summary: str = "sum",
) -> DataFrame:
    """Build per-group tuple sketches: DataFrame[*keys, h, summary,
    k, hash_fn] — the k smallest distinct key-hashes, each carrying
    the key's EXACT aggregate of ``val_col``. ``summary`` picks the
    per-key monoid (DataSketches Tuple's pluggable-summary idea):

    - ``'sum'`` (default): NULL values count as 0 (so an all-NULL key
      still carries 0.0) — feeds the HT subset-sum reads
      (tuple_estimates / tuple_intersect_sum);
    - ``'min'`` / ``'max'``: NULL values are skipped (an all-NULL key
      carries NULL summary) — first-seen / LAST-SEEN per distinct key
      when ``val_col`` is an event time, feeding
      ``tuple_threshold_count`` recency reads. Unlike sum, min/max
      merges are IDEMPOTENT, so overlapping shards are safe.

    NULL keys are skipped (the sketch_by contract). Merge and read
    calls must be told the same ``summary`` mode; the state schema is
    shared across modes (the sliding/streaming family's schema)."""
    if k < 3:
        raise ValueError("k must be >= 3")
    if summary not in _SUMMARY_AGGS:
        raise ValueError(
            f"summary must be one of {sorted(_SUMMARY_AGGS)}; got {summary!r}"
        )
    keys = list(keys)
    idc = F.col(id_col) if isinstance(id_col, str) else id_col
    valc = F.col(val_col) if isinstance(val_col, str) else val_col
    agg = _SUMMARY_AGGS[summary](F.col("__v"))
    if summary == "sum":
        agg = F.coalesce(agg, F.lit(0.0))
    per_key = (
        df.filter(idc.isNotNull())
        .select(*keys, idc.alias("__id"), valc.cast("double").alias("__v"))
        .groupBy(*keys, "__id")
        .agg(agg.alias("summary"))
        .select(
            *keys, _hash_col(F.col("__id"), hash_fn).alias("h"), "summary"
        )
    )
    return _kmin(per_key, keys, k).select(
        "*", F.lit(k).alias("k"), F.lit(hash_fn).alias("hash_fn")
    )


def _meta(state: DataFrame) -> tuple[int, str]:
    metas = state.select("k", "hash_fn").distinct().take(2)
    if not metas:
        raise ValueError("empty tuple-sketch state")
    if len(metas) > 1:
        raise ValueError("mixed (k, hash_fn) tuple-sketch states")
    return int(metas[0]["k"]), metas[0]["hash_fn"]


def tuple_merge(
    states: Sequence[DataFrame],
    keys: Sequence[str],
    summary: str = "sum",
) -> DataFrame:
    """Merge shard/checkpoint states with the build's ``summary``
    monoid, then re-trim to the k smallest per group. ``'sum'`` is the
    CMS counter contract — shards must partition the underlying ROWS
    (self-merge double counts); ``'min'``/``'max'`` are IDEMPOTENT
    (theta's union semantics — overlapping shards and self-merge are
    safe). Lossless either way: the merged hash set equals the direct
    build of the combined input exactly (each retained hash is in
    every shard-of-appearance's k-min, so no partial is missing); sum
    summaries agree up to double addition ORDER — bit-identical for
    integer-valued summaries — and min/max summaries exactly
    (pytest-asserted)."""
    if not states:
        raise ValueError("no states to merge")
    if summary not in _SUMMARY_AGGS:
        raise ValueError(
            f"summary must be one of {sorted(_SUMMARY_AGGS)}; got {summary!r}"
        )
    keys = list(keys)
    u = states[0]
    for s in states[1:]:
        u = u.unionByName(s)
    k, hash_fn = _meta(u)
    combined = u.groupBy(*keys, "h").agg(
        _SUMMARY_AGGS[summary]("summary").alias("summary")
    )
    return _kmin(combined, keys, k).select(
        "*", F.lit(k).alias("k"), F.lit(hash_fn).alias("hash_fn")
    )


def tuple_estimates(
    state: DataFrame, keys: Sequence[str], k: int | None = None
) -> DataFrame:
    """Read the state: DataFrame[*keys, n_entries, distinct_est,
    sum_est, mean_est, exact]. Below saturation (n_entries < k) the
    entry set is complete and everything is exact; saturated groups
    use the KMV estimator — entries strictly below theta (the k-th
    smallest hash) are a uniform distinct-key sample at rate theta,
    so ``distinct = (k-1)/theta`` and the Horvitz–Thompson subset sum
    is ``sum(their summaries)/theta``. One aggregate over ≤ k
    rows/group, pure JVM."""
    keys = list(keys)
    if k is None:
        k, hash_fn = _meta(state)
    else:
        _, hash_fn = _meta(state)
    kf = float(k)
    pre = state.withColumn("__kth", F.max("h").over(_group_window(keys)))
    agg = pre.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_entries"),
        F.first("__kth").alias("__kth"),
        F.sum("summary").alias("__sum_all"),
        F.sum(
            F.when(F.col("h") < F.col("__kth"), F.col("summary"))
        ).alias("__sum_below"),
    )
    theta = _theta(F.col("__kth"), hash_fn)
    sat = F.col("n_entries") >= k
    distinct_est = F.when(sat, F.lit(kf - 1.0) / theta).otherwise(
        F.col("n_entries").cast("double")
    )
    sum_est = F.when(
        sat, F.coalesce(F.col("__sum_below"), F.lit(0.0)) / theta
    ).otherwise(F.col("__sum_all"))
    return agg.select(
        *keys,
        "n_entries",
        distinct_est.alias("distinct_est"),
        sum_est.alias("sum_est"),
        F.when(
            distinct_est > 0, sum_est / distinct_est
        ).alias("mean_est"),
        (~sat).alias("exact"),
    )


def tuple_threshold_count(
    state: DataFrame,
    keys: Sequence[str],
    threshold: float,
    cmp: str = ">=",
    k: int | None = None,
    alias: str = "count_est",
) -> DataFrame:
    """HT estimate of the number of DISTINCT keys whose summary passes
    the threshold: DataFrame[*keys, n_entries, n_passing, count_est,
    exact]. Per-key summaries are exact (sampling is only across
    keys), so the passing indicator is exact per retained entry and
    ``count(passing entries below theta)/theta`` is the unbiased
    Horvitz–Thompson subset count — valid for EVERY summary mode:
    'max' over an event-time answers "distinct users LAST SEEN on or
    after T" (recency/retention from one stored state), 'sum' answers
    "distinct users with total spend >= X". Below saturation the
    entry set is complete and the count is exact. NULL summaries
    (min/max mode keys with no observed value) never pass."""
    ops = {
        ">=": lambda c: c >= F.lit(float(threshold)),
        ">": lambda c: c > F.lit(float(threshold)),
        "<=": lambda c: c <= F.lit(float(threshold)),
        "<": lambda c: c < F.lit(float(threshold)),
    }
    if cmp not in ops:
        raise ValueError(f"cmp must be one of {sorted(ops)}; got {cmp!r}")
    keys = list(keys)
    if k is None:
        k, hash_fn = _meta(state)
    else:
        _, hash_fn = _meta(state)
    passing = ops[cmp](F.col("summary"))
    pre = state.withColumn("__kth", F.max("h").over(_group_window(keys)))
    agg = pre.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_entries"),
        F.first("__kth").alias("__kth"),
        F.sum(passing.cast("long")).alias("n_passing"),
        F.sum(
            (passing & (F.col("h") < F.col("__kth"))).cast("long")
        ).alias("__pass_below"),
    )
    theta = _theta(F.col("__kth"), hash_fn)
    sat = F.col("n_entries") >= k
    est = F.when(
        sat, F.col("__pass_below").cast("double") / theta
    ).otherwise(F.col("n_passing").cast("double"))
    return agg.select(
        *keys,
        "n_entries",
        "n_passing",
        est.alias(alias),
        (~sat).alias("exact"),
    )


def _group_window(keys: Sequence[str]):
    from pyspark.sql.window import Window

    return Window.partitionBy(*keys) if keys else Window.partitionBy()


def tuple_intersect_sum(
    state_a: DataFrame,
    state_b: DataFrame,
    keys: Sequence[str],
) -> DataFrame:
    """Per group, the HT estimate of Σ A-summary over keys in A∩B
    ("total value in A from keys also seen in B"): DataFrame[*keys,
    n_common, intersect_distinct_est, intersect_sum_est, exact].
    Qualifying entries are hashes present in BOTH states strictly
    below min(theta_A, theta_B) — a uniform sample of A∩B at that
    combined rate (the theta intersection rule, kernel/theta.py:124);
    both-unsaturated groups are exact. Groups absent from either side
    produce no row; groups present in both with an empty qualifying
    intersection report 0."""
    keys = list(keys)
    k_a, hf_a = _meta(state_a)
    k_b, hf_b = _meta(state_b)
    if hf_a != hf_b:
        raise ValueError(
            f"tuple_intersect_sum across hash_fns {hf_a!r} vs {hf_b!r}"
        )

    def side(state: DataFrame, k: int, tag: str) -> DataFrame:
        agg = state.groupBy(*keys).agg(
            F.count(F.lit(1)).alias(f"__n_{tag}"),
            F.max("h").alias(f"__kth_{tag}"),
        )
        sat = F.col(f"__n_{tag}") >= k
        # theta_raw: exclusive upper bound on sampled hashes. Signed
        # long max / 2^60 play the kernel's "unsaturated => 1.0" role.
        bound = F.when(sat, F.col(f"__kth_{tag}")).otherwise(
            F.lit((1 << 60) - 1 if hf_a == "md5" else (1 << 63) - 1)
        )
        return agg.select(
            *keys,
            bound.alias(f"__bound_{tag}"),
            sat.alias(f"__sat_{tag}"),
        )

    bounds = side(state_a, k_a, "a").join(side(state_b, k_b, "b"), keys)
    common = (
        state_a.select(*keys, "h", "summary")
        .join(state_b.select(*keys, "h"), [*keys, "h"])
        .join(F.broadcast(bounds), keys)
    )
    min_bound = F.least(F.col("__bound_a"), F.col("__bound_b"))
    qual = common.filter(F.col("h") < min_bound)
    per_group = qual.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_common"),
        F.sum("summary").alias("__sum"),
    )
    # groups whose qualifying intersection is empty still report 0
    agg = bounds.join(per_group, keys, "left").select(
        *keys,
        F.coalesce(F.col("n_common"), F.lit(0)).alias("n_common"),
        F.coalesce(F.col("__sum"), F.lit(0.0)).alias("__sum"),
        "__sat_a",
        "__sat_b",
        F.least(F.col("__bound_a"), F.col("__bound_b")).alias("__minb"),
    )
    sat_any = F.col("__sat_a") | F.col("__sat_b")
    theta = _theta(F.col("__minb"), hf_a)
    return agg.select(
        *keys,
        "n_common",
        F.when(
            sat_any, F.col("n_common").cast("double") / theta
        )
        .otherwise(F.col("n_common").cast("double"))
        .alias("intersect_distinct_est"),
        F.when(sat_any, F.col("__sum") / theta)
        .otherwise(F.col("__sum"))
        .alias("intersect_sum_est"),
        (~sat_any).alias("exact"),
    )

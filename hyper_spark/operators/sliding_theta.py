"""Sliding-window Theta/KMV sketches: distinct counts AND cross-window
set algebra over arbitrary time ranges from one bucketed state.

Completes the sliding trio (sliding_hll.py: any-window distinct;
sliding_cms.py: any-window top-k): a per-grain-bucket KMV state —
each bucket's k smallest DISTINCT hashes — is lossless for ANY bucket
subset, because every hash in the k smallest of a union is in the k
smallest of its own bucket. So one state answers:

* trailing-window distinct estimates (``sliding_theta_estimates``),
  like sliding HLL but with the theta exactness contract: a window
  whose distinct count is below k is EXACT;
* set algebra BETWEEN ranges (``sliding_theta_overlap``): |A∩B|,
  |A∪B|, Jaccard between e.g. last week and the week before — the
  question nested trailing windows cannot ask and HLL can only answer
  by inclusion-exclusion (kernel/theta.py module doc). Ranges are
  half-open [lo, hi) over grain buckets.

Hash/estimator conventions are kernel/theta.py's exactly (signed
Spark xxhash64; signed ascending order == the kernel's flipped-uint64
order; theta comparisons stay in the raw integer domain, floats appear
only in the final division; estimate = n when unsaturated else
(k-1)/theta; intersections count common entries strictly below
min-theta) — asserted bit-equal to kernel ThetaSketch ops in pytest.

Scale shape: build = one distinct shuffle + partition-local k-min
prune + per-bucket rank (the prune bounds every sort input at
n_partitions x k, the priority_sample doctrine); state <= buckets x k
rows per group; queries touch only the state. Pure JVM end to end.

The state is the core's theta spec (operators/sliding.py: cells ``h``,
a distinct fold, lineage (k, hash_fn), re-trim the per-bucket k-min);
merge, expire, coarsen and the window cutoffs are the core's.
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hyper_spark.operators import sliding as core
from hyper_spark.operators.sliding import kmin as _kmin

__all__ = [
    "sliding_theta_table",
    "sliding_theta_merge",
    "sliding_theta_expire",
    "sliding_theta_coarsen",
    "sliding_theta_estimates",
    "sliding_theta_overlap",
]

_MAX_LONG = (1 << 63) - 1
_TWO63 = float(1 << 63)
_TWO64 = float(1 << 64)

SPEC = core.SlidingSpec(
    "theta", ("h",), lambda cols: [], lineage=("k", "hash_fn"),
    retrim=core.bucket_kmin,
)


def _theta_est(n: Column, kth: Column, k: int) -> Column:
    """(k-1)/theta when saturated, exact count below k."""
    theta = (kth.cast("double") + F.lit(_TWO63)) / F.lit(_TWO64)
    return F.when(n < k, n.cast("double")).otherwise(F.lit(float(k - 1)) / theta)


def sliding_theta_table(
    df: DataFrame,
    ts_col: str,
    keys: Sequence[str],
    col: str | Column,
    k: int = 4096,
    grain: str = "1 day",
) -> DataFrame:
    """Build the sliding state: DataFrame[*keys, bucket_ts, h, k,
    hash_fn] — per (group, grain-bucket) the k smallest distinct
    signed xxhash64 values. NULLs are skipped (sketch_by contract)."""
    if k < 3:
        raise ValueError("k must be >= 3")
    c = F.col(col) if isinstance(col, str) else col
    keys = list(keys)
    t = F.col(ts_col).cast("timestamp")
    entries = (
        df.filter(c.isNotNull() & t.isNotNull())
        .select(
            *keys,
            core.bucket_start(ts_col, grain).alias("bucket_ts"),
            F.xxhash64(c.cast("string")).alias("h"),
        )
        .groupBy(*keys, "bucket_ts", "h")
        .agg(F.lit(1).alias("__one"))
        .drop("__one")
    )
    return _kmin(entries, [*keys, "bucket_ts"], k).select(
        "*", F.lit(k).alias("k"), F.lit("xxhash64").alias("hash_fn")
    )


def _k(state: DataFrame) -> int:
    return int(core.read_lineage(state, SPEC.lineage, SPEC.name)["k"])


def sliding_theta_merge(
    states: Sequence[DataFrame], keys: Sequence[str]
) -> DataFrame:
    """Merge same-(k, grain, hash_fn) shard/checkpoint/incremental
    states: distinct union re-trimmed per bucket — lossless (equals
    the direct build of the combined input, pytest-asserted)."""
    return core.merge(SPEC, states, keys)


sliding_theta_expire = core.expire


def sliding_theta_coarsen(
    state: DataFrame,
    keys: Sequence[str],
    older_than_ts: str,
    grain: str,
) -> DataFrame:
    """Tiered retention: re-bucket history strictly OLDER than the
    cutoff to a coarser grain. Lossless for coarse-aligned ranges: a
    hash in the k-min of a coarse bucket cannot have k smaller hashes
    in its own fine bucket (those would be in the coarse set too), so
    k-min over the union of fine k-mins == k-min of the coarse raw
    set. Cutoff must sit on a coarse boundary (the core's
    cutoff-alignment contract, operators/sliding.py)."""
    return core.coarsen(SPEC, state, keys, older_than_ts, grain)


def sliding_theta_estimates(
    state: DataFrame,
    keys: Sequence[str],
    t_ref: str,
    windows: Mapping[str, str],
    k: int | None = None,
) -> DataFrame:
    """Trailing-window distinct estimates at ``t_ref``:
    DataFrame[*keys, window, n_entries, estimate, exact] — ``exact``
    is true when the window's distinct count is below k (the entry set
    is complete). One pass: per (group, h) the newest bucket decides
    window membership (windows share the t_ref end), then one k-min
    trim per (group, window). Reading k from the state lineage is one
    driver action — persist the state or pass ``k`` explicitly when
    composing build+query in one plan."""
    keys = list(keys)
    cutoffs = core.window_cutoffs(t_ref, windows)
    if k is None:
        k = _k(state)
    per_h = state.groupBy(*keys, "h").agg(
        F.max(core.bucket_seconds()).alias("__newest")
    )
    stacked = core.stack_windows(
        per_h, keys, ["h"], cutoffs,
        lambda i, cut: [(F.col("__newest") >= cut).alias("__in")],
    ).filter(F.col("__in"))
    kept = _kmin(stacked, [*keys, "window"], k)
    agg = kept.groupBy(*keys, "window").agg(
        F.count(F.lit(1)).alias("n_entries"), F.max("h").alias("__kth")
    )
    return agg.select(
        *keys,
        "window",
        "n_entries",
        _theta_est(F.col("n_entries"), F.col("__kth"), k).alias("estimate"),
        (F.col("n_entries") < k).alias("exact"),
    )


def _range_entries(state: DataFrame, lo: str, hi: str, k: int) -> DataFrame:
    b = F.col("bucket_ts").cast("timestamp")
    sliced = state.filter(
        (b >= F.lit(lo).cast("timestamp")) & (b < F.lit(hi).cast("timestamp"))
    )
    return _kmin(sliced.select("__g", "h").distinct(), ["__g"], k)


def sliding_theta_overlap(
    state: DataFrame,
    keys: Sequence[str],
    range_a: tuple[str, str],
    range_b: tuple[str, str],
    k: int | None = None,
) -> DataFrame:
    """Set algebra between two half-open bucket ranges [lo, hi):
    DataFrame[*keys, est_a, est_b, intersect_est, union_est, jaccard,
    exact] — kernel/theta.py semantics (common entries strictly below
    the raw min-theta; union = re-trimmed entry union). ``exact`` is
    true when BOTH ranges are unsaturated, making every output an
    exact count (the gate mode). Groups join on the packed keys, so a
    NULL key is a group like any other."""
    keys = list(keys)
    if k is None:
        k = _k(state)
    st, _ = core.pack_keys(state, keys)
    if not keys:  # one constant group: the grouped path with one group
        st = st.withColumn("__g", F.lit(0))
    ent_a = _range_entries(st, *range_a, k)
    ent_b = _range_entries(st, *range_b, k)

    def side_meta(ent: DataFrame, tag: str) -> DataFrame:
        return ent.groupBy("__g").agg(
            F.count(F.lit(1)).alias(f"__n_{tag}"),
            F.max("h").alias(f"__kth_{tag}"),
        )

    # outer join + fills: a group present in one range only has an
    # empty other side (n=0, unsaturated, est 0)
    meta = (
        side_meta(ent_a, "a")
        .join(side_meta(ent_b, "b"), on="__g", how="outer")
        .fillna({"__n_a": 0, "__n_b": 0})
        .fillna({"__kth_a": _MAX_LONG, "__kth_b": _MAX_LONG})
        .withColumn("__sat_a", F.col("__n_a") >= k)
        .withColumn("__sat_b", F.col("__n_b") >= k)
        # raw cutoff in the SIGNED domain: MAX_LONG sentinel for an
        # unsaturated side (no entry exceeds it), so `h < cutoff`
        # reproduces the kernel's strictly-below-raw-theta rule
        .withColumn(
            "__cut",
            F.least(
                F.when(F.col("__sat_a"), F.col("__kth_a")).otherwise(
                    F.lit(_MAX_LONG)
                ),
                F.when(F.col("__sat_b"), F.col("__kth_b")).otherwise(
                    F.lit(_MAX_LONG)
                ),
            ),
        )
        .withColumn("__any_sat", F.col("__sat_a") | F.col("__sat_b"))
    )
    common = (
        ent_a.join(ent_b, on=["__g", "h"])
        .join(meta.select("__g", "__cut", "__any_sat"), on="__g")
        .filter(~F.col("__any_sat") | (F.col("h") < F.col("__cut")))
        .groupBy("__g")
        .agg(F.count(F.lit(1)).alias("__n_common"))
    )
    uni = (
        _kmin(ent_a.unionByName(ent_b).distinct(), ["__g"], k)
        .groupBy("__g")
        .agg(F.count(F.lit(1)).alias("__n_u"), F.max("h").alias("__kth_u"))
    )
    out = (
        meta.join(common, on="__g", how="left")
        .fillna({"__n_common": 0})
        .join(uni, on="__g")
    )
    theta_min = (F.col("__cut").cast("double") + F.lit(_TWO63)) / F.lit(
        _TWO64
    )
    inter_est = F.when(
        ~F.col("__any_sat"), F.col("__n_common").cast("double")
    ).otherwise(F.col("__n_common") / theta_min)
    union_est = _theta_est(F.col("__n_u"), F.col("__kth_u"), k)
    return out.select(
        *core.unpack_keys(keys),
        _theta_est(F.col("__n_a"), F.col("__kth_a"), k).alias("est_a"),
        _theta_est(F.col("__n_b"), F.col("__kth_b"), k).alias("est_b"),
        inter_est.alias("intersect_est"),
        union_est.alias("union_est"),
        F.when(union_est > 0, inter_est / union_est)
        .otherwise(F.lit(0.0))
        .alias("jaccard"),
        (~F.col("__any_sat") & (F.col("__n_u") < k)).alias("exact"),
    )

"""Sliding-window DDSketch: relative-error quantiles over ANY trailing
window from one bucketed state.

Completes the sliding family (sliding_hll.py: any-window distinct;
sliding_cms.py: any-window top-k; sliding_theta.py: any-window set
algebra) with the remaining question — "p99 latency over the last
7/30/365 days, asked after the fact". DDSketch bucket counts are
integers that merge by SUM (ddsketch.py), so a per-grain-bucket cell
state (*keys, bucket_ts, store, bucket, cnt) answers any trailing
window by summing in-window buckets: the summed table IS the DDSketch
of exactly the window's rows — same bit-identical estimates as a
direct build, same ±alpha relative-error guarantee (pytest-asserted).

Scale shape: build = one shuffle (groupBy keys × grain-bucket × store
× bucket); state ≤ live-buckets × stores × distinct-buckets rows per
group (collapse the archive with sliding_dd_coarsen, which is fully
lossless for aligned windows — counters sum, no candidate-set caveat
like CMS); query = ONE conditional-sum pass over the state for all
windows + the dd_quantiles cumulative-sum window. Pure JVM codegen
end to end.

Streaming build: streaming/dd_stream.py::streaming_windowed_dd_by
ALREADY emits this state — its per-window bucket tables are these
cells with ``window_start`` as ``bucket_ts`` (native windowed count
aggregate; integer counts make streamed == batch exact). The bridge is
a rename, pytest-asserted.

The state is the core's DD spec (operators/sliding.py: cells (store,
bucket), fold ``sum(cnt)``, lineage ``alpha``); the build, merge,
expire, coarsen and the windowed read are the core's.
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hyper_spark.operators import sliding as core
from hyper_spark.operators.ddsketch import dd_bucket_col, dd_quantiles

__all__ = [
    "sliding_dd_table",
    "sliding_dd_merge",
    "sliding_dd_expire",
    "sliding_dd_coarsen",
    "sliding_dd_quantiles",
    "sliding_dd_drift",
]

SPEC = core.SlidingSpec(
    "dd",
    ("store", "bucket"),
    lambda cols: [F.sum("cnt").alias("cnt")],
    lineage=("alpha",),
)


def dd_mass(weight: str | Column | None) -> tuple[Column, list[Column], Column]:
    """(row filter, prepared columns, bucket-mass aggregate): a row
    count, or SUM(weight) over positive, non-NaN weights (NaN > 0 is
    TRUE in Spark SQL, and one NaN mass would poison its bucket)."""
    if weight is None:
        return F.lit(True), [], F.count(F.lit(1))
    wd = (F.col(weight) if isinstance(weight, str) else weight).cast("double")
    return (wd > 0) & ~F.isnan(wd), [wd.alias("__w")], F.sum("__w")


def sliding_dd_table(
    df: DataFrame,
    ts_col: str,
    keys: Sequence[str],
    col: str | Column,
    alpha: float = 0.01,
    grain: str = "1 day",
    weight: str | Column | None = None,
) -> DataFrame:
    """Build the sliding state: DataFrame[*keys, bucket_ts, store,
    bucket, cnt, alpha] — per (group, grain-bucket) DDSketch bucket
    counts (ddsketch.py arithmetic exactly). NULLs are skipped; alpha
    rides as lineage so mixed states fail the query loudly.

    ``weight`` mirrors ddsketch.py::dd_by — cnt becomes the summed
    mass (NULL/NaN/non-positive weights contribute nothing), and any-
    window reads stay lossless because masses add exactly like counts;
    query with ``sliding_dd_quantiles(..., weighted=True)``."""
    c = F.col(col) if isinstance(col, str) else col
    store, bucket = dd_bucket_col(c, alpha)
    where, prep, mass = dd_mass(weight)
    return core.build_cells(
        df, ts_col, keys, grain, None, c.isNotNull() & where,
        [store.alias("store"), bucket.alias("bucket"), *prep],
        ["store", "bucket"], [mass.alias("cnt")],
        [F.lit(float(alpha)).alias("alpha")],
    )


def sliding_dd_merge(states: Sequence[DataFrame], keys: Sequence[str]) -> DataFrame:
    """Merge same-(alpha, grain) shard/checkpoint states: counts sum —
    lossless at any tree shape (equals the direct build of the combined
    input, pytest-asserted)."""
    return core.merge(SPEC, states, keys)


sliding_dd_expire = core.expire


def sliding_dd_coarsen(
    state: DataFrame,
    keys: Sequence[str],
    older_than_ts: str,
    grain: str,
) -> DataFrame:
    """Tiered retention: re-bucket history strictly OLDER than the
    cutoff to a coarser grain. Counts SUM into the coarse bucket —
    exactly the window-sum the query performs — so coarse-aligned
    windows return bit-identical quantiles from fewer rows, with NO
    weakened guarantee (unlike CMS candidates). Cutoff must sit on a
    coarse boundary (the core's cutoff-alignment contract,
    operators/sliding.py)."""
    return core.coarsen(SPEC, state, keys, older_than_ts, grain)


def sliding_dd_quantiles(
    state: DataFrame,
    keys: Sequence[str],
    t_ref: str,
    windows: Mapping[str, str],
    qs: Sequence[float] = (0.5, 0.9, 0.99),
    alpha: float | None = None,
    weighted: bool = False,
) -> DataFrame:
    """Quantiles per (group, trailing window) queried at ``t_ref``:
    DataFrame[*keys, window, q, est]. ``windows`` maps label ->
    interval ('7 days'); grain-aligned windows carry the exact
    guarantee, unaligned ones include the partially-covered oldest
    bucket in full (family contract). One conditional-sum pass over
    the state covers every window, then the ddsketch.py bucket walk
    evaluates — bit-identical to a direct DDSketch of each window's
    raw rows. ``alpha=None`` reads the state's lineage column (one
    driver action — pass it explicitly when composing build+query in
    one unpersisted plan)."""
    keys = list(keys)
    if alpha is None:
        alpha = float(core.read_lineage(state, SPEC.lineage, SPEC.name)["alpha"])
    stacked = core.windowed_read(
        state, keys, ["store", "bucket"], t_ref, windows,
        lambda inw: {"count": F.sum(F.when(inw, F.col("cnt")).otherwise(0))},
    ).filter(F.col("count") > 0)
    return dd_quantiles(
        stacked, list(qs), keys=[*keys, "window"], alpha=alpha,
        weighted=weighted,
    )


def sliding_dd_drift(
    state: DataFrame,
    keys: Sequence[str],
    range_a: tuple[str, str],
    range_b: tuple[str, str],
) -> DataFrame:
    """Distribution drift BETWEEN two [lo, hi) time ranges from the
    state alone — the cross-range question (sliding_theta_overlap's
    shape, for values instead of sets): DataFrame[*keys, n_a, n_b,
    ks]. ``ks`` is the Kolmogorov-Smirnov statistic
    max |CDF_a - CDF_b| over the DD bucketization — deterministic
    bucket arithmetic, so an SQL oracle reproduces it to the double,
    and it sits within O(alpha) of the raw-value KS (each bucket spans
    a [x/γ, x·γ] value band). Groups empty on either side return NULL
    ks (no distribution to compare). One conditional-sum pass + one
    cumulative window, pure codegen."""
    from pyspark.sql.window import Window

    from hyper_spark.operators.ddsketch import _order_cols

    keys = list(keys)
    b = core.bucket_seconds()

    def _in(rng: tuple[str, str]) -> Column:
        return (b >= core.epoch_seconds(rng[0])) & (b < core.epoch_seconds(rng[1]))

    in_a, in_b = _in(range_a), _in(range_b)
    cells = (
        state.filter(in_a | in_b)
        .groupBy(*keys, "store", "bucket")
        .agg(
            F.sum(F.when(in_a, F.col("cnt")).otherwise(0)).alias("__ca"),
            F.sum(F.when(in_b, F.col("cnt")).otherwise(0)).alias("__cb"),
        )
    )
    store_rank, signed_bucket = _order_cols()
    w_cum = (
        Window.partitionBy(*keys)
        .orderBy(store_rank, signed_bucket)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(*keys)
    cum = cells.select(
        *keys,
        F.sum("__ca").over(w_cum).alias("__cum_a"),
        F.sum("__cb").over(w_cum).alias("__cum_b"),
        F.sum("__ca").over(w_all).alias("n_a"),
        F.sum("__cb").over(w_all).alias("n_b"),
    )
    gap = F.abs(
        F.col("__cum_a") / F.col("n_a") - F.col("__cum_b") / F.col("n_b")
    )
    return cum.groupBy(*keys).agg(
        F.first("n_a").alias("n_a"),
        F.first("n_b").alias("n_b"),
        F.max(
            F.when((F.col("n_a") > 0) & (F.col("n_b") > 0), gap)
        ).alias("ks"),
    )

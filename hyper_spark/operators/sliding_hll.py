"""Sliding-window HyperLogLog: distinct counts over any trailing window.

Chabchoub & Hébrail, "Sliding HyperLogLog: Estimating cardinality in a
data stream over a sliding window" (ICDMW 2010): instead of one rho per
register, keep the register's *future possible maxima* — the pairs
(t, rho) not dominated by any later pair with rho at least as large.
Then for ANY trailing window w queried at a reference time T at/after
the newest data, the register value is max(rho where t >= T - w), and
one retained state answers every (T, w) after the fact — "distinct
users in the last hour/day/week" from a single build, where a plain
HLL would need one sketch per window.

Spark-first shape (same doctrine as DDSketch): the state is RELATIONAL
— rows (*keys, idx, bucket_ts, rho) — so build, expiry, merge, and
query are all JVM DataFrame ops, no kernel blobs until the final
estimate:

* time is coarsened to ``grain`` buckets (per-register max within a
  bucket): state ≤ 2^p × (span/grain) rows per group BEFORE the front
  filter, and queries whose T and w align to grain boundaries are
  EXACTLY the batch sketch of the same rows (the parity pytest);
* the Pareto-front filter (keep a bucket iff its rho exceeds every
  strictly-later bucket's rho in that register) is one window pass;
  expected surviving entries per register are O(ln buckets) —
  harmonic-number growth, the paper's §3 bound;
* fronts MERGE: front(front(A) ∪ front(B)) = front(A ∪ B), so shard /
  checkpoint / incremental-ingest states combine with the same
  bucket-max + front pass (``sliding_merge``), like every other
  mergeable aggregate here — the state is the core's HLL spec
  (operators/sliding.py: cells ``idx``, fold ``max(rho)``, re-trim
  the front);
* expiry is a range filter on bucket_ts (``sliding_expire``) — a front
  stays a front under suffix-in-time filtering.

Contract: ``t_ref`` passed to ``sliding_estimates`` must be at/after
the newest event in the state. That is what "future possible maxima"
means — entries dominated by later arrivals are dropped precisely
because no FUTURE query window can end before those later arrivals.
Querying a T inside the ingested past would need the dropped entries
(use a batch sketch over the raw slice for that).

Reference parity: idx/rho reuse functions/hashing.py (sha1 default,
byte-compatible with hyper.erl:47-56; xxhash64 fast path), and the
final estimate goes through the same kernel estimator as sketch_by —
so an aligned sliding query is bit-identical to the batch sketch of
the window's rows.
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hyper_spark.functions.hashing import hll_prepare
from hyper_spark.operators import sliding as core
from hyper_spark.operators.hll_agg import SKETCH_FIELDS, _densify_fn, cardinality_col
from hyper_spark.operators.util import grouped_apply

__all__ = [
    "sliding_register_table",
    "sliding_merge",
    "sliding_expire",
    "sliding_coarsen",
    "sliding_estimates",
]


def _front(bucketed: DataFrame, keys: Sequence[str], _meta=None) -> DataFrame:
    """Keep (bucket, rho) iff rho strictly exceeds every later bucket's
    rho in the same (keys, idx) register."""
    w = (
        Window.partitionBy(*keys, "idx")
        .orderBy(F.desc("bucket_ts"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        bucketed.withColumn("__later_max", F.max("rho").over(w))
        .filter(F.col("rho") > F.coalesce(F.col("__later_max"), F.lit(0)))
        .drop("__later_max")
    )


SPEC = core.SlidingSpec(
    "hll", ("idx",), lambda cols: [F.max("rho").alias("rho")], retrim=_front
)


def register_cells(
    df: DataFrame,
    ts_col: str,
    keys: Sequence[str],
    col: str | Column,
    p: int,
    grain: str,
    hash_fn: str,
    watermark: str = "1 hour",
) -> DataFrame:
    """Per (keys, grain bucket, register) the max rho:
    DataFrame[*keys, idx, bucket_ts, rho] — the cell build shared by
    the batch table and its streaming twin."""
    c = F.col(col) if isinstance(col, str) else col
    keys = list(keys)
    idx, rho = hll_prepare(c, p, hash_fn)
    cells = core.build_cells(
        df, ts_col, keys, grain, watermark, c.isNotNull(),
        [idx.alias("idx"), rho.alias("rho")], ["idx"], [F.max("rho").alias("rho")],
    )
    return cells.select(*keys, "idx", "bucket_ts", "rho")


def sliding_register_table(
    df: DataFrame,
    ts_col: str,
    keys: Sequence[str],
    col: str | Column,
    p: int = 14,
    grain: str = "1 hour",
    hash_fn: str = "sha1",
) -> DataFrame:
    """Build the sliding state: DataFrame[*keys, idx, bucket_ts, rho]
    — per register the Pareto front of (grain-bucket, max rho). One
    keyed shuffle (bucket max, map-side combined) + one window pass on
    the same key prefix; pure JVM end to end."""
    return _front(register_cells(df, ts_col, keys, col, p, grain, hash_fn), list(keys))


def sliding_merge(states: Sequence[DataFrame], keys: Sequence[str]) -> DataFrame:
    """Merge same-(p, grain, hash_fn) states — shards, checkpoints, or
    an incremental batch into history: bucket max over the union, then
    the front filter again. Lossless: equals the direct build of the
    combined input (front-of-union property, see module doc)."""
    return core.merge(SPEC, states, keys)


sliding_expire = core.expire


def sliding_coarsen(
    state: DataFrame,
    keys: Sequence[str],
    older_than_ts: str,
    grain: str,
) -> DataFrame:
    """Tiered retention: re-bucket history strictly OLDER than the
    cutoff to a coarser grain (day state -> month archive), keeping
    recent buckets untouched. Lossless for every window whose oldest
    edge aligns to the coarse grain: register max commutes with
    re-bucketing (max over a coarse bucket == max over the union of
    its fine buckets), so coarse-aligned queries return bit-identical
    estimates from ~grain-ratio fewer rows. The cutoff must sit on a
    coarse boundary (the core's cutoff-alignment contract,
    operators/sliding.py)."""
    return core.coarsen(SPEC, state, keys, older_than_ts, grain)


def sliding_estimates(
    state: DataFrame,
    keys: Sequence[str],
    t_ref: str,
    windows: Mapping[str, str],
    p: int,
    estimator: str = "hllpp",
) -> DataFrame:
    """Query the state at ``t_ref`` (>= newest event — see module doc)
    for several trailing windows at once: DataFrame[*keys, window,
    estimate]. ``windows`` maps label -> interval string ('7 days').
    Windows and t_ref aligned to the build grain are exact (identical
    registers to a batch sketch of the slice); unaligned ones include
    the partially-covered oldest bucket in full.

    One pass: per (keys, idx) a conditional max per window, then the
    read side. ``estimator='hllpp'`` (default, reference parity)
    densifies per (keys, window) and runs the kernel estimator;
    ``'beta'`` replaces that whole tail with beta_estimate_agg — ONE
    more codegen aggregate, so the sliding query has zero Python
    stages (same registers, LogLog-Beta formula)."""
    if estimator not in ("hllpp", "beta"):
        raise ValueError(f"unknown estimator {estimator!r}")
    keys = list(keys)
    stacked = core.windowed_read(
        state, keys, ["idx"], t_ref, windows,
        lambda inw: {"rho": F.max(F.when(inw, F.col("rho")))},
    ).filter(F.col("rho").isNotNull())
    gkeys = keys + ["window"]
    if estimator == "beta":
        from hyper_spark.operators.hll_agg import beta_estimate_agg

        return stacked.groupBy(*gkeys).agg(
            beta_estimate_agg(p).alias("estimate")
        )
    sk = grouped_apply(stacked, gkeys, _densify_fn(p, gkeys), SKETCH_FIELDS)
    return sk.select(
        *keys,
        "window",
        cardinality_col(F.col("p"), F.col("registers")).alias("estimate"),
    )

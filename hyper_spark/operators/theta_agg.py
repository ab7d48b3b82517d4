"""Distributed Theta/KMV sketches: distinct counts with DIRECT set
algebra (intersection / difference), mergeable partial aggregates.

Why this exists next to HLL: the reference's ``intersect_card``
(src/hyper.erl:97-100) is inclusion–exclusion with "no accuracy
guarantee" — its error scales with |A∪B|, so a small overlap of two
large sets drowns in union noise. A theta sketch carries a uniform
hash-space *sample* (kernel/theta.py), so any set expression is
estimated directly at the combined sampling rate; below saturation
(< k distinct) every answer is EXACT. Published semantics (Bar-Yossef
et al. 2002; Dasgupta et al. 2016) — companion family per SURVEY
§2.4, no reference byte-parity obligation.

Physical plan (the hll_agg 'partial' doctrine):

1. JVM hot path: ``xxhash64(value)`` — one codegen expression, NULLs
   dropped (the sketch NULL contract). Python never sees raw values.
2. Partial in the shared ``keyed_partials`` (operators/util.py): per
   task partition, per group, a running k smallest distinct hashes
   (numpy unique + slice per Arrow batch) — the map-side combine.
   Shuffle is bounded by |partitions| × k longs per group,
   independent of input rows.
3. Merge per group through the shared ``grouped_apply``
   (operators/util.py): union the entry arrays, re-trim to k.
   Associative/commutative/idempotent (kernel property tests), so the
   same rows checkpoint/resume and tree-merge like HLL rows.

Sketch rows: ``(keys..., k, n_entries, entries, hash_fn)`` with
``entries`` the canonical big-endian uint64 blob — plain parquet
persists them; ``theta_union`` re-merges saved rows losslessly.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from hyper_spark.kernel.theta import ThetaSketch, _to_u64, theta_rse
from hyper_spark.operators.util import SlotStates, grouped_apply, keyed_partials

__all__ = [
    "theta_by",
    "theta_union",
    "theta_estimate",
    "theta_collect",
    "theta_intersect_card",
    "theta_a_not_b_card",
    "theta_jaccard",
    "theta_containment",
    "theta_pairwise",
    "theta_rse",
]

THETA_FIELDS = [
    StructField("k", IntegerType(), False),
    StructField("n_entries", IntegerType(), False),
    StructField("entries", BinaryType(), False),
    # build/probe hash provenance, same contract as cms/bloom rows
    StructField("hash_fn", StringType(), False),
]


def _kmins(k: int, hash_fn: str) -> SlotStates:
    """Per-partition fold: each slot's running k smallest distinct
    hashes, as order-mapped uint64 — the map-side combine."""

    def emit(entries):
        return [
            [k] * len(entries),
            [len(e) for e in entries],
            [ThetaSketch(k, e).to_bytes() for e in entries],
            [hash_fn] * len(entries),
        ]

    return SlotStates(
        lambda: np.empty(0, dtype=np.uint64),
        lambda e, rows: np.unique(
            np.concatenate([e, _to_u64(rows.column("__h").to_numpy())])
        )[:k],
        emit,
    )


def _merge_fn(keys: Sequence[str]):
    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        ks = pdf["k"].unique()
        if len(ks) != 1:
            raise ValueError(
                f"cannot merge theta sketches with different k: {sorted(ks)}"
            )
        hfs = pdf["hash_fn"].unique()
        if len(hfs) != 1:
            raise ValueError(
                "refusing to merge theta sketches built with different "
                f"hash_fns: {sorted(hfs)} — estimates would be silently "
                "corrupted"
            )
        k = int(ks[0])
        merged = ThetaSketch(
            k,
            np.unique(
                np.concatenate(
                    [
                        np.frombuffer(b, dtype=">u8").astype(np.uint64)
                        for b in pdf["entries"]
                    ]
                )
            )[:k],
        )
        base = {key: pdf[key].iloc[0] for key in keys}
        base.update(
            k=k,
            n_entries=len(merged.entries),
            entries=merged.to_bytes(),
            hash_fn=str(hfs[0]),
        )
        return pd.DataFrame([base])

    return merge


def theta_by(
    df: DataFrame,
    keys: Sequence[str],
    col: str | Column,
    k: int = 4096,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Build one theta sketch row per group of ``keys`` over the
    values of ``col``. NULL values are skipped (the sketch NULL
    contract). RSE of the estimate: 1/sqrt(k-2)."""
    if hash_fn != "xxhash64":
        raise ValueError(
            "theta sketches hash with xxhash64 (no kernel-parity "
            f"obligation exists for this family); got {hash_fn!r}"
        )
    keys = list(keys)
    c = F.col(col) if isinstance(col, str) else col
    prepared = (
        df.filter(c.isNotNull())
        .select(*keys, F.xxhash64(c).alias("__h"))
    )
    partials = keyed_partials(prepared, keys, THETA_FIELDS, lambda: _kmins(k, hash_fn))
    return grouped_apply(partials, keys, _merge_fn(keys), THETA_FIELDS)


def theta_union(sketch_df: DataFrame, keys: Sequence[str] = ()) -> DataFrame:
    """Lossless re-merge of sketch rows (e.g. hourly rows → daily):
    one row per remaining ``keys`` group."""
    keys = list(keys)
    return grouped_apply(sketch_df, keys, _merge_fn(keys), THETA_FIELDS)


@F.pandas_udf(DoubleType())
def _estimate_col(k: pd.Series, entries: pd.Series) -> pd.Series:
    out = np.empty(len(k), dtype=np.float64)
    for i in range(len(k)):
        out[i] = ThetaSketch.from_bytes(int(k[i]), bytes(entries[i])).estimate()
    return pd.Series(out)


def theta_estimate(sketch_df: DataFrame, keys: Sequence[str] = ()) -> DataFrame:
    """Estimate column per sketch row: DataFrame[keys..., estimate]."""
    return sketch_df.select(
        *keys, _estimate_col(F.col("k"), F.col("entries")).alias("estimate")
    )


def theta_collect(sketch_df: DataFrame, k: int | None = None) -> ThetaSketch:
    """Collect a sketch DataFrame (merging rows) to a kernel sketch."""
    rows = sketch_df.select("k", "entries").collect()
    if not rows:
        if k is None:
            raise ValueError("empty sketch DataFrame and no default k")
        return ThetaSketch.empty(k)
    sks = [ThetaSketch.from_bytes(r["k"], bytes(r["entries"])) for r in rows]
    out = sks[0]
    for s in sks[1:]:
        out = out.union(s)
    return out


def _binary_theta_op(
    left: DataFrame, right: DataFrame, on: Sequence[str], pair_fn, alias: str
) -> DataFrame:
    on = list(on)
    l = left.select(
        *on, F.col("k").alias("k_l"), F.col("entries").alias("entries_l")
    )
    r = right.select(
        *on, F.col("k").alias("k_r"), F.col("entries").alias("entries_r")
    )
    joined = l.join(r, on=on) if on else l.crossJoin(r)

    @F.pandas_udf(DoubleType())
    def _apply(
        k_l: pd.Series, e_l: pd.Series, k_r: pd.Series, e_r: pd.Series
    ) -> pd.Series:
        out = np.empty(len(k_l))
        for i in range(len(k_l)):
            a = ThetaSketch.from_bytes(int(k_l[i]), bytes(e_l[i]))
            b = ThetaSketch.from_bytes(int(k_r[i]), bytes(e_r[i]))
            out[i] = pair_fn(a, b)
        return pd.Series(out)

    return joined.select(
        *on, _apply("k_l", "entries_l", "k_r", "entries_r").alias(alias)
    )


def theta_intersect_card(
    left: DataFrame, right: DataFrame, on: Sequence[str] = ()
) -> DataFrame:
    """DIRECT |A∩B| estimate per joined pair — exact below
    saturation; at rate min(theta_a, theta_b) above it. This is the
    fix for inclusion–exclusion's union-scaled error."""
    return _binary_theta_op(
        left, right, on, lambda a, b: a.intersect_card(b), "intersect_card"
    )


def theta_a_not_b_card(
    left: DataFrame, right: DataFrame, on: Sequence[str] = ()
) -> DataFrame:
    """DIRECT |A \\ B| estimate per joined pair — exact below
    saturation."""
    return _binary_theta_op(
        left, right, on, lambda a, b: a.a_not_b_card(b), "a_not_b_card"
    )


def theta_jaccard(
    left: DataFrame, right: DataFrame, on: Sequence[str] = ()
) -> DataFrame:
    """Jaccard similarity |A∩B| / |A∪B| per joined pair, both terms
    from the same min-theta sample (exact below saturation) — the
    set-level counterpart to the per-document minhash Jaccard the
    dedup family estimates."""

    def jac(a: ThetaSketch, b: ThetaSketch) -> float:
        u = a.union(b).estimate()
        if u == 0.0:
            return 0.0
        return a.intersect_card(b) / u

    return _binary_theta_op(left, right, on, jac, "jaccard")


def theta_pairwise(sketch_df: DataFrame, key: str) -> DataFrame:
    """Similarity matrix between every pair of groups from ONE sketch
    table — "which segments share members" (users across event types,
    domains across crawl batches) answered entirely in sketch space:
    no raw row is touched after the one ``theta_by`` pass.

    Output, one row per unordered pair (key_1 < key_2 as strings):
    DataFrame[key_1, key_2, card_1, card_2, intersect_card, jaccard,
    containment_1_in_2, containment_2_in_1] — all exact below
    saturation (< k distinct per side), estimated at the combined
    sampling rate above it.

    Scale shape: the input is |groups| sketch rows of ≤ k longs each;
    the pair join is |groups|²/2 rows of sketch blobs, one Arrow batch
    per ~thousand pairs. The input lineage is persisted internally —
    a self-join evaluates its source once PER BRANCH, and the source
    here is the expensive sketch build — then released before return:
    the (small) metric result is eagerly materialized and **persisted**,
    and the returned handle IS that persisted DataFrame — call
    ``.unpersist()`` when done (ADVICE r04: the old version leaked the
    input cache for the session). Mixed hash_fns refuse (probe
    provenance contract, same as cms/bloom)."""
    sk = sketch_df.persist()
    kc = F.col(key).cast("string")
    l = sk.select(
        kc.alias("key_1"),
        F.col("k").alias("k_l"),
        F.col("entries").alias("e_l"),
        F.col("hash_fn").alias("hf_l"),
    )
    r = sk.select(
        kc.alias("key_2"),
        F.col("k").alias("k_r"),
        F.col("entries").alias("e_r"),
        F.col("hash_fn").alias("hf_r"),
    )
    joined = l.join(r, on=F.col("key_1") < F.col("key_2"))

    out_t = StructType(
        [
            StructField("card_1", DoubleType()),
            StructField("card_2", DoubleType()),
            StructField("intersect_card", DoubleType()),
            StructField("jaccard", DoubleType()),
            StructField("containment_1_in_2", DoubleType()),
            StructField("containment_2_in_1", DoubleType()),
        ]
    )

    @F.pandas_udf(out_t)
    def _pair(
        k_l: pd.Series, e_l: pd.Series, hf_l: pd.Series,
        k_r: pd.Series, e_r: pd.Series, hf_r: pd.Series,
    ) -> pd.DataFrame:
        rows = []
        for i in range(len(k_l)):
            if hf_l[i] != hf_r[i]:
                raise ValueError(
                    f"theta_pairwise across hash_fns {hf_l[i]!r} vs "
                    f"{hf_r[i]!r} — rebuild one side"
                )
            a = ThetaSketch.from_bytes(int(k_l[i]), bytes(e_l[i]))
            b = ThetaSketch.from_bytes(int(k_r[i]), bytes(e_r[i]))
            ca, cb = a.estimate(), b.estimate()
            inter = a.intersect_card(b)
            union = a.union(b).estimate()
            rows.append(
                (
                    ca,
                    cb,
                    inter,
                    (inter / union) if union else 0.0,
                    (inter / ca) if ca else 0.0,
                    (inter / cb) if cb else 0.0,
                )
            )
        return pd.DataFrame(
            rows,
            columns=[
                "card_1", "card_2", "intersect_card", "jaccard",
                "containment_1_in_2", "containment_2_in_1",
            ],
        )

    paired = joined.select(
        "key_1",
        "key_2",
        _pair("k_l", "e_l", "hf_l", "k_r", "e_r", "hf_r").alias("__m"),
    )
    out = paired.select("key_1", "key_2", "__m.*").persist()
    out.count()  # materialize the small pair metrics, then release
    sk.unpersist()  # the sketch-build cache (its job is done)
    return out


def theta_containment(
    left: DataFrame, right: DataFrame, on: Sequence[str] = ()
) -> DataFrame:
    """Containment |A∩B| / |A| per joined pair — "what fraction of A
    is already in B", the leakage/coverage question (e.g. how much of
    an eval set appears in the training corpus, set-level rather than
    the per-document `decontaminate` answer). Exact below saturation;
    1.0 for A ⊆ B, 0.0 for an empty A."""

    def cont(a: ThetaSketch, b: ThetaSketch) -> float:
        card_a = a.estimate()
        if card_a == 0.0:
            return 0.0
        return a.intersect_card(b) / card_a

    return _binary_theta_op(left, right, on, cont, "containment")

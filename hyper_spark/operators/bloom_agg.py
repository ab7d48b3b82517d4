"""Distributed Bloom filter build + membership / join pruning.

Build mirrors hll_agg's ``explode`` strategy: k JVM-native md5 positions →
``posexplode`` → ``distinct`` (partial aggregation dedups map-side, so the
shuffle is bounded by the number of *set bits* ≤ m per group, not input
rows) → one bitmap pack per group, streamed through the shared
``grouped_apply`` (operators/util.py).

``bloom_prune`` is the runtime-filter use: membership test with JVM-side
position computation and an Arrow-batched bit probe against the broadcast
bitmap — the classic "build a filter on the small side, prune the big
scan" pattern that matters at 100 TB.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
)

from hyper_spark.kernel.bloom import BloomFilter
from hyper_spark.operators.cms_agg import cms_bucket_col
from hyper_spark.operators.util import grouped_apply

__all__ = ["bloom_by", "bloom_collect", "bloom_might_contain", "bloom_prune"]

BLOOM_FIELDS = [
    StructField("m_bits", IntegerType(), False),
    StructField("k", IntegerType(), False),
    StructField("n", LongType(), False),
    StructField("bits", BinaryType(), False),
    # which position hash built this filter: probing with a different
    # hash would produce silent FALSE NEGATIVES (dropped rows in
    # bloom_prune), so probes validate against this column
    StructField("hash_fn", StringType(), False),
]


def bloom_by(
    df: DataFrame,
    keys: Sequence[str],
    col: str | Column,
    m_bits: int = 1 << 16,
    k: int = 7,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """One Bloom filter per keys group. ``hash_fn='xxhash64'``
    (default) is the fast path (the md5 path's conv() hex parse
    dominates build cost); ``hash_fn='md5'`` reproduces the kernel's
    position hashing, so md5-built filters interoperate with
    kernel-side ``might_contain``/``bloom_collect``. Probe with the
    SAME hash_fn — the recorded ``hash_fn`` column is validated at
    probe time."""
    col = F.col(col) if isinstance(col, str) else col
    keys = list(keys)
    positions = F.posexplode(
        F.array(*[cms_bucket_col(col, i, m_bits, hash_fn) for i in range(k)])
    )
    # NULLs are skipped (NULL positions would poison the bitmap pack),
    # matching sketch_by's null contract
    nn = df.filter(col.isNotNull())
    # approximate insert count per group (for FPR introspection)
    counts = nn.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))
    bits_df = (
        nn.select(*keys, positions.alias("__row", "pos"))
        .select(*keys, "pos")
        .distinct()
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        bits = np.zeros((m_bits + 7) // 8, dtype=np.uint8)
        pos = pdf["pos"].to_numpy(dtype=np.int64)
        np.bitwise_or.at(bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))
        out = {kk: [pdf[kk].iloc[0]] for kk in keys}
        out.update(
            m_bits=[m_bits], k=[k], n=[0], bits=[bits.tobytes()],
            hash_fn=[hash_fn],
        )
        return pd.DataFrame(out)

    packed = grouped_apply(bits_df, keys, pack, BLOOM_FIELDS).drop("n")
    joined = (
        packed.join(counts, on=keys, how="left") if keys
        else packed.crossJoin(counts)
    )
    return joined.select(*keys, "m_bits", "k", "n", "bits", "hash_fn")


def bloom_collect(
    bloom_df: DataFrame, expect_hash_fn: str = "md5"
) -> BloomFilter:
    """Collect+merge to a kernel ``BloomFilter``. Refuses rows whose
    recorded ``hash_fn`` differs from ``expect_hash_fn`` — probing bits
    set by a different hash yields silent false negatives (the kernel
    itself is md5-only; Spark-side probes pass their own hash_fn)."""
    cols = ["m_bits", "k", "n", "bits"]
    has_hf = "hash_fn" in bloom_df.columns
    rows = bloom_df.select(*cols, *(["hash_fn"] if has_hf else [])).collect()
    if not rows:
        raise ValueError("empty bloom DataFrame")
    if has_hf:
        bad = {r["hash_fn"] for r in rows} - {expect_hash_fn}
        if bad:
            raise ValueError(
                f"bloom filter was built with hash_fn={bad.pop()!r} but is "
                f"being probed with hash_fn={expect_hash_fn!r} — membership "
                "tests would return silent false negatives"
            )
    out = BloomFilter.from_bytes(
        rows[0]["m_bits"], rows[0]["k"], bytes(rows[0]["bits"]), rows[0]["n"] or 0
    )
    for r in rows[1:]:
        out = out.merge(
            BloomFilter.from_bytes(r["m_bits"], r["k"], bytes(r["bits"]), r["n"] or 0)
        )
    return out


def bloom_might_contain(
    bloom_df: DataFrame,
    probe_df: DataFrame,
    col: str,
    alias: str = "might_contain",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Adds a boolean membership column to ``probe_df``. Positions are
    computed JVM-side; the bit probe is an Arrow-batched numpy lookup over
    the (closure-captured) bitmap."""
    bf = bloom_collect(bloom_df, expect_hash_fn=hash_fn)
    bits = bf.bits
    m_bits, k = bf.m_bits, bf.k
    pos_arr = F.array(
        *[cms_bucket_col(F.col(col), i, m_bits, hash_fn) for i in range(k)]
    )

    @F.pandas_udf(BooleanType())
    def probe(positions: pd.Series) -> pd.Series:
        # NULL probe values arrive as None: not a member, never an error
        vals = positions.to_numpy()
        ok = np.array([v is not None for v in vals])
        out = np.zeros(len(vals), dtype=bool)
        if ok.any():
            mat = np.stack(vals[ok]).astype(np.int64)  # (n_ok, k)
            hit = (bits[mat >> 3] & (1 << (mat & 7)).astype(np.uint8)) != 0
            out[ok] = hit.all(axis=1)
        return pd.Series(out)

    pos_arr = F.when(F.col(col).isNotNull(), pos_arr)
    return probe_df.withColumn(alias, probe(pos_arr))


def bloom_prune(
    bloom_df: DataFrame, big_df: DataFrame, col: str, hash_fn: str = "xxhash64"
) -> DataFrame:
    """Runtime-filter: keep only rows of ``big_df`` whose ``col`` might be
    in the filter (no false negatives ⇒ no lost rows; false positives are
    caught by whatever exact join follows). ``hash_fn`` must match the
    filter's build."""
    flagged = bloom_might_contain(
        bloom_df, big_df, col, alias="__keep", hash_fn=hash_fn
    )
    return flagged.filter(F.col("__keep")).drop("__keep")

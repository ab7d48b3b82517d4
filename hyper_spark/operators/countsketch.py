"""Count-Sketch / AMS: signed frequency sketching and F2 estimation.

Charikar, Chen & Farach-Colton, "Finding Frequent Items in Data Streams"
(ICALP 2002) — the count sketch — and Alon, Matias & Szegedy, "The Space
Complexity of Approximating the Frequency Moments" (STOC 1996) — the
tug-of-war F2 estimator the sketch's rows embed.

Relationship to count-min (operators/cms_agg.py): same d x w counter
matrix and the same physical plan, but each update carries a +/-1 sign
hash, and estimates take the MEDIAN over rows instead of the min. That
single change flips the guarantee:

* count-min is always an OVERcount (est <= true + eps*n) — the right
  tool for threshold passes (heavy_hitters guarantee mode);
* count sketch is UNBIASED (E[est] = true, |est - true| <=
  3*sqrt(F2/w) whp) — the right tool when estimates feed arithmetic
  (join-size products, frequency-vector dot products) where a
  systematic overcount would compound.

The AMS inner product (``cs_inner_product``) is likewise unbiased for
|L join R| where cms_inner_product's bound is one-sided; ``cs_f2``
estimates the second frequency moment sum(f_v^2) — the self-join size,
the standard skew diagnostic — from the sketch alone.

Physical plan (the cms_by doctrine): per-row hot path is pure JVM —
d bucket columns + d sign columns -> posexplode -> groupBy(keys, row,
bucket).sum(sign) (map-side partial aggregation caps the shuffle at
d*w rows per partition) -> one densify per group into the d x w int64
blob, streamed through the shared grouped_apply (operators/util.py).
Merge is element-wise addition, so the state is associative/commutative
and DELETION-TOLERANT: inserting with weight -1 removes an item, which
neither count-min (min breaks) nor the HLL family (max breaks)
supports.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from hyper_spark.operators.cms_agg import cms_bucket_col
from hyper_spark.operators.util import grouped_apply

__all__ = [
    "cs_sign_col",
    "cs_by",
    "cs_merge",
    "cs_estimate",
    "cs_f2",
    "cs_inner_product",
    "cs_diff",
    "cs_from_cells",
    "heavy_changers",
]

CS_FIELDS = [
    StructField("depth", IntegerType(), False),
    StructField("width", IntegerType(), False),
    StructField("n", LongType(), False),
    StructField("counters", BinaryType(), False),
    StructField("hash_fn", StringType(), False),
]


def cs_sign_col(col: Column, row: int, hash_fn: str = "xxhash64") -> Column:
    """+/-1 sign for sketch row ``row`` — independent of the bucket
    hash. ``md5``: parity of hex digit row%32 of md5("s{row//32}:{v}")
    (one extra digest per 32 rows, shared by Catalyst CSE; DuckDB
    reproduces it as ('0x'||substring(md5(...),i,1))::BIGINT % 2, so
    md5 sketches have full SQL oracle parity). ``xxhash64``: low bit
    under seed -row-1 (disjoint from the bucket hash's seed space,
    which uses non-negative row literals)."""
    if hash_fn == "md5":
        digit = F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"s{row // 32}:"), col.cast("string"))),
                (row % 32) + 1,
                1,
            ),
            16,
            10,
        ).cast("long")
        parity = F.pmod(digit, F.lit(2))
    elif hash_fn == "xxhash64":
        parity = F.pmod(
            F.xxhash64(F.lit(-row - 1), col.cast("string")), F.lit(2)
        )
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    return (F.lit(1) - F.lit(2) * parity).cast("long")


def cs_by(
    df: DataFrame,
    keys: Sequence[str],
    col: str | Column,
    depth: int = 5,
    width: int = 1024,
    hash_fn: str = "xxhash64",
    weight: str | Column | None = None,
) -> DataFrame:
    """One count sketch per keys group over ``col``.

    Returns DataFrame[*keys, depth, width, n, counters, hash_fn] with
    ``counters`` the row-major little-endian int64 d x w matrix. NULLs
    are skipped (cms_by's null contract). ``weight`` optionally scales
    each update (negative weights delete — the sketch is the one
    frequency structure in the library that supports turnstile
    updates); ``n`` records the signed total weight."""
    c = F.col(col) if isinstance(col, str) else col
    keys = list(keys)
    wcol = (
        F.lit(1).cast("long")
        if weight is None
        else (F.col(weight) if isinstance(weight, str) else weight).cast("long")
    )
    entries = F.posexplode(
        F.array(
            *[
                F.struct(
                    cms_bucket_col(c, i, width, hash_fn).alias("bucket"),
                    (cs_sign_col(c, i, hash_fn) * wcol).alias("delta"),
                )
                for i in range(depth)
            ]
        )
    )
    cells = (
        df.filter(c.isNotNull())
        .select(*keys, wcol.alias("__w"), entries.alias("row", "e"))
        .select(
            *keys,
            "__w",
            F.col("row"),
            F.col("e.bucket").alias("bucket"),
            F.col("e.delta").alias("delta"),
        )
        .groupBy(*keys, "row", "bucket")
        .agg(
            F.sum("delta").alias("csum"),
            # each input row contributes its weight once per sketch row;
            # dividing the grand total by depth recovers n exactly
            F.sum("__w").alias("wsum"),
        )
    )

    return cs_from_cells(cells, keys, depth, width, hash_fn)


def cs_from_cells(
    cells: DataFrame,
    keys: Sequence[str],
    depth: int,
    width: int,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Densify relational cell rows DataFrame[*keys, row, bucket, csum,
    wsum] into count-sketch states — cs_by's final stage, exposed as
    the read side of ``streaming_cs_cells``: cell counters are plain
    sums, so the SAME (row, bucket) appearing many times (e.g. once per
    closed time bucket in a streaming sink) sums linearly before the
    densify, which is exactly ``cs_merge`` of the per-bucket states.
    ``n`` recovers as the wsum total of sketch row 0."""
    keys = list(keys)

    def densify(pdf: pd.DataFrame) -> pd.DataFrame:
        counters = np.zeros((depth, width), dtype=np.int64)
        np.add.at(
            counters,
            (
                pdf["row"].to_numpy(dtype=np.int64),
                pdf["bucket"].to_numpy(dtype=np.int64),
            ),
            pdf["csum"].to_numpy(dtype=np.int64),
        )
        n = int(pdf.loc[pdf["row"] == 0, "wsum"].sum())
        out = {k: [pdf[k].iloc[0]] for k in keys}
        out.update(
            depth=[depth], width=[width], n=[n],
            counters=[counters.astype("<i8").tobytes()],
            hash_fn=[hash_fn],
        )
        return pd.DataFrame(out)

    return grouped_apply(cells, keys, densify, CS_FIELDS)


def _check_meta(pdf: pd.DataFrame) -> tuple[int, int, str]:
    depth = int(pdf["depth"].iloc[0])
    width = int(pdf["width"].iloc[0])
    hf = str(pdf["hash_fn"].iloc[0])
    if not ((pdf["depth"] == depth) & (pdf["width"] == width)).all():
        raise ValueError("count-sketch dimensions must match to merge")
    if not (pdf["hash_fn"] == hf).all():
        raise ValueError(
            "count sketches built with different hash_fns cannot be merged"
        )
    return depth, width, hf


def cs_merge(cs_df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Merge count sketches (element-wise signed add) grouped by keys."""
    keys = list(keys)

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        depth, width, hf = _check_meta(pdf)
        acc = np.zeros((depth, width), dtype=np.int64)
        for blob in pdf["counters"]:
            acc += np.frombuffer(blob, dtype="<i8").reshape(depth, width)
        out = {k: [pdf[k].iloc[0]] for k in keys}
        out.update(
            depth=[depth], width=[width], n=[int(pdf["n"].sum())],
            counters=[acc.astype("<i8").tobytes()], hash_fn=[hf],
        )
        return pd.DataFrame(out)

    return grouped_apply(cs_df, keys, merge, CS_FIELDS)


def _collect_counters(cs_df: DataFrame, expect_hash_fn: str | None):
    rows = cs_df.select("depth", "width", "n", "counters", "hash_fn").collect()
    if not rows:
        raise ValueError("empty count-sketch DataFrame")
    depth, width = rows[0]["depth"], rows[0]["width"]
    counters = np.zeros((depth, width), dtype=np.int64)
    n = 0
    for r in rows:
        if (r["depth"], r["width"]) != (depth, width):
            raise ValueError("count-sketch dimensions must match to merge")
        if expect_hash_fn is not None and r["hash_fn"] != expect_hash_fn:
            raise ValueError(
                f"sketch was built with hash_fn={r['hash_fn']!r} but is "
                f"being probed with hash_fn={expect_hash_fn!r} — estimates "
                "would be silently wrong"
            )
        counters += np.frombuffer(bytes(r["counters"]), dtype="<i8").reshape(
            depth, width
        )
        n += int(r["n"])
    return depth, width, counters, n


_OFFSET = 1 << 62  # big-endian *unsigned* decode window for signed counters


def cs_estimate(
    cs_df: DataFrame,
    candidates: DataFrame,
    col: str,
    alias: str = "est_count",
    max_jvm_cells: int = 1 << 17,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Unbiased count estimates for candidate values against a global
    sketch: median over rows of sign_i(v) * C[i][bucket_i(v)].

    Same two paths as cms_estimate: for sketches up to
    ``max_jvm_cells`` the lookup is pure codegen — counters ship as ONE
    binary literal, offset-encoded by 2^62 so the unsigned
    conv(hex(...)) decode recovers signed values, and the odd-depth
    median is element_at(array_sort(...), (d+1)/2). Bigger sketches (or
    even depth, whose median would interpolate) fall back to an
    Arrow-batched pandas UDF. NULL candidates estimate 0."""
    depth, width, counters, _ = _collect_counters(cs_df, hash_fn)
    c = F.col(col)

    if depth * width <= max_jvm_cells and depth % 2 == 1:
        blob = F.lit(bytearray((counters + _OFFSET).astype(">i8").tobytes()))
        cells = []
        for i in range(depth):
            pos = (cms_bucket_col(c, i, width, hash_fn) + i * width) * 8 + 1
            raw = F.conv(
                F.hex(F.substring(blob, pos.cast("int"), 8)), 16, 10
            ).cast("long") - F.lit(_OFFSET)
            cells.append(cs_sign_col(c, i, hash_fn) * raw)
        est = F.element_at(F.array_sort(F.array(*cells)), (depth + 1) // 2)
        return candidates.withColumn(
            alias, F.when(c.isNull(), F.lit(0).cast("long")).otherwise(est)
        )

    bucket_arr = F.when(
        c.isNotNull(),
        F.array(*[cms_bucket_col(c, i, width, hash_fn) for i in range(depth)]),
    )
    sign_arr = F.when(
        c.isNotNull(),
        F.array(*[cs_sign_col(c, i, hash_fn) for i in range(depth)]),
    )

    @F.pandas_udf(LongType())
    def lookup(buckets: pd.Series, signs: pd.Series) -> pd.Series:
        bvals = buckets.to_numpy()
        svals = signs.to_numpy()
        ok = np.array([v is not None for v in bvals])
        out = np.zeros(len(bvals), dtype=np.int64)
        if ok.any():
            bmat = np.stack(bvals[ok])
            smat = np.stack(svals[ok])
            vals = smat * counters[np.arange(depth)[None, :], bmat]
            out[ok] = np.median(vals, axis=1).astype(np.int64)
        return pd.Series(out)

    return candidates.withColumn(alias, lookup(bucket_arr, sign_arr))


def cs_f2(cs_df: DataFrame, keys: Sequence[str] = ()) -> DataFrame:
    """Second frequency moment sum(f_v^2) — the SELF-JOIN size — per
    sketch row the AMS tug-of-war value sum_b C[i][b]^2, median over
    rows (unbiased; relative error ~ 1/sqrt(w)). One mapInPandas over
    sketch blobs only. Output: DataFrame[*keys, f2_est, n]."""
    keys = list(keys)
    out_schema = StructType(
        ([cs_df.schema[k] for k in keys] if keys else [])
        + [
            StructField("f2_est", LongType(), False),
            StructField("n", LongType(), False),
        ]
    )

    def compute(pdf: pd.DataFrame) -> pd.DataFrame:
        out = {k: [] for k in keys}
        out["f2_est"], out["n"] = [], []
        for row in pdf.itertuples(index=False):
            d = row._asdict()
            mat = np.frombuffer(bytes(d["counters"]), dtype="<i8").reshape(
                int(d["depth"]), int(d["width"])
            )
            per_row = (mat.astype(np.float64) ** 2).sum(axis=1)
            for k in keys:
                out[k].append(d[k])
            out["f2_est"].append(int(np.median(per_row)))
            out["n"].append(int(d["n"]))
        return pd.DataFrame(out)

    return cs_df.mapInPandas(
        lambda batches: (compute(p) for p in batches if len(p)), out_schema
    )


def cs_inner_product(
    left: DataFrame, right: DataFrame, on: Sequence[str] = ()
) -> DataFrame:
    """Unbiased equijoin-size estimate from two count sketches (AMS):
    per joined pair, median over rows of sum_b A[i][b]*B[i][b], which
    estimates sum_v f_L(v)*f_R(v) = |L join R|. Complements
    cms_inner_product: CM's estimate is a guaranteed overcount, this
    one is unbiased with error ~ sqrt(F2(L)*F2(R)/w) — prefer it when
    the estimate feeds a cost model rather than a safety threshold.

    Both sketches must share depth, width AND hash_fn (bucket AND sign
    alignment); mismatches raise. Output: DataFrame[*on,
    inner_product, n_l, n_r]."""
    on = list(on)
    sel = ["depth", "width", "n", "counters", "hash_fn"]
    l = left.select(*on, *sel).toDF(*on, *[f"{c}_l" for c in sel])
    r = right.select(*on, *sel).toDF(*on, *[f"{c}_r" for c in sel])
    joined = l.join(r, on=on) if on else l.crossJoin(r)

    out_schema = StructType(
        ([left.schema[k] for k in on])
        + [
            StructField("inner_product", LongType(), False),
            StructField("n_l", LongType(), False),
            StructField("n_r", LongType(), False),
        ]
    )

    def compute(pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for row in pdf.itertuples(index=False):
            d = row._asdict()
            if (d["depth_l"], d["width_l"]) != (d["depth_r"], d["width_r"]):
                raise ValueError(
                    "count-sketch dimensions must match to inner-product"
                )
            if d["hash_fn_l"] != d["hash_fn_r"]:
                raise ValueError(
                    "count sketches built with different hash_fns "
                    f"({d['hash_fn_l']!r} vs {d['hash_fn_r']!r}) do not "
                    "bucket/sign-align"
                )
            a = np.frombuffer(bytes(d["counters_l"]), dtype="<i8").reshape(
                int(d["depth_l"]), int(d["width_l"])
            )
            b = np.frombuffer(bytes(d["counters_r"]), dtype="<i8").reshape(
                int(d["depth_r"]), int(d["width_r"])
            )
            per_row = (a.astype(np.float64) * b.astype(np.float64)).sum(axis=1)
            rec = {k: d[k] for k in on}
            rec.update(
                inner_product=int(np.median(per_row)),
                n_l=int(d["n_l"]), n_r=int(d["n_r"]),
            )
            out.append(rec)
        return pd.DataFrame(out)

    return joined.mapInPandas(
        lambda batches: (compute(p) for p in batches if len(p)), out_schema
    )


def cs_diff(
    left: DataFrame, right: DataFrame, on: Sequence[str] = ()
) -> DataFrame:
    """Count sketch of the DIFFERENCE stream f_L - f_R, by linearity.

    The count sketch is a linear projection of the frequency vector, so
    subtracting counters element-wise yields exactly the sketch that
    ``cs_by`` would build over the signed union "all of L, then all of
    R with weight -1" (pytest-asserted bit-exact). That is what makes
    retrospective change analysis possible from stored per-period
    states alone: no re-scan of either period's raw rows. ``n`` is the
    signed total weight n_L - n_R (the turnstile contract).

    Grouped mode (``on``): full outer join, a side with no sketch for a
    group is the zero sketch. Dimension/hash_fn mismatches raise.
    Output schema is the cs_by state, so ``cs_estimate`` (point change
    estimates), ``cs_f2`` (the squared L2 change norm
    sum_v (f_L(v)-f_R(v))^2 — the drift diagnostic that, unlike PSI
    over binned numerics, needs no key dictionary), and further
    ``cs_diff``/``cs_merge`` algebra all apply unchanged."""
    on = list(on)
    sel = ["depth", "width", "n", "counters", "hash_fn"]
    l = left.select(*on, *sel).toDF(*on, *[f"{c}_l" for c in sel])
    r = right.select(*on, *sel).toDF(*on, *[f"{c}_r" for c in sel])
    joined = l.join(r, on=on, how="full") if on else l.crossJoin(r)

    out_schema = StructType(
        ([left.schema[k] for k in on]) + CS_FIELDS
    )

    def compute(pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for row in pdf.itertuples(index=False):
            d = row._asdict()
            have_l = d["counters_l"] is not None
            have_r = d["counters_r"] is not None
            if have_l and have_r:
                if (d["depth_l"], d["width_l"]) != (d["depth_r"], d["width_r"]):
                    raise ValueError(
                        "count-sketch dimensions must match to diff"
                    )
                if d["hash_fn_l"] != d["hash_fn_r"]:
                    raise ValueError(
                        "count sketches built with different hash_fns "
                        f"({d['hash_fn_l']!r} vs {d['hash_fn_r']!r}) do "
                        "not bucket/sign-align"
                    )
            side = "_l" if have_l else "_r"
            depth, width = int(d[f"depth{side}"]), int(d[f"width{side}"])
            hf = d[f"hash_fn{side}"]
            a = (
                np.frombuffer(bytes(d["counters_l"]), dtype="<i8")
                if have_l
                else np.zeros(depth * width, dtype=np.int64)
            )
            b = (
                np.frombuffer(bytes(d["counters_r"]), dtype="<i8")
                if have_r
                else np.zeros(depth * width, dtype=np.int64)
            )
            rec = {k: d[k] for k in on}
            # outer-join NULL n arrives as NaN in pandas (float column)
            n_l = 0 if pd.isna(d["n_l"]) else int(d["n_l"])
            n_r = 0 if pd.isna(d["n_r"]) else int(d["n_r"])
            rec.update(
                depth=depth, width=width,
                n=n_l - n_r,
                counters=(a - b).astype("<i8").tobytes(),
                hash_fn=hf,
            )
            out.append(rec)
        return pd.DataFrame(out)

    return joined.mapInPandas(
        lambda batches: (compute(p) for p in batches if len(p)), out_schema
    )


def heavy_changers(
    cs_a: DataFrame,
    cs_b: DataFrame,
    candidates: DataFrame,
    col: str,
    threshold: int | None = None,
    k: int | None = None,
    alias: str = "change_est",
    hash_fn: str = "xxhash64",
    max_jvm_cells: int = 1 << 17,
) -> DataFrame:
    """Deltoids — keys whose frequency CHANGED most between two periods
    (Cormode & Muthukrishnan, "What's New: Finding Significant
    Differences in Network Data Streams", INFOCOM 2004) — estimated
    from the two periods' stored sketch states alone via ``cs_diff``.

    Per candidate the unbiased signed estimate of f_A(v) - f_B(v)
    (``alias``) plus ``abs_change``; ``threshold`` keeps |change| >=
    threshold, ``k`` keeps the top-k by |change| (deterministic
    tie-break on the candidate value). Candidate sourcing at scale:
    since f >= 0 on both sides, |f_A(v) - f_B(v)| <= max(f_A(v),
    f_B(v)), so every key with true |change| >= T appears with count
    >= T in at least one period — the union of the two periods'
    exact-guarantee heavy hitters (cms_agg.heavy_hitters
    guarantee=True at phi = T/n) is a COMPLETE candidate set; small
    dimension dictionaries (tool names, event types) can be probed
    directly. Global sketches only, like cs_estimate."""
    est = cs_estimate(
        cs_diff(cs_a, cs_b),
        candidates,
        col,
        alias=alias,
        max_jvm_cells=max_jvm_cells,
        hash_fn=hash_fn,
    ).withColumn("abs_change", F.abs(F.col(alias)))
    if threshold is not None:
        est = est.filter(F.col("abs_change") >= F.lit(int(threshold)))
    if k is not None:
        est = est.orderBy(
            F.desc("abs_change"), F.col(col).cast("string")
        ).limit(int(k))
    return est

"""Distributed HLL sketch aggregation.

The insight this whole module leans on: the reference's union is exactly
element-wise max over register arrays, so a sketch is a perfect mergeable
partial-aggregate state for Spark's partial/final aggregation model — the
reference README itself sketches the map/reduce deployment
(``/root/reference/README.md:10-15``).

Two physical strategies, both ending in identical sketch bytes:

``explode`` (the default)
    rows → JVM-native (idx, rho) columns → ``groupBy(keys, idx).max(rho)``
    (Catalyst inserts the map-side partial aggregate; shuffle volume is
    bounded by Σ_g min(n_g, 2^p) small int rows, and the 2^p idx values
    act as a built-in salt that spreads any hot group key over the whole
    cluster) → one densify per group, streamed through the shared
    ``grouped_apply`` (operators/util.py).

``partial``
    rows → JVM-native (idx, rho) → the shared ``mapInArrow``
    register-partial builder (``_register_partials``, also checkpoint
    level 0) builds *per-partition* partial sketches in Arrow and numpy
    (map-side combine; nothing raw is shuffled) → ``grouped_apply``
    merge of the blobs per group with ``np.maximum.reduce``. This is
    the treeAggregate shape: shuffle carries only num_partitions ×
    num_groups blobs.

At 100 TB: ``explode`` keeps the shuffle proportional to distinct
(group, idx) pairs — at most 2^p rows per group no matter how many input
rows — and ``partial`` keeps it proportional to partitions × groups.
``partial`` can win when groups ≪ rows/partition, but it ships every
raw (idx, rho) row through Arrow, so ``auto`` always picks ``explode``
(measured in ``sketch_by``).

Mixed-precision merge folds to the minimum P first, matching union/1
(``src/hyper.erl:67-88``).
"""

from __future__ import annotations

import time
from typing import Iterator, Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark import TaskContext
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from hyper_spark.functions.hashing import hll_prepare
from hyper_spark.kernel.hll import (
    HllSketch,
    beta_coefficients,
    decode_register_blob,
    encode_registers,
    estimate_beta,
    estimate_from_registers,
)
from hyper_spark.operators.util import grouped_apply

__all__ = [
    "sketch_by",
    "multi_sketch_by",
    "union_sketches",
    "cardinality_col",
    "cardinality_beta_col",
    "beta_estimate_agg",
    "approx_distinct",
    "sketch_collect",
    "register_table",
    "collect_sketches_from_registers",
    "intersect_card",
    "difference_card",
    "SKETCH_FIELDS",
]

SKETCH_FIELDS = [
    StructField("p", IntegerType(), False),
    StructField("registers", BinaryType(), False),
]

# what a map-side partial records about its build (_register_partials)
LINEAGE_FIELDS = [
    StructField("partition_id", IntegerType(), False),
    StructField("rows_in", LongType(), False),
    StructField("sketch_bytes", LongType(), False),
    StructField("build_ms", DoubleType(), False),
]


def _densify_fn(p: int, keys: Sequence[str], encoding: str = "dense"):
    m = 1 << p

    def densify(pdf: pd.DataFrame) -> pd.DataFrame:
        regs = np.zeros(m, dtype=np.uint8)
        np.maximum.at(
            regs,
            pdf["idx"].to_numpy(dtype=np.int64),
            pdf["rho"].to_numpy(dtype=np.uint8),
        )
        out = {k: [pdf[k].iloc[0]] for k in keys}
        out["p"] = [p]
        out["registers"] = [encode_registers(regs, encoding)]
        return pd.DataFrame(out)

    return densify


def _merge_fn(keys: Sequence[str], encoding: str = "dense", decode_encoding: str = "auto"):
    """``decode_encoding`` declares how the INPUT blobs were written —
    required for 'packed6' inputs, whose length is ambiguous with sparse
    (kernel.decode_register_blob docstring)."""
    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        ps = pdf["p"].to_numpy()
        min_p = int(ps.min())
        stacked = []
        for p_i, blob in zip(ps, pdf["registers"]):
            regs = decode_register_blob(int(p_i), blob, decode_encoding)
            if p_i != min_p:
                regs = regs.reshape(-1, 1 << min_p).max(axis=0)
            stacked.append(regs)
        merged = np.maximum.reduce(stacked) if len(stacked) > 1 else stacked[0]
        out = {k: [pdf[k].iloc[0]] for k in keys}
        out["p"] = [min_p]
        out["registers"] = [encode_registers(merged, encoding)]
        return pd.DataFrame(out)

    return merge


def _group_codes(batch: pa.RecordBatch, cols: Sequence[str]) -> tuple[np.ndarray, np.ndarray]:
    """Number the distinct ``cols`` value tuples of a non-empty batch:
    the first row holding each tuple, and each row's tuple number.
    NULL is a value of its own; no ``cols`` is one tuple."""
    first = np.zeros(1, dtype=np.int64)
    code = np.zeros(batch.num_rows, dtype=np.int64)
    for c in cols:
        enc = pc.dictionary_encode(batch.column(c), null_encoding="encode")
        # renumbering after each column keeps the codes below rows^2
        _, first, code = np.unique(
            code * len(enc.dictionary) + enc.indices.to_numpy(),
            return_index=True,
            return_inverse=True,
        )
    return first, code


def _grow(a: np.ndarray, n: int) -> np.ndarray:
    """``a`` with room for at least ``n`` rows; new rows are zero."""
    if n <= len(a):
        return a
    out = np.zeros((max(n, 2 * len(a)),) + a.shape[1:], dtype=a.dtype)
    out[: len(a)] = a
    return out


def _register_partials(
    prepared: DataFrame, group_cols: Sequence[str], p: int, encoding: str
) -> DataFrame:
    """The map-side combine of every ``partial`` plan (``sketch_by``'s
    ``partial`` strategy and checkpoint level 0): per task partition,
    one sketch per distinct ``group_cols`` tuple plus its lineage.

    ``prepared`` holds ``group_cols`` and the JVM-computed ``idx`` and
    ``rho``. Batches stay in Arrow and numpy: each row gets a group
    code from the Arrow key columns, a partition-wide slot per group,
    and one ``np.maximum.at`` per batch folds the batch into a
    slots × 2^p register matrix. Keys are emitted as the Arrow values
    that arrived, so a bigint key above 2^53 keeps its exact value
    whatever shares its batch."""
    group_cols = list(group_cols)
    m = 1 << p
    schema = StructType(
        [prepared.schema[c] for c in group_cols] + SKETCH_FIELDS + LINEAGE_FIELDS
    )
    large = prepared.sparkSession.conf.get(
        "spark.sql.execution.arrow.useLargeVarTypes", "false"
    ).lower() == "true"
    out_schema = to_arrow_schema(schema, prefers_large_types=large)

    def build(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        t0 = time.perf_counter()
        slots: dict[tuple, int] = {}
        heads: list[list[pa.Array]] = []  # key values of the slots each batch opened
        regs = np.zeros((0, m), dtype=np.uint8)
        rows_in = np.zeros(0, dtype=np.int64)
        for batch in batches:
            if batch.num_rows == 0:
                continue
            first, code = _group_codes(batch, group_cols)
            key_cols = [batch.column(c).take(first) for c in group_cols]
            # with no group_cols the batch is one group, keyed ()
            tuples = list(zip(*(c.to_pylist() for c in key_cols))) or [()]
            new = [i for i, t in enumerate(tuples) if t not in slots]
            for i in new:
                slots[tuples[i]] = len(slots)
            if new:
                heads.append([c.take(new) for c in key_cols])
            slot = np.fromiter((slots[t] for t in tuples), np.int64, len(tuples))[code]
            regs, rows_in = _grow(regs, len(slots)), _grow(rows_in, len(slots))
            np.maximum.at(
                regs.reshape(-1),
                slot * m + batch.column("idx").to_numpy(),
                batch.column("rho").to_numpy().astype(np.uint8),
            )
            rows_in += np.bincount(slot, minlength=len(rows_in))
        n = len(slots)
        if not n:
            return
        blobs = [encode_registers(r, encoding) for r in regs[:n]]
        build_ms = (time.perf_counter() - t0) * 1000.0 / n
        cols = [pa.concat_arrays([h[i] for h in heads]) for i in range(len(group_cols))]
        cols += [
            pa.array(np.full(n, p)),
            pa.array(blobs),
            pa.array(np.full(n, TaskContext.get().partitionId())),
            pa.array(rows_in[:n]),
            pa.array(np.fromiter(map(len, blobs), np.int64, n)),
            pa.array(np.full(n, build_ms)),
        ]
        yield pa.RecordBatch.from_arrays(
            [c.cast(f.type) for c, f in zip(cols, out_schema)], schema=out_schema
        )

    return prepared.mapInArrow(build, schema)


def sketch_by(
    df: DataFrame,
    keys: Sequence[str],
    col: str | Column,
    p: int = 14,
    strategy: str = "auto",
    encoding: str = "dense",
    hash_fn: str = "sha1",
) -> DataFrame:
    """Aggregate ``col`` into one HLL sketch per ``keys`` group.

    Returns DataFrame[*keys, p int, registers binary]. ``encoding``:
    ``dense`` (default) is the canonical 2^p-byte form
    (src/hyper_register.erl:61-65), byte-equal to a kernel-side
    sequential build; ``sparse``/``auto`` emit the ⟨idx:16, rho:8⟩-pairs
    blob below the hyper_bisect fill threshold
    (src/hyper_bisect.erl:18-29) — up to ~1000x smaller for
    low-cardinality groups, decoded transparently by every consumer.

    NULL values are skipped, matching the null-skipping contract of
    Spark's own approx_count_distinct (the reference only accepts
    binaries, src/hyper.erl:20, so it has no null case).

    ``hash_fn``: ``'sha1'`` (default) is byte-compatible with the
    reference; ``'xxhash64'`` is the 100-TB fast path — ~3x hash-stage
    throughput, same error bounds, NO reference/kernel byte parity, and
    sketches from different hash_fns must never be unioned (see
    functions/hashing.py)."""
    col = F.col(col) if isinstance(col, str) else col
    keys = list(keys)
    if encoding == "packed6":
        # packed6 blobs are length-ambiguous with sparse; every generic
        # consumer (cardinality_col, union_sketches, serde) decodes with
        # the 'auto' default. Only checkpointed_sketch_build threads the
        # decode hint level-to-level, so the mode lives there (and in the
        # explicit hll_pack6_col/hll_unpack6_col serde pair).
        raise ValueError(
            "encoding='packed6' is only supported inside "
            "checkpointed_sketch_build (the decode hint must travel with "
            "the blobs); use dense/auto/sparse here"
        )
    if strategy == "auto":
        # ALWAYS explode: the register path is JVM end-to-end (map-side
        # combine bounds every task's shuffle output at 2^p rows per
        # group), while 'partial' ships EVERY raw (idx, rho) row through
        # Arrow into Python. Measured at sf16 (74.5M rows, global
        # sketch, local[32]): explode 2.5 s vs partial 17.7 s — the old
        # keys=[] → 'partial' default was a 7x regression at scale.
        # 'partial' stays available explicitly (its one-blob-per-
        # partition shape is what checkpointed_sketch_build builds on,
        # with salting/lineage where it belongs).
        strategy = "explode"

    idx, rho = hll_prepare(col, p, hash_fn)
    prepared = df.filter(col.isNotNull()).select(
        *keys, idx.alias("idx"), rho.alias("rho")
    )

    if strategy == "partial":
        partials = _register_partials(prepared, keys, p, encoding).drop(
            *(f.name for f in LINEAGE_FIELDS)
        )
        return grouped_apply(partials, keys, _merge_fn(keys, encoding), SKETCH_FIELDS)

    if strategy == "explode":
        reg_table = prepared.groupBy(*keys, "idx").agg(F.max("rho").alias("rho"))
        return grouped_apply(
            reg_table, keys, _densify_fn(p, keys, encoding), SKETCH_FIELDS
        )

    raise ValueError(f"unknown strategy {strategy!r}")


def multi_sketch_by(
    df: DataFrame,
    keys: Sequence[str],
    cols: dict,
    p: int = 14,
    hash_fn: str = "sha1",
    encoding: str = "dense",
) -> DataFrame:
    """Several distinct-count metrics in ONE scan: ``cols`` maps metric
    tag → value column; each (tag, keys) group gets its own sketch,
    byte-identical to a separate ``sketch_by`` per column.

    Shape: the per-row hash expressions for every metric compute in the
    same projection, explode into (tag, idx, rho) rows (so one pass over
    the data feeds all metrics), then the usual bounded register
    aggregation — shuffle ≤ |metrics| × groups × 2^p rows regardless of
    input size. This is the realistic analytics-pass shape (the scaling
    harness measures exactly this job): N metrics cost one read plus N
    tiny aggregates, not N reads.

    Returns DataFrame[metric string, *keys, p, registers]."""
    keys = list(keys)
    if encoding == "packed6":
        raise ValueError(
            "encoding='packed6' is only supported inside "
            "checkpointed_sketch_build; use dense/auto/sparse here"
        )
    structs = []
    for tag, c in cols.items():
        c = F.col(c) if isinstance(c, str) else c
        idx, rho = hll_prepare(c, p, hash_fn)
        # NULL value -> NULL idx/rho inside the struct; filtered after the
        # explode (a pre-filter can't apply per-metric)
        structs.append(
            F.struct(F.lit(tag).alias("tag"), idx.alias("idx"), rho.alias("rho"))
        )
    exploded = (
        df.select(*keys, F.explode(F.array(*structs)).alias("s"))
        .select(
            *keys,
            F.col("s.tag").alias("metric"),
            F.col("s.idx").alias("idx"),
            F.col("s.rho").alias("rho"),
        )
        .filter(F.col("idx").isNotNull())
    )
    reg = exploded.groupBy("metric", *keys, "idx").agg(F.max("rho").alias("rho"))
    return grouped_apply(
        reg, ["metric"] + keys, _densify_fn(p, ["metric"] + keys, encoding), SKETCH_FIELDS
    )


def register_table(
    df: DataFrame,
    keys: Sequence[str],
    col: str | Column,
    p: int = 14,
    hash_fn: str = "sha1",
) -> DataFrame:
    """The sparse sketch as rows: DataFrame[*keys, idx, rho] with rho the
    per-(group, idx) max — 100% JVM (scan → hash exprs → partial/final
    aggregate), no Python stage anywhere. At most groups × 2^p rows.
    NULL values are skipped (see sketch_by)."""
    col = F.col(col) if isinstance(col, str) else col
    keys = list(keys)
    idx, rho = hll_prepare(col, p, hash_fn)
    prepared = df.filter(col.isNotNull()).select(
        *keys, idx.alias("idx"), rho.alias("rho")
    )
    return prepared.groupBy(*keys, "idx").agg(F.max("rho").alias("rho"))


def collect_sketches_from_registers(
    reg_df: DataFrame, keys: Sequence[str], p: int
) -> dict[tuple, HllSketch]:
    """Driver-side final assembly of a register table into kernel
    sketches (the reference's read path is likewise a cheap scalar stage,
    src/hyper.erl:103-130 / SURVEY §3.3).

    Use when groups × 2^p rows are driver-collectible (e.g. a global
    sketch or a handful of groups): it removes every Python executor
    stage from the job, leaving a pure whole-stage-codegen plan plus one
    tiny collect. For many groups use ``sketch_by`` (distributed
    densify)."""
    keys = list(keys)
    rows = reg_df.collect()
    out: dict[tuple, HllSketch] = {}
    by_key: dict[tuple, list] = {}
    for r in rows:
        k = tuple(r[c] for c in keys)
        by_key.setdefault(k, []).append((r["idx"], r["rho"]))
    for k, pairs in by_key.items():
        idxs = np.fromiter((i for i, _ in pairs), dtype=np.int64, count=len(pairs))
        rhos = np.fromiter((v for _, v in pairs), dtype=np.uint8, count=len(pairs))
        out[k] = HllSketch.from_sparse(p, idxs, rhos)
    return out


def union_sketches(
    sketch_df: DataFrame,
    keys: Sequence[str],
    encoding: str = "dense",
    decode_encoding: str = "auto",
) -> DataFrame:
    """Merge sketches (lossless register max) grouped by ``keys`` — e.g.
    roll per-day sketches up to per-month. Mixed P folds to min P
    (src/hyper.erl:82-87).

    Caveat carried over from the reference's fold (I mod 2^P',
    hyper_binary.erl:150-155): same-P unions are exactly lossless, but a
    *mixed*-P union of sketches built over OVERLAPPING value sets
    double-registers the common elements (folded indices use different
    hash bits than natively-built lower-P indices). Build at one P when
    sets overlap; mixed P is safe for disjoint shards."""
    keys = list(keys)
    if encoding == "packed6":
        raise ValueError(
            "encoding='packed6' is only supported inside "
            "checkpointed_sketch_build (the decode hint must travel with "
            "the blobs); use dense/auto/sparse here"
        )
    return grouped_apply(
        sketch_df, keys, _merge_fn(keys, encoding, decode_encoding), SKETCH_FIELDS
    )


@F.pandas_udf(DoubleType())
def cardinality_col(p: pd.Series, registers: pd.Series) -> pd.Series:
    """Arrow-batched estimator column: sketch blob (dense or sparse) →
    cardinality estimate (src/hyper.erl:103-130)."""
    out = np.empty(len(p), dtype=np.float64)
    for i, (p_i, blob) in enumerate(zip(p, registers)):
        out[i] = estimate_from_registers(
            decode_register_blob(int(p_i), blob), int(p_i)
        )
    return pd.Series(out)


@F.pandas_udf(DoubleType())
def cardinality_beta_col(p: pd.Series, registers: pd.Series) -> pd.Series:
    """Arrow-batched LogLog-Beta estimator column (kernel/hll.py::
    estimate_beta): branch-free, bias-table-free alternative to
    ``cardinality_col``."""
    out = np.empty(len(p), dtype=np.float64)
    for i, (p_i, blob) in enumerate(zip(p, registers)):
        out[i] = estimate_beta(
            decode_register_blob(int(p_i), blob), int(p_i)
        )
    return pd.Series(out)


def beta_estimate_agg(p: int, rho: str | Column = "rho") -> Column:
    """LogLog-Beta estimate as ONE pure-JVM aggregate expression over a
    register table (``register_table`` rows: one (group, idx, rho) row
    per NONZERO register). Compose as

        register_table(df, keys, col, p).groupBy(*keys)
            .agg(beta_estimate_agg(p).alias("estimate"))

    and the whole query — scan, hash, register max, estimate — runs in
    whole-stage codegen with zero Python stages. z (zero registers)
    = m - count(rows); each zero register contributes 2^0 = 1 to the
    register sum, hence the ``+ z`` next to sum(2^-rho). Bit-identical
    to kernel estimate_beta (gated)."""
    rho = F.col(rho) if isinstance(rho, str) else rho
    m = float(1 << p)
    c = [float(x) for x in beta_coefficients(p)]
    z = F.lit(m) - F.count(F.lit(1)).cast("double")
    ssum = F.sum(F.pow(F.lit(2.0), -rho.cast("double"))) + z
    zl = F.log(z + F.lit(1.0))
    beta = F.lit(c[0]) * z
    for i in range(1, 8):
        beta = beta + F.lit(c[i]) * F.pow(zl, F.lit(float(i)))
    from hyper_spark.kernel.hll import alpha as _alpha

    return F.lit(_alpha(1 << p)) * F.lit(m) * (F.lit(m) - z) / (beta + ssum)


def approx_distinct(
    df: DataFrame,
    keys: Sequence[str],
    col: str | Column,
    p: int = 14,
    strategy: str = "auto",
    hash_fn: str = "sha1",
    estimator: str = "hllpp",
) -> DataFrame:
    """User-facing distinct-cardinality query: one estimate per group.
    ``estimator='beta'`` routes the read side through LogLog-Beta."""
    sk = sketch_by(df, keys, col, p, strategy, hash_fn=hash_fn)
    est_fn = {"hllpp": cardinality_col, "beta": cardinality_beta_col}[estimator]
    return sk.select(
        *keys, est_fn(F.col("p"), F.col("registers")).alias("estimate")
    )


def sketch_collect(sketch_df: DataFrame, p: int | None = None) -> HllSketch:
    """Collect a single-row sketch DataFrame to a kernel HllSketch."""
    rows = sketch_df.select("p", "registers").collect()
    if not rows:
        if p is None:
            raise ValueError("empty sketch DataFrame and no default precision")
        return HllSketch(p)
    sketches = [HllSketch.from_blob(r["p"], bytes(r["registers"])) for r in rows]
    return HllSketch.merge_all(sketches)


def _binary_sketch_op(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    pair_fn,
    alias: str,
) -> DataFrame:
    """Shared shape for pairwise sketch operators: join two sketch
    tables on ``on`` (cross join of singletons when empty) and apply
    ``pair_fn(HllSketch, HllSketch) -> float`` per pair in one Arrow
    batch — sketches decode via ``from_blob`` (dense + sparse)."""
    on = list(on)
    l = left.select(
        *on, F.col("p").alias("p_l"), F.col("registers").alias("registers_l")
    )
    r = right.select(
        *on, F.col("p").alias("p_r"), F.col("registers").alias("registers_r")
    )
    joined = l.join(r, on=on) if on else l.crossJoin(r)

    @F.pandas_udf(DoubleType())
    def _apply(
        p_l: pd.Series, reg_l: pd.Series, p_r: pd.Series, reg_r: pd.Series
    ) -> pd.Series:
        out = np.empty(len(p_l))
        for i in range(len(p_l)):
            a = HllSketch.from_blob(int(p_l[i]), bytes(reg_l[i]))
            b = HllSketch.from_blob(int(p_r[i]), bytes(reg_r[i]))
            out[i] = pair_fn(a, b)
        return pd.Series(out)

    return joined.select(
        *on,
        _apply("p_l", "registers_l", "p_r", "registers_r").alias(alias),
    )


def intersect_card(
    left: DataFrame, right: DataFrame, on: Sequence[str] = ()
) -> DataFrame:
    """Inclusion–exclusion intersection estimate between two sketch tables
    (src/hyper.erl:97-100; no accuracy guarantee). Joined on ``on`` (cross
    join of singletons when empty)."""
    return _binary_sketch_op(
        left, right, on,
        lambda a, b: a.intersect_cardinality(b),
        "intersect_card",
    )


def difference_card(
    left: DataFrame, right: DataFrame, on: Sequence[str] = ()
) -> DataFrame:
    """Set-difference estimate |A \\ B| between two sketch tables —
    completes the sketch set algebra (union exact by register max,
    intersection/difference by inclusion–exclusion with the reference's
    'no guarantees' caveat, src/hyper.erl:97-100). Computed as
    ``clamp(|A∪B| − |B|)`` into [0, |A|] — three estimates plus one
    merge per pair (the |A| − |A∩B| form expands to the same value but
    costs an extra estimation). Joined on ``on``."""

    def diff(a, b):
        return min(
            a.cardinality(),
            max(0.0, a.merge(b).cardinality() - b.cardinality()),
        )

    return _binary_sketch_op(left, right, on, diff, "difference_card")

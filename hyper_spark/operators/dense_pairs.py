"""One dense pair-scoring core for the small-vocabulary fast paths of
the exact similarity joins: ``ssjoin.similarity_join`` (token-set
Jaccard) and ``cosjoin.cosine_similarity_join`` (TF-IDF cosine).

When the distinct token universe fits a fixed-width vector (vocab <=
``_DENSE_VOCAB``) and the index side's unpacked matrix fits one worker
(rows x vocab x width <= ``_DENSE_BYTES``), every pair's exact score is
one GEMM per Arrow batch (guide §4.2: hand whole batches to vectorized
native code). A tiny vocabulary is exactly where the callers' prefix
filters degenerate to all-pairs (every doc shares prefix tokens with
every other), so this answers the same N^2 pair space at its floor.
Above the guards the callers' sparse prefix paths are the 100-TB
algorithm.

A ``Kind`` says how one join's vectors are packed, unpacked and scored
(``JACCARD``: 0/1 rows packed 8 slots per byte, unpacked to float32;
``COSINE``: float64 weights). ``dense_pairs`` owns the steps:

1. one bounded vocabulary probe, ``limit(max_vocab + 1).collect()``;
2. each side's (id, token[, w]) rows, NULL ids dropped (a NULL id pairs
   with nothing, as on the sparse paths), grouped per id with
   ``collect_list``; one ``mapInArrow`` scatters each batch's list
   values into its rows with one numpy call and ships them as
   fixed-width Arrow binary;
3. the byte guard: a bounded ``limit(cap + 1).count()`` of the index
   side, so an over-cap side never reaches the driver;
4. one collect and one broadcast of the index side;
5. one GEMM per probe batch, masked to id_a < id_b in self mode;
6. the result persisted and materialized, every intermediate released.
"""

from __future__ import annotations

from typing import Callable, Iterator, NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, DoubleType, StructField, StructType

from hyper_spark.operators.util import arrow_schema

__all__ = ["COSINE", "JACCARD", "Kind", "dense_pairs"]

_DENSE_VOCAB = 4096
_DENSE_BYTES = 512 << 20


class Kind(NamedTuple):
    """How one join's vectors are packed, unpacked and scored."""

    col: str  # output score column
    dtype: type  # of the unpacked matrix; its itemsize is the byte guard's width
    packed: bool  # 0/1 rows travel as bits, 8 slots per byte
    score: Callable[[np.ndarray, np.ndarray], np.ndarray]  # (probe, index) rows

    def row_bytes(self, vocab: int) -> int:
        return (vocab + 7) // 8 if self.packed else vocab * np.dtype(self.dtype).itemsize

    def pack(self, n: int, vocab: int, rows, cols, w) -> np.ndarray:
        """(n, row_bytes) uint8 rows holding ``w`` (1 when None) at
        (rows, cols)."""
        dense = np.zeros((n, vocab), dtype=bool if self.packed else self.dtype)
        dense[rows, cols] = True if w is None else w
        return np.packbits(dense, axis=1) if self.packed else dense.view(np.uint8)

    def unpack(self, rows: np.ndarray, vocab: int) -> np.ndarray:
        if self.packed:
            return np.unpackbits(rows, axis=1, count=vocab).astype(self.dtype)
        return rows.view(self.dtype)


def _jaccard(a: np.ndarray, m: np.ndarray) -> np.ndarray:
    """|A∩B| / |A∪B| from 0/1 rows. Intersection counts are
    integer-exact in float32 below 2^24, so the values are
    bit-identical to the sparse path's array_intersect arithmetic."""
    inter = (a @ m.T).astype(np.int64)
    na = a.sum(axis=1).astype(np.int64)
    nb = m.sum(axis=1).astype(np.int64)
    union = na[:, None] + nb[None, :] - inter
    return np.where(union > 0, inter / np.maximum(union, 1), 0.0)


JACCARD = Kind("jaccard", np.float32, True, _jaccard)
# rows are L2-normalized, so the dot product is the cosine
COSINE = Kind("cosine", np.float64, False, lambda a, m: a @ m.T)


def _rows(col: pa.Array, width: int) -> np.ndarray:
    """(len, width) uint8 view of a binary column whose values are all
    ``width`` bytes long: one buffer read, no ``bytes`` per row."""
    fixed = col.cast(pa.binary(width))
    return np.frombuffer(
        fixed.buffers()[1], np.uint8, len(fixed) * width, fixed.offset * width
    ).reshape(len(fixed), width)


def _vectors(side: DataFrame, kind: Kind, toks: list) -> DataFrame:
    """(id, vec): one fixed-width binary row per non-NULL id of
    ``side``'s (id, token[, w]) rows."""
    vocab = len(toks)
    width = kind.row_bytes(vocab)
    schema = StructType([side.schema["id"], StructField("vec", BinaryType())])
    out = arrow_schema(side.sparkSession, schema)

    def densify(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        keys = pa.array(toks)
        for batch in batches:
            if not batch.num_rows:
                continue
            lists = batch.column(1)
            vals = lists.flatten().flatten()  # token[, w] values of every row
            rows = pc.list_parent_indices(lists).to_numpy()
            cols = pc.index_in(vals[0], value_set=keys).to_numpy()
            w = vals[1].to_numpy() if len(vals) > 1 else None
            packed = kind.pack(batch.num_rows, vocab, rows, cols, w)
            vec = pa.FixedSizeBinaryArray.from_buffers(
                pa.binary(width), batch.num_rows, [None, pa.py_buffer(packed)]
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), vec.cast(out.field("vec").type)], schema=out
            )

    return (
        side.filter(F.col("id").isNotNull())
        .groupBy("id")
        .agg(F.collect_list(F.struct(*side.columns[1:])).alias("vals"))
        .mapInArrow(densify, schema)
    )


def dense_pairs(
    kind: Kind,
    a: DataFrame,
    b: DataFrame | None,
    vocab: DataFrame,
    t: float,
    max_vocab: int = _DENSE_VOCAB,
    max_bytes: int = _DENSE_BYTES,
) -> DataFrame | None:
    """Every pair scoring >= ``t``: DataFrame[id_a, id_b, <kind.col>].

    ``a`` and ``b`` are (id, token) rows, or (id, token, w) rows when
    the kind is weighted; ``b=None`` is self mode (id_a < id_b), else
    id_a comes from ``a`` and id_b from ``b``, each typed from its own
    side. ``vocab`` is one column holding the distinct tokens of both
    sides. Returns the persisted, materialized result, or None when a
    guard rejects the dense path (the caller falls back to its sparse
    path)."""
    if max_vocab < 1:
        return None
    toks = [r[0] for r in vocab.limit(max_vocab + 1).collect()]
    if not toks or len(toks) > max_vocab:
        return None
    n_vocab = len(toks)
    self_mode = b is None
    side_b = a if self_mode else b
    vecs_a = _vectors(a, kind, toks).persist()
    vecs_b = vecs_a if self_mode else _vectors(b, kind, toks).persist()
    # the byte guard covers each worker's unpacked index matrix
    cap = min(max_bytes // (n_vocab * np.dtype(kind.dtype).itemsize), 2**31 - 2)
    if vecs_b.limit(cap + 1).count() > cap:  # limit() takes an int
        vecs_a.unpersist()
        vecs_b.unpersist()  # a no-op in self mode
        return None
    schema = StructType(
        [
            StructField("id_a", a.schema["id"].dataType),
            StructField("id_b", side_b.schema["id"].dataType),
            StructField(kind.col, DoubleType()),
        ]
    )
    out = arrow_schema(a.sparkSession, schema)
    rows = vecs_b.collect()
    width = kind.row_bytes(n_vocab)
    bc = a.sparkSession.sparkContext.broadcast(
        (
            pa.array([r[0] for r in rows], out.field("id_b").type),
            np.frombuffer(b"".join(r[1] for r in rows), np.uint8).reshape(
                len(rows), width
            ),
        )
    )

    def screen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        ids_m, packed = bc.value
        m = kind.unpack(packed, n_vocab)
        ids_mnp = ids_m.to_numpy(zero_copy_only=False)
        for batch in batches:
            if not batch.num_rows:
                continue
            s = kind.score(kind.unpack(_rows(batch.column(1), width), n_vocab), m)
            mask = s >= t
            ids_a = batch.column(0)
            if self_mode:
                mask &= ids_a.to_numpy(zero_copy_only=False)[:, None] < ids_mnp[None, :]
            ai, bi = np.nonzero(mask)
            yield pa.RecordBatch.from_arrays(
                [ids_a.take(ai), ids_m.take(bi), pa.array(s[ai, bi])], schema=out
            )

    result = vecs_a.mapInArrow(screen, schema).persist()
    result.count()
    vecs_a.unpersist()
    vecs_b.unpersist()
    bc.unpersist()
    return result

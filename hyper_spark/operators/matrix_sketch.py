"""Distributed Frequent-Directions matrix sketching over embedding columns.

Shape matches the package's other sketches (quantiles.py, hll_agg.py):
per-partition FD build in the shared ``keyed_partials`` (the map-side
combine — each Arrow batch's embedding values buffer reshaped zero-copy
into one numpy matmul-friendly matrix per group), then a per-group
merge of serialized sketches through the shared ``grouped_apply``
(operators/util.py).
The shuffle carries partitions x groups blobs of at most
``(ell-1) * dim`` float64s plus four stats — never raw vectors — so a
100-TB embedding table ships kilobytes per group to the reducer, the
same treeAggregate shape the north rule requires of every sketch here.

What it buys at scale: one pass over the corpus yields a certified
low-rank summary of the (uncentered) second-moment matrix A'A —
principal directions for semantic-dedup pruning, whitening/projection
matrices for ANN, and per-group covariance drift — without ever
materializing the dim x dim Gram matrix per executor or collecting
vectors to the driver.  The per-dimension error certificate
(0 <= exact_diag - sketch_diag <= delta_total, delta_total <=
|A|_F^2/ell) is checked end-to-end by the ``fd_covariance_bound`` gate.

No reference counterpart (GameAnalytics/hyper is scalar-cardinality
only); the FD algebra mirrors hyper's union contract (src/hyper.erl:
union/2 — commutative, associative up to certificate) applied to
matrices, per Liberty KDD'13 / Ghashami et al. SICOMP'16.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
)

from hyper_spark.kernel.fd import FrequentDirections
from hyper_spark.operators.util import SlotStates, grouped_apply, keyed_partials

__all__ = [
    "fd_sketch_by",
    "fd_merge",
    "fd_components",
    "fd_project",
    "fd_covariance_diag",
    "gram_by",
    "gram_merge",
    "gram_matrix",
    "gram_covariance",
    "gram_components",
]

FD_STATE_FIELDS = [
    StructField("ell", IntegerType(), False),
    StructField("dim", IntegerType(), False),
    StructField("n", LongType(), False),
    StructField("fnorm2", DoubleType(), False),
    StructField("delta", DoubleType(), False),
    StructField("state", BinaryType(), False),
]


def _stack(series: pd.Series, dim: int) -> np.ndarray:
    """Arrow list column -> (m, dim) float64 matrix, one vstack."""
    vals = [v for v in series if v is not None and len(v) == dim]
    if not vals:
        return np.zeros((0, dim), dtype=np.float64)
    return np.asarray(np.vstack(vals), dtype=np.float64)


def _matrix(arr: pa.Array, dim: int) -> np.ndarray:
    """The rows of a list<float> column that hold ``dim`` values as one
    (m, dim) float64 matrix; NULL and wrong-length rows are skipped.
    The values buffer is reshaped zero-copy, with no per-row
    numpy-object materialization: measured ~4x the pandas decode path
    at dim=64, which allocates one ndarray per row before the kernel
    sees a batch."""
    ok = pc.fill_null(pc.equal(pc.list_value_length(arr), dim), False)
    if not pc.all(ok).as_py():
        arr = arr.filter(ok)
    # one vectorized cast: feeding f32 straight into the kernel makes
    # every buffer fill + einsum run in the mixed-dtype slow path
    # (measured 1.23 -> 1.81 M rows/s/core with the upfront cast)
    return (
        arr.flatten()
        .to_numpy(zero_copy_only=False)
        .reshape(-1, dim)
        .astype(np.float64, copy=False)
    )


def _fd_states(ell: int, dim: int, col: str) -> SlotStates:
    """Per-partition fold: one FD sketch per slot, fed each batch's
    rows of the slot as one matrix."""

    def update(sk: FrequentDirections, rows: pa.RecordBatch) -> FrequentDirections:
        sk.update_batch(_matrix(rows.column(col), dim))
        return sk

    def emit(sketches):
        # serialize FIRST: to_bytes runs the final shrink, which can
        # grow delta — the stats columns must mirror the state bytes
        blobs = [sk.to_bytes() for sk in sketches]
        return [
            [ell] * len(sketches),
            [dim] * len(sketches),
            [sk.n for sk in sketches],
            [sk.fnorm2 for sk in sketches],
            [sk.delta for sk in sketches],
            blobs,
        ]

    return SlotStates(lambda: FrequentDirections(ell, dim), update, emit)


def _merge_fn(keys: Sequence[str]):
    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        sketches = [FrequentDirections.from_bytes(bytes(b)) for b in pdf["state"]]
        out_sk = sketches[0]
        for s in sketches[1:]:
            out_sk = out_sk.merge(s)
        blob = out_sk.to_bytes()  # first: the final shrink can grow delta
        out = {k: [pdf[k].iloc[0]] for k in keys}
        out["ell"] = [out_sk.ell]
        out["dim"] = [out_sk.dim]
        out["n"] = [out_sk.n]
        out["fnorm2"] = [out_sk.fnorm2]
        out["delta"] = [out_sk.delta]
        out["state"] = [blob]
        return pd.DataFrame(out)

    return merge


def fd_sketch_by(
    df: DataFrame,
    keys: Sequence[str],
    col: str | Column,
    ell: int = 16,
    dim: int | None = None,
) -> DataFrame:
    """One FD sketch per group: DataFrame[*keys, ell, dim, n, fnorm2,
    delta, state].  ``dim`` is inferred from the first row when omitted
    (one tiny driver action; pass it explicitly in pipelines).

    Rows with NULL embeddings or the wrong length are skipped (the
    library-wide NULL-skip contract, cf. hll_agg.sketch_by)."""
    keys = list(keys)
    col_name = col if isinstance(col, str) else "__vec"
    selected = df.select(
        *keys, (F.col(col) if isinstance(col, str) else col).alias(col_name)
    )
    if dim is None:
        first = selected.select(col_name).filter(F.col(col_name).isNotNull()).first()
        if first is None:
            raise ValueError("cannot infer dim from an all-NULL column")
        dim = len(first[0])
    partials = keyed_partials(
        selected, keys, FD_STATE_FIELDS, lambda: _fd_states(ell, int(dim), col_name)
    )
    return grouped_apply(partials, keys, _merge_fn(keys), FD_STATE_FIELDS)


def fd_merge(sketch_df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Union FD sketches down to one row per ``keys`` (e.g. drop a
    grouping column from a finer sketch table): same merge the builder
    uses, so a rollup never rescans raw vectors."""
    keys = list(keys)
    return grouped_apply(sketch_df, keys, _merge_fn(keys), FD_STATE_FIELDS)


def fd_components(state: bytes, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Driver-side: top-k principal directions (k x dim) + singular
    values from one serialized sketch row."""
    sk = FrequentDirections.from_bytes(bytes(state))
    return sk.components(k)


def fd_project(col: str | Column, components: np.ndarray) -> Column:
    """Project an embedding column onto FD principal directions: an
    array<double> column of length k.  The (k x dim) matrix is closed
    over by a vectorized pandas UDF (one matmul per Arrow batch); at
    k*dim ~ 10^3 floats the closure broadcast is negligible."""
    comp = np.ascontiguousarray(np.asarray(components, dtype=np.float64))
    k, dim = comp.shape

    @F.pandas_udf(ArrayType(DoubleType()))
    def proj(series: pd.Series) -> pd.Series:
        mat = _stack(series, dim)
        mask = series.map(lambda v: v is not None and len(v) == dim)
        out = np.full((len(series), k), np.nan)
        if mat.shape[0]:
            out[np.asarray(mask, dtype=bool)] = mat @ comp.T
        return pd.Series([None if not m else row.tolist()
                          for m, row in zip(mask, out)])

    return proj(F.col(col) if isinstance(col, str) else col)


def fd_covariance_diag(state: bytes) -> np.ndarray:
    """diag(B'B) from one serialized sketch (the gate's check surface:
    every entry must sit within [exact - delta_total, exact])."""
    sk = FrequentDirections.from_bytes(bytes(state))
    b = sk.sketch_rows()
    return np.einsum("ij,ij->j", b, b)


# ---------------------------------------------------------------------------
# Exact Gram accumulation — the zero-error sibling of FD for moderate dim.
#
# When dim^2 floats fit comfortably in a task (dim <= ~2000: 32 MB),
# the FULL second-moment matrix A'A is exactly maintainable: one
# (m x d)' @ (m x d) BLAS-3 matmul per Arrow batch into a d x d float64
# accumulator, merged across partitions by plain addition — an abelian
# reduction, so the result is exact, order-independent, and the merge
# is trivially associative/commutative (stronger than FD's
# certificate-bounded union).  Shuffle cost: one (d^2 + d) float64 blob
# per partition x group, independent of row count.  Use gram_by when
# dim is moderate and exactness matters (covariance drift, whitening,
# PCA); use fd_sketch_by when dim is large enough that d^2 per group
# hurts (ell*d vs d^2).  The mean vector rides along so the CENTERED
# covariance (G - n*mu*mu')/(n-1) derives without a second pass.
# ---------------------------------------------------------------------------

GRAM_STATE_FIELDS = [
    StructField("dim", IntegerType(), False),
    StructField("n", LongType(), False),
    StructField("s", BinaryType(), False),  # d float64: column sums
    StructField("gram", BinaryType(), False),  # d*d float64 row-major
]


def _gram_states(dim: int, col: str) -> SlotStates:
    """Per-partition fold: one [gram, sums, n] accumulator per slot,
    one dgemm per batch and slot."""

    def update(st: list, rows: pa.RecordBatch) -> list:
        mat = _matrix(rows.column(col), dim)
        if mat.shape[0]:
            st[0] += mat.T @ mat
            st[1] += mat.sum(axis=0)
            st[2] += mat.shape[0]
        return st

    def emit(states):
        return [
            [dim] * len(states),
            [st[2] for st in states],
            [st[1].tobytes() for st in states],
            [st[0].tobytes() for st in states],
        ]

    return SlotStates(
        lambda: [np.zeros((dim, dim)), np.zeros(dim), 0], update, emit
    )


def _gram_merge_fn(keys: Sequence[str]):
    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        dim = int(pdf["dim"].iloc[0])
        if not (pdf["dim"] == dim).all():
            raise ValueError("cannot merge gram states of different dim")
        g = np.zeros((dim, dim), dtype=np.float64)
        s = np.zeros(dim, dtype=np.float64)
        for gb, sb in zip(pdf["gram"], pdf["s"]):
            g += np.frombuffer(bytes(gb), dtype=np.float64).reshape(dim, dim)
            s += np.frombuffer(bytes(sb), dtype=np.float64)
        out = {k: [pdf[k].iloc[0]] for k in keys}
        out["dim"] = [dim]
        out["n"] = [int(pdf["n"].sum())]
        out["s"] = [s.tobytes()]
        out["gram"] = [g.tobytes()]
        return pd.DataFrame(out)

    return merge


def gram_by(
    df: DataFrame,
    keys: Sequence[str],
    col: str | Column,
    dim: int | None = None,
) -> DataFrame:
    """Exact second-moment (Gram) matrix per group: DataFrame[*keys,
    dim, n, s, gram] where ``gram`` is A'A as d x d row-major float64
    bytes and ``s`` the column-sum vector.  NULL / wrong-length rows
    are skipped (the library NULL-skip contract).  Same two-level
    build/merge shape as ``fd_sketch_by``; the merge is plain matrix
    addition, so results are exact and partitioning-independent (up to
    float summation order, ~1e-15 relative)."""
    keys = list(keys)
    col_name = col if isinstance(col, str) else "__vec"
    selected = df.select(
        *keys, (F.col(col) if isinstance(col, str) else col).alias(col_name)
    )
    if dim is None:
        first = selected.select(col_name).filter(F.col(col_name).isNotNull()).first()
        if first is None:
            raise ValueError("cannot infer dim from an all-NULL column")
        dim = len(first[0])
    partials = keyed_partials(
        selected, keys, GRAM_STATE_FIELDS, lambda: _gram_states(int(dim), col_name)
    )
    return grouped_apply(partials, keys, _gram_merge_fn(keys), GRAM_STATE_FIELDS)


def gram_merge(gram_df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Roll a gram table up to coarser keys by blob addition — exact,
    no raw-vector rescan (the FD ``fd_merge`` counterpart)."""
    keys = list(keys)
    return grouped_apply(gram_df, keys, _gram_merge_fn(keys), GRAM_STATE_FIELDS)


def gram_matrix(row) -> np.ndarray:
    """Driver-side: the d x d A'A matrix from one gram row."""
    dim = int(row["dim"])
    return np.frombuffer(bytes(row["gram"]), dtype=np.float64).reshape(dim, dim)


def gram_covariance(row) -> np.ndarray:
    """Driver-side: the CENTERED sample covariance
    (A'A - n*mu*mu')/(n-1) from one gram row (requires n >= 2)."""
    n = int(row["n"])
    if n < 2:
        raise ValueError(f"covariance needs n >= 2, got {n}")
    dim = int(row["dim"])
    g = gram_matrix(row)
    mu = np.frombuffer(bytes(row["s"]), dtype=np.float64) / n
    return (g - n * np.outer(mu, mu)) / (n - 1)


def gram_components(row, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Driver-side: top-k principal directions (k x dim) + singular
    values of A from one gram row (eigh of the exact Gram — the
    zero-error counterpart of ``fd_components``)."""
    g = gram_matrix(row)
    w, v = np.linalg.eigh(g)
    order = np.argsort(w)[::-1][:k]
    return v[:, order].T, np.sqrt(np.maximum(w[order], 0.0))

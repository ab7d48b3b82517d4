"""Distributed quantile sketches: KLL and t-digest.

Shape: per-partition sketch build in the shared ``keyed_partials``
(operators/util.py; Arrow batches of the keys and the numeric column
only — the map-side combine), then a per-group merge of serialized
sketches through the shared ``grouped_apply``. Shuffle carries
partitions × groups small JSON states, never raw values. This is the
treeAggregate shape the north rule asks for, and it is what survives
100 TB: the raw column never crosses the network.

For grouped quantiles with *many* groups, per-partition grouping builds
one sketch per (partition, group) — still bounded by groups × partitions
states. For very high group cardinality prefer repartitioning by the
group key first so each group's states stay few.
"""

from __future__ import annotations

import json
from typing import Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
)

from hyper_spark.kernel.kll import KllSketch
from hyper_spark.kernel.req import ReqSketch
from hyper_spark.kernel.tdigest import TDigest
from hyper_spark.operators.util import SlotStates, grouped_apply, keyed_partials

__all__ = [
    "kll_by",
    "tdigest_by",
    "req_by",
    "quantiles_by",
    "sketch_quantiles",
    "sketch_ranks",
    "ranks_by",
]

_KINDS = {
    "kll": lambda p: KllSketch(int(p)),
    "tdigest": lambda p: TDigest(p),
    "req": lambda p: ReqSketch(int(p)),
}
_CLASSES = {"kll": KllSketch, "tdigest": TDigest, "req": ReqSketch}

SKETCH_STATE_FIELDS = [
    StructField("kind", StringType(), False),
    StructField("n", LongType(), False),
    StructField("state", StringType(), False),
]


def _values(rows: pa.RecordBatch, col: str) -> np.ndarray:
    """A numeric column as float64, NULL as NaN (the sketches skip it)."""
    return np.asarray(rows.column(col).to_numpy(zero_copy_only=False), dtype=np.float64)


def _states(kind: str, param: float, col: str) -> SlotStates:
    """Per-partition fold: one sketch per slot, fed each batch's rows
    of the slot in one ``update_batch``."""

    def emit(sketches):
        return [
            [kind] * len(sketches),
            [int(sk.n) for sk in sketches],
            [json.dumps(sk.to_dict()) for sk in sketches],
        ]

    return SlotStates(
        lambda: _KINDS[kind](param),
        lambda sk, rows: sk.update_batch(_values(rows, col)),
        emit,
    )


def _merge_fn(kind: str, keys: Sequence[str]):
    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        cls = _CLASSES[kind]
        sketches = [cls.from_dict(json.loads(s)) for s in pdf["state"]]
        out_sk = sketches[0]
        for s in sketches[1:]:
            out_sk = out_sk.merge(s)
        out = {k: [pdf[k].iloc[0]] for k in keys}
        out["kind"] = [kind]
        out["n"] = [int(out_sk.n)]
        out["state"] = [json.dumps(out_sk.to_dict())]
        return pd.DataFrame(out)

    return merge


def _sketch_by(df, keys, col, kind, param) -> DataFrame:
    col_name = col if isinstance(col, str) else "__value"
    selected = df.select(
        *keys, (F.col(col) if isinstance(col, str) else col).alias(col_name)
    )
    partials = keyed_partials(
        selected, keys, SKETCH_STATE_FIELDS, lambda: _states(kind, param, col_name)
    )
    return grouped_apply(partials, keys, _merge_fn(kind, keys), SKETCH_STATE_FIELDS)


def kll_by(df: DataFrame, keys: Sequence[str], col: str | Column, k: int = 200) -> DataFrame:
    """One KLL sketch per group: DataFrame[*keys, kind, n, state]."""
    return _sketch_by(df, list(keys), col, "kll", k)


def tdigest_by(
    df: DataFrame, keys: Sequence[str], col: str | Column, delta: float = 200.0
) -> DataFrame:
    """One t-digest per group: DataFrame[*keys, kind, n, state]."""
    return _sketch_by(df, list(keys), col, "tdigest", delta)


def req_by(
    df: DataFrame, keys: Sequence[str], col: str | Column, k: int = 32
) -> DataFrame:
    """One REQ sketch per group (kernel/req.py — RELATIVE rank error,
    exact-grade at the upper tail): DataFrame[*keys, kind, n, state].

    Use instead of ``kll_by`` when the question is a tail SLO (p99.9+
    turn latency over 10^12 turns): KLL's ± eps·n uniform band swamps
    the tail; REQ's band shrinks proportionally to distance from the
    max. Same build/merge shape — the raw column never shuffles."""
    return _sketch_by(df, list(keys), col, "req", k)


def _q_name(q: float) -> str:
    """Column name for probe ``q``: ``q_0500`` for 3-decimal probes
    (stable with every existing oracle), extended with exactly the
    digits needed for finer ones — ``q_09999`` for 0.9999. The old
    unconditional ``int(q*1000)`` collapsed 0.999 and 0.9999 onto one
    name, which REQ tail probes (its whole point) always hit."""
    for k in range(3, 10):
        scaled = q * 10**k
        if abs(scaled - round(scaled)) < 1e-6:
            return f"q_{int(round(scaled)):0{k + 1}d}"
    return f"q_{int(q * 1e9):010d}"


def sketch_quantiles(
    sketch_df: DataFrame, qs: Sequence[float], keys: Sequence[str] = ()
) -> DataFrame:
    """Evaluate quantiles from sketch states: one row per group with
    ``q_<percent>`` columns."""
    keys = list(keys)
    qs = list(qs)
    fields = [StructField(_q_name(q), DoubleType(), True) for q in qs]
    if len({f.name for f in fields}) != len(fields):
        raise ValueError(f"duplicate quantile probes: {qs}")

    def evaluate(pdf: pd.DataFrame) -> pd.DataFrame:
        kind = pdf["kind"].iloc[0]
        cls = _CLASSES[kind]
        sk = cls.from_dict(json.loads(pdf["state"].iloc[0]))
        for s in pdf["state"].iloc[1:]:
            sk = sk.merge(cls.from_dict(json.loads(s)))
        out = {k: [pdf[k].iloc[0]] for k in keys}
        for q, f in zip(qs, fields):
            out[f.name] = [float(sk.quantile(q))]
        return pd.DataFrame(out)

    return grouped_apply(sketch_df, keys, evaluate, fields)


def sketch_ranks(
    sketch_df: DataFrame, values: Sequence[float], keys: Sequence[str] = ()
) -> DataFrame:
    """The inverse of ``sketch_quantiles``: the CDF at each probe
    value — DataFrame[*keys, value, rank] (long format, one row per
    (group, value)), where ``rank`` is the estimated fraction of items
    ≤ value. KLL states (uniform ±O(1/k) rank bound) and REQ states
    (relative bound, tight at high ranks) only: t-digest is a
    quantile-domain structure and would silently degrade near the
    median, so it is refused rather than mis-served.

    Same merge shape as ``sketch_quantiles``: states fold per group,
    the raw column never re-scans — asking "what fraction of documents
    are under 512 tokens, per source" costs one pass over sketch rows.
    """
    keys = list(keys)
    values = [float(v) for v in values]
    if not values:
        raise ValueError("no probe values")
    fields = [
        StructField("value", DoubleType(), False),
        StructField("rank", DoubleType(), False),
    ]

    def evaluate(pdf: pd.DataFrame) -> pd.DataFrame:
        kind = pdf["kind"].iloc[0]
        if kind not in ("kll", "req"):
            raise ValueError(
                f"sketch_ranks needs KLL or REQ states (got {kind!r}); "
                "t-digest does not expose a bounded-error rank"
            )
        cls = _CLASSES[kind]
        sk = cls.from_dict(json.loads(pdf["state"].iloc[0]))
        for s in pdf["state"].iloc[1:]:
            sk = sk.merge(cls.from_dict(json.loads(s)))
        out = {k: [pdf[k].iloc[0]] * len(values) for k in keys}
        out["value"] = values
        out["rank"] = [float(sk.rank(v)) for v in values]
        return pd.DataFrame(out)

    return grouped_apply(sketch_df, keys, evaluate, fields)


def ranks_by(
    df: DataFrame,
    keys: Sequence[str],
    col: str | Column,
    values: Sequence[float],
    k: int = 200,
) -> DataFrame:
    """End-to-end grouped CDF evaluation via a KLL sketch."""
    return sketch_ranks(kll_by(df, keys, col, k), values, keys)


def quantiles_by(
    df: DataFrame,
    keys: Sequence[str],
    col: str | Column,
    qs: Sequence[float] = (0.5, 0.9, 0.99),
    method: str = "kll",
    param: float | None = None,
) -> DataFrame:
    """End-to-end grouped quantiles via the chosen sketch."""
    if method == "kll":
        sk = kll_by(df, keys, col, int(param or 200))
    elif method == "tdigest":
        sk = tdigest_by(df, keys, col, float(param or 200.0))
    elif method == "req":
        sk = req_by(df, keys, col, int(param or 32))
    else:
        raise ValueError(f"unknown method {method!r}")
    return sketch_quantiles(sk, qs, keys)

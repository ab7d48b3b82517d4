"""Distributed linear text classifier (hashing trick + logistic GD).

The learned-quality-filter stage of a training-data pipeline (the
fastText/CCNet-style replacement for heuristic scoring): features are
token counts hashed into ``n_features`` buckets, the model is logistic
regression trained by full-batch gradient descent. Everything stays
JVM-side — there is NO Python UDF anywhere in this module:

- featurize: ``explode(split(...))`` + ``pmod(conv(md5(token)), nf)``
  (the md5→conv feature hash is the same public trick the repo already
  uses for deterministic sampling and CMS rows, cms_agg.py:71);
- score: the weight vector joins in as a BROADCAST table of
  ``(idx, w)`` rows (≤ n_features entries, megabytes at 2^20), so a
  scoring pass is one broadcast hash join + one per-doc sum;
- gradient: ``(p − y)·tf`` aggregated by feature index — partial
  (map-side) aggregation reduces it to ≤ n_features rows per
  partition, and only that reduced vector reaches the driver.

Per training iteration: one pass over the persisted feature table, two
shuffles (by doc for scores, by idx for the gradient), one ≤n_features
collect. Shuffle volume is the feature table — linear in corpus size,
independent of iteration count beyond the multiplier; at 100 TB you
persist features once and iterate.

Determinism contract (same design as clustering.py — it buys a pure
SQL oracle for an iterative algorithm, gate
``logreg_quality_confusion``): w₀ = 0, fixed iteration count, fixed
learning rate on the MEAN gradient, feature hash = first 8 md5 hex
chars mod n_features, tokens = whitespace split of trim(lower(text)).
Float summation order is the only engine-level difference, and the
gate's outputs (confusion counts, 4-dp mean probability) are stable
under it.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "hash_text_features",
    "logreg_fit",
    "logreg_predict",
    "logreg_confusion",
]

_MAX_FEATURES = 1 << 20  # weight table must broadcast (8 MiB of doubles)


def hash_text_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_features: int = 4096,
    binary: bool = False,
) -> DataFrame:
    """[id_col, idx, tf]: token counts hashed into n_features buckets.
    Pure codegen: split/explode/md5/conv/pmod, one groupBy.
    ``binary=True`` clips tf to presence (0/1) — the fastText-style
    choice when token OCCURRENCE is the signal and raw counts would
    drown it in document-length mass (train and predict must agree)."""
    if not 2 <= n_features <= _MAX_FEATURES:
        raise ValueError(f"n_features must be in [2, {_MAX_FEATURES}]")
    from hyper_spark.operators.util import spread

    tok = F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("tok")
    tf = F.least(F.count("*"), F.lit(1)) if binary else F.count("*")
    # spread(): a small-file scan arrives as ONE partition and the
    # tokenize+md5 stage serializes onto one core (profiled 1.5 s at
    # sf0.1); no-op on wide inputs
    return (
        spread(df).select(id_col, tok)
        .filter(F.col("tok") != "")
        .select(
            id_col,
            F.pmod(
                F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long"),
                F.lit(n_features),
            ).alias("idx"),
        )
        .groupBy(id_col, "idx")
        .agg(tf.cast("double").alias("tf"))
    )


def _score(feats: DataFrame, w: np.ndarray, id_col: str) -> DataFrame:
    """[id_col, s]: per-doc margin Σ tf·w[idx] via a broadcast weight
    join. Docs with no features are ABSENT (caller left-joins, s→0)."""
    spark = feats.sparkSession
    nz = np.nonzero(w)[0]
    if not len(nz):
        return feats.select(id_col).distinct().withColumn("s", F.lit(0.0))
    wdf = spark.createDataFrame(
        [(int(i), float(w[i])) for i in nz], "idx long, w double"
    )
    return (
        feats.join(F.broadcast(wdf), "idx")
        .groupBy(id_col)
        .agg(F.sum(F.col("tf") * F.col("w")).alias("s"))
    )


def logreg_fit(
    df: DataFrame,
    label_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_features: int = 4096,
    iters: int = 3,
    lr: float = 0.5,
    binary: bool = False,
    l2: float = 0.0,
    feats: DataFrame | None = None,
) -> np.ndarray:
    """Full-batch logistic GD; returns the n_features weight vector.
    ``label_col`` must be 0/1 (cast to double). w starts at 0, each
    iteration steps lr × (mean gradient + l2·w) — the unrolled-SQL-
    oracle contract (module docstring) holds at the default l2=0; the
    ridge penalty is a driver-side vector op, free at any scale.
    ``feats`` injects an externally persisted ``hash_text_features``
    table (caller owns its lifecycle) so train+predict pipelines hash
    the corpus once."""
    if l2 < 0:
        raise ValueError(f"l2 must be >= 0, got {l2}")
    own_feats = feats is None
    # both tables are persisted HASH-PARTITIONED BY id: every training
    # iteration joins and groups them by id, and a cached partitioning
    # satisfies those distributions — two exchanges per iteration drop
    # out of the loop (guide §2.4: two operations keyed the same way
    # share one exchange)
    par = df.sparkSession.sparkContext.defaultParallelism
    labels = (
        df.select(id_col, F.col(label_col).cast("double").alias("y"))
        .repartition(par, id_col)
        .persist()
    )
    n_docs = labels.count()
    if n_docs == 0:
        raise ValueError("empty input")
    if own_feats:
        feats = (
            hash_text_features(
                df, text_col=text_col, id_col=id_col, n_features=n_features,
                binary=binary,
            )
            .repartition(par, id_col)
            .persist()
        )
        feats.count()
    w = np.zeros(n_features)
    try:
        for it in range(iters):
            if it == 0:
                # w = 0 ⇒ every margin is 0 and resid = 0.5 - y: no
                # score join exists to compute (two jobs saved)
                scored = labels.select(
                    id_col, (F.lit(0.5) - F.col("y")).alias("resid")
                )
                grad_rows = (
                    feats.join(scored, id_col)
                    .groupBy("idx")
                    .agg(
                        (F.sum(F.col("tf") * F.col("resid")) / n_docs).alias("g")
                    )
                    .collect()
                )
                for r in grad_rows:
                    w[r["idx"]] -= lr * r["g"]
                continue
            scored = labels.join(_score(feats, w, id_col), id_col, "left").select(
                id_col,
                (
                    F.lit(1.0)
                    / (F.lit(1.0) + F.exp(-F.coalesce(F.col("s"), F.lit(0.0))))
                    - F.col("y")
                ).alias("resid"),
            )
            grad_rows = (
                feats.join(scored, id_col)
                .groupBy("idx")
                .agg((F.sum(F.col("tf") * F.col("resid")) / n_docs).alias("g"))
                .collect()
            )
            if l2:
                w *= 1.0 - lr * l2
            for r in grad_rows:
                w[r["idx"]] -= lr * r["g"]
    finally:
        if own_feats:
            feats.unpersist()
        labels.unpersist()
    return w


def logreg_predict(
    df: DataFrame,
    w: np.ndarray,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    binary: bool = False,
    feats: DataFrame | None = None,
) -> DataFrame:
    """[id_col, p, pred]: sigmoid probability and thresholded class.
    Featureless docs score p = 0.5 exactly (pred 1 at the default
    threshold — the same boundary rule on both engines). ``feats``
    injects a precomputed ``hash_text_features`` table (same df/params
    or the results are garbage) so train+predict pipelines hash the
    corpus once."""
    if feats is None:
        feats = hash_text_features(
            df, text_col=text_col, id_col=id_col, n_features=len(w),
            binary=binary,
        )
    p = F.lit(1.0) / (
        F.lit(1.0) + F.exp(-F.coalesce(F.col("s"), F.lit(0.0)))
    )
    return (
        df.select(id_col)
        .join(_score(feats, w, id_col), id_col, "left")
        .select(
            id_col,
            p.alias("p"),
            (p >= threshold).cast("long").alias("pred"),
        )
    )


def logreg_confusion(
    df: DataFrame,
    label_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_features: int = 4096,
    iters: int = 3,
    lr: float = 0.5,
    binary: bool = False,
    round_to: int = 4,
) -> DataFrame:
    """Train + self-predict + confusion summary:
    [label, pred, n, avg_p] — the gate surface. The hashed feature
    table is built (and persisted, partitioned by id) ONCE and shared
    by training and the self-predict pass — the predict side used to
    re-tokenize and re-hash the whole corpus."""
    par = df.sparkSession.sparkContext.defaultParallelism
    feats = (
        hash_text_features(
            df, text_col=text_col, id_col=id_col, n_features=n_features,
            binary=binary,
        )
        .repartition(par, id_col)
        .persist()
    )
    try:
        w = logreg_fit(
            df, label_col, text_col=text_col, id_col=id_col,
            n_features=n_features, iters=iters, lr=lr, binary=binary,
            feats=feats,
        )
        preds = logreg_predict(
            df, w, text_col=text_col, id_col=id_col, binary=binary,
            feats=feats,
        )
        # collected (tiny: one row per confusion cell) so the shared
        # feature cache is released and nothing stays cached on return
        out = (
            df.select(id_col, F.col(label_col).cast("long").alias("label"))
            .join(preds, id_col)
            .groupBy("label", "pred")
            .agg(
                F.count("*").alias("n"),
                F.round(F.avg("p"), round_to).alias("avg_p"),
            )
        )
        return df.sparkSession.createDataFrame(out.collect(), out.schema)
    finally:
        feats.unpersist()

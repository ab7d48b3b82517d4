"""Distributed logistic-regression classifier (operators/classifier.py).

The oracle gate (logreg_quality_confusion) checks the 8-step GD unroll
end-to-end against DuckDB; these tests pin what it can't isolate:
weight-vector parity with a sequential numpy GD under the same
determinism contract, that the model actually LEARNS a planted token
signal, the featureless-doc boundary rule, and the guards.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from hyper_spark.operators.classifier import (
    hash_text_features,
    logreg_confusion,
    logreg_fit,
    logreg_predict,
)


def _hash_idx(tok: str, nf: int) -> int:
    return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % nf


def _reference_gd(docs, labels, nf, iters, lr, binary):
    """Sequential full-batch GD under classifier.py's contract."""
    X = np.zeros((len(docs), nf))
    for i, text in enumerate(docs):
        for tok in text.strip().lower().split():
            X[i, _hash_idx(tok, nf)] += 1.0
    if binary:
        X = np.minimum(X, 1.0)
    y = np.asarray(labels, dtype=np.float64)
    w = np.zeros(nf)
    for _ in range(iters):
        p = 1.0 / (1.0 + np.exp(-(X @ w)))
        w -= lr * (X.T @ (p - y)) / len(docs)
    return w


_DOCS = [
    ("alpha beta gamma", 0.0),
    ("beta gamma delta spark", 1.0),
    ("alpha alpha epsilon", 0.0),
    ("spark gamma beta beta", 1.0),
    ("delta epsilon alpha", 0.0),
    ("gamma spark spark", 1.0),
    ("epsilon beta", 0.0),
    ("spark delta", 1.0),
]


def _df(spark):
    return spark.createDataFrame(
        [(i, t, y) for i, (t, y) in enumerate(_DOCS)],
        "doc_id long, text string, y double",
    )


@pytest.mark.parametrize("binary", [False, True])
def test_matches_sequential_gd(spark, binary):
    df = _df(spark)
    w = logreg_fit(df, "y", n_features=256, iters=4, lr=1.0, binary=binary)
    ref = _reference_gd(
        [t for t, _ in _DOCS], [y for _, y in _DOCS], 256, 4, 1.0, binary
    )
    assert np.allclose(w, ref, atol=1e-12)


def test_learns_planted_token_signal(spark):
    # y == contains 'spark': a single hashed feature separates perfectly
    df = _df(spark)
    conf = {
        (r["label"], r["pred"]): r["n"]
        for r in logreg_confusion(
            df, "y", n_features=256, iters=25, lr=2.0, binary=True
        ).collect()
    }
    assert conf.get((0, 0), 0) + conf.get((1, 1), 0) == len(_DOCS), conf


def test_confusion_leaves_nothing_cached(spark):
    """The confusion rows come back local: after the call no persisted
    RDD is left behind, and the schema is the aggregate's."""
    df = _df(spark)
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    conf = logreg_confusion(df, "y", n_features=64, iters=2)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before
    assert conf.schema.simpleString() == (
        "struct<label:bigint,pred:bigint,n:bigint,avg_p:double>"
    )
    assert sum(r["n"] for r in conf.collect()) == len(_DOCS)


def test_featureless_doc_scores_half(spark):
    df = spark.createDataFrame(
        [(0, "alpha beta", 1.0), (1, "   ", 0.0)],
        "doc_id long, text string, y double",
    )
    w = logreg_fit(df, "y", n_features=64, iters=2, lr=0.5)
    rows = {r["doc_id"]: r for r in logreg_predict(df, w).collect()}
    assert rows[1]["p"] == 0.5 and rows[1]["pred"] == 1


def test_feature_hash_matches_reference(spark):
    df = _df(spark)
    feats = hash_text_features(df, n_features=128).collect()
    got = {(r["doc_id"], r["idx"]): r["tf"] for r in feats}
    for i, (text, _) in enumerate(_DOCS):
        for tok in set(text.split()):
            idx = _hash_idx(tok, 128)
            assert got[(i, idx)] >= 1.0


def test_guards(spark):
    df = _df(spark)
    with pytest.raises(ValueError, match="n_features"):
        hash_text_features(df, n_features=1)
    with pytest.raises(ValueError, match="empty"):
        logreg_fit(df.filter("doc_id < 0"), "y")


def test_l2_regularization_matches_numpy(spark):
    df = _df(spark)
    w = logreg_fit(df, "y", n_features=256, iters=4, lr=1.0, l2=0.1)
    # sequential reference with ridge: w <- w(1 - lr*l2) - lr*g
    X = np.zeros((len(_DOCS), 256))
    for i, (text, _) in enumerate(_DOCS):
        for tok in text.strip().lower().split():
            X[i, _hash_idx(tok, 256)] += 1.0
    y = np.asarray([lab for _, lab in _DOCS])
    ref = np.zeros(256)
    for _ in range(4):
        p = 1.0 / (1.0 + np.exp(-(X @ ref)))
        g = (X.T @ (p - y)) / len(_DOCS)
        ref = ref * (1.0 - 1.0 * 0.1) - 1.0 * g
    assert np.allclose(w, ref, atol=1e-12)
    # shrinkage: the ridge norm is strictly smaller
    w0 = logreg_fit(df, "y", n_features=256, iters=4, lr=1.0)
    assert np.linalg.norm(w) < np.linalg.norm(w0)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="l2"):
        logreg_fit(df, "y", l2=-1.0)

"""Round-6 optimization parity tests: the dense small-vocab fast paths
(ssjoin/cosjoin GEMM screening) and the sparse grouped-array candidate
generation (incl. the hot-token chunk fan-out) must all produce the
SAME pairs and values as each other. The driver gates now exercise the
dense path (tiny-vocab corpora), so the sparse path needs its own
coverage here."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from hyper_spark.operators.cosjoin import cosine_similarity_join
from hyper_spark.operators.ssjoin import (
    _candidates_cross,
    _candidates_self,
    similarity_join,
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = []
    words = "alpha bravo charlie delta echo foxtrot golf hotel india juliet".split()
    for i in range(30):
        ln = 10 + (i * 7) % 25
        base = " ".join(words[(i + j) % 10] for j in range(ln)) + f" doc{i}"
        rows.append(Row(doc_id=i * 10, text=base))
        rows.append(Row(doc_id=i * 10 + 1, text=base.upper() + "!!"))
        near = base.replace(words[i % 10], "zulu") + " tail"
        rows.append(Row(doc_id=i * 10 + 2, text=near))
    return spark.createDataFrame(rows)


def _pairs(df, val):
    return {
        (r["id_a"], r["id_b"]): round(r[val], 6) for r in df.collect()
    }


@pytest.mark.parametrize("t", [0.5, 0.8])
def test_ssjoin_dense_matches_sparse(spark, corpus, t):
    dense = similarity_join(corpus, threshold=t)
    sparse = similarity_join(corpus, threshold=t, dense_max_vocab=0)
    assert _pairs(dense, "jaccard") == _pairs(sparse, "jaccard")
    dense.unpersist()
    sparse.unpersist()


def test_ssjoin_cross_dense_matches_sparse(spark, corpus):
    right = corpus.filter(F.col("doc_id") % 3 == 0)
    dense = similarity_join(corpus, threshold=0.5, other=right)
    sparse = similarity_join(
        corpus, threshold=0.5, other=right, dense_max_vocab=0
    )
    assert _pairs(dense, "jaccard") == _pairs(sparse, "jaccard")
    dense.unpersist()
    sparse.unpersist()


def test_ssjoin_cross_dense_keeps_each_sides_id_type(spark, corpus):
    # bigint ids on the left, string ids on the right: the dense path
    # must type id_b from the right corpus, as the sparse path does
    right = corpus.filter(F.col("doc_id") % 3 == 0).select(
        F.concat(F.lit("r"), F.col("doc_id").cast("string")).alias("rid"), "text"
    )
    dense = similarity_join(corpus, threshold=0.5, other=right, other_id_col="rid")
    sparse = similarity_join(
        corpus, threshold=0.5, other=right, other_id_col="rid", dense_max_vocab=0
    )
    assert [f.dataType.simpleString() for f in dense.schema.fields[:2]] == ["bigint", "string"]
    pairs = _pairs(dense, "jaccard")
    assert pairs and pairs == _pairs(sparse, "jaccard")
    dense.unpersist()
    sparse.unpersist()


def test_ssjoin_dense_bytes_guard_falls_back(spark, corpus):
    """A zero byte budget must reject the dense path and still answer
    through the sparse one."""
    out = similarity_join(corpus, threshold=0.5, dense_max_bytes=0)
    ref = similarity_join(corpus, threshold=0.5, dense_max_vocab=0)
    assert _pairs(out, "jaccard") == _pairs(ref, "jaccard")
    out.unpersist()
    ref.unpersist()


def test_cosjoin_dense_matches_sparse(spark, corpus):
    dense = cosine_similarity_join(corpus, threshold=0.8, tokens="words")
    sparse = cosine_similarity_join(
        corpus, threshold=0.8, tokens="words", dense_max_vocab=0
    )
    assert _pairs(dense, "cosine") == _pairs(sparse, "cosine")
    dense.unpersist()
    sparse.unpersist()


def _null_id_corpus(spark):
    texts = [
        "alpha bravo charlie delta echo",
        "alpha bravo charlie delta foxtrot",
        "alpha bravo charlie golf hotel",
        "india juliet kilo lima mike",
        "india juliet kilo lima mike november",
        "alpha bravo charlie delta echo",
    ]
    ids = [1, 2, 3, 4, 5, None]
    return spark.createDataFrame(list(zip(ids, texts)), "doc_id bigint, text string")


@pytest.mark.parametrize(
    "join,val,cross",
    [
        (similarity_join, "jaccard", False),
        (similarity_join, "jaccard", True),
        (cosine_similarity_join, "cosine", False),
    ],
    ids=["ssjoin-self", "ssjoin-cross", "cosjoin-self"],
)
def test_dense_null_ids_match_sparse(spark, join, val, cross):
    """A NULL-id doc pairs with nothing on the dense path, as on the
    sparse one (in cross mode each side holds a NULL id)."""
    df = _null_id_corpus(spark)
    kw = {"threshold": 0.5, "tokens": "words"}
    if cross:
        kw["other"] = df
    dense = join(df, **kw)
    sparse = join(df, dense_max_vocab=0, **kw)
    pairs = _pairs(dense, val)
    assert pairs and pairs == _pairs(sparse, val)
    dense.unpersist()
    sparse.unpersist()


def test_dense_leaves_nothing_cached(spark, corpus):
    """Once the result is unpersisted, a dense self, dense cross and
    dense cosine call leave no persisted RDD behind."""
    jsc = spark.sparkContext._jsc
    right = corpus.filter(F.col("doc_id") % 3 == 0)
    calls = [
        lambda: similarity_join(corpus, threshold=0.5),
        lambda: similarity_join(corpus, threshold=0.5, other=right),
        lambda: cosine_similarity_join(corpus, threshold=0.8, tokens="words"),
    ]
    for call in calls:
        before = jsc.getPersistentRDDs().size()
        call().unpersist()
        assert jsc.getPersistentRDDs().size() == before


def _spy_collects(monkeypatch, df):
    """Record (columns, rows returned) of every DataFrame.collect."""
    seen = []
    cls = type(df)
    collect = cls.collect

    def spy(self):
        rows = collect(self)
        seen.append((tuple(self.columns), len(rows)))
        return rows

    monkeypatch.setattr(cls, "collect", spy)
    return seen


@pytest.mark.parametrize(
    "join,val,vocab_col,index_col,width",
    [
        (similarity_join, "jaccard", "token", "vec", 4),
        (cosine_similarity_join, "cosine", "tok", "vec", 8),
    ],
    ids=["ssjoin", "cosjoin"],
)
def test_dense_guard_never_collects_over_cap_index(
    spark, corpus, monkeypatch, join, val, vocab_col, index_col, width
):
    """The dense byte guard is checked before the index side reaches
    the driver: one byte under n x vocab x width falls back to the
    sparse path without collecting it; exactly at the budget the dense
    path runs as before."""
    ref = join(corpus, threshold=0.5, dense_max_vocab=0)
    want = _pairs(ref, val)
    ref.unpersist()
    seen = _spy_collects(monkeypatch, corpus)

    def run(max_bytes):
        seen.clear()
        out = join(corpus, threshold=0.5, dense_max_bytes=max_bytes)
        got = _pairs(out, val)
        out.unpersist()
        vocab = [n for cols, n in seen if cols == (vocab_col,)]
        index = [n for cols, n in seen if index_col in cols]
        return got, vocab, index

    got, vocab, index = run(1 << 40)
    assert got == want and len(vocab) == 1 and len(index) == 1
    budget = index[0] * vocab[0] * width
    got, _, index = run(budget)
    assert got == want and len(index) == 1
    got, _, index = run(budget - 1)
    assert got == want and index == []


def _entries(spark):
    """Synthetic prefix entries with one hot token (m=40) and several
    cool ones, ids deliberately interleaved across chunks."""
    rows = []
    for i in range(40):
        rows.append(Row(id=i, n=10 + i % 3, pos=1 + i % 5, token="hot"))
    for i in range(12):
        rows.append(Row(id=i * 3, n=10, pos=2, token=f"cool{i % 4}"))
    return spark.createDataFrame(rows)


def _pair_multiset(df):
    return sorted(
        (r["id_a"], r["id_b"], r["n_a"], r["n_b"], r["pa"], r["pb"])
        for r in df.collect()
    )


def test_candidates_self_chunked_parity(spark):
    """hot_min=5 + chunk=7 forces all three hybrid regimes at once
    (cool join for the m=3 tokens, hot arrays + cross-chunk units for
    the m=40 token); the emitted pair multiset must equal the all-cool
    (hot_min high) and the all-array (hot_min=0) forms."""
    ent = _entries(spark)
    big = _pair_multiset(_candidates_self(ent, chunk=1000, hot_min=1000))
    hybrid = _pair_multiset(_candidates_self(ent, chunk=7, hot_min=5))
    arrays = _pair_multiset(_candidates_self(ent, chunk=7, hot_min=0))
    assert hybrid == big
    assert arrays == big
    # sanity: hot token with m=40 contributes 40*39/2 pairs
    assert len(big) == 40 * 39 // 2 + sum(
        k * (k - 1) // 2 for k in (3, 3, 3, 3)
    )


def test_candidates_cross_chunked_parity(spark):
    ent = _entries(spark)
    other = ent.filter(F.col("id") % 2 == 0)
    big = _pair_multiset(_candidates_cross(ent, other, chunk=1000, hot_min=1000))
    hybrid = _pair_multiset(_candidates_cross(ent, other, chunk=7, hot_min=5))
    arrays = _pair_multiset(_candidates_cross(ent, other, chunk=7, hot_min=0))
    assert hybrid == big
    assert arrays == big

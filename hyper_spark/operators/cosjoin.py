"""Exact sparse TF-IDF cosine similarity join (the original AllPairs
workload) — every doc pair with cosine(tfidf(a), tfidf(b)) >= t.

This is the WEIGHTED-term similarity axis, completing the module
family: ssjoin answers "same token set" (Jaccard ignores weights and
repetition), editjoin answers "same sequence", semantic_dedup answers
"same dense embedding" — this one answers "same discriminative terms
in similar proportions", the classic near-dup signal for templated /
boilerplate corpora where Jaccard saturates on stop-structure and
embeddings are unavailable.

Weighting (chosen to be exactly ANSI-SQL-replayable, no smoothing
knobs): w(t, d) = tf(t, d) * ln(N / df_t), L2-normalized per doc.
Tokens appearing in EVERY doc get idf 0 and contribute nothing; docs
whose every token is corpus-ubiquitous have zero norm and are
EXCLUDED (no discriminative features — the contract mirrors the NULL
exclusions elsewhere in the family).

Filter chain (Bayardo, Ma & Srikant WWW'07, adapted to the module's
shared-order prefix machinery):

1. **suffix bound**: order every doc's features by the global
   (df, token) rarest-first total order and compute the running
   suffix bound S_k = sum_{j>=k} x_j * maxw(tok_j), where maxw is the
   corpus-wide max normalized weight of the token. If a candidate
   shares nothing with x before position k, their cosine is at most
   S_k — so indexing exactly the positions with S_k >= t loses no
   pair. (S_1 >= sum x_j^2 = 1 >= t, so every living doc indexes at
   least one feature.) A 1e-9 slack absorbs float drift in the
   running sum — extra candidates only, exact verification prunes.
2. **two-sided prefix join**: a qualifying pair must share a token
   inside BOTH prefixes. Proof mirrors ssjoin/editjoin: by (1) each
   side's prefix shares SOME token with the other's full list; if no
   token were common to both prefixes, x's shared token a sits in
   y's suffix (ordered after all of y's prefix, which contains y's
   shared token b), so a > b, and symmetrically b > a — contradiction
   under the shared total order. Candidates are generated by the
   ssjoin hybrid machinery over slim (id, token, w, r) prefix entries
   (r6: plain join for small per-token groups, id-sorted arrays +
   chunk fan-out for hot tokens).
3. **candidate cosine upper bound** (r6): the dedup groupBy also sums
   w_a*w_b over the shared-in-both-prefixes tokens and takes the
   strict-suffix bound at the LAST shared position — dot <= cw +
   least(ra, rb), sound because both prefixes are contiguous heads of
   one shared total order — so pairs that cannot reach t never see
   step 4.
4. **exact verification**: bound survivors join the weight table back
   (by id, then by (id, tok) — only shared tokens survive) and one
   groupBy sums wa*wb, pure codegen. Unit vectors, so the dot product
   IS the cosine.

A dense small-vocab fast path (vocab <= 4096, float64 weight matrix
<= 512 MB) answers the degenerate all-pairs regime instead, through the
dense pair-scoring core shared with ssjoin (``dense_pairs.dense_pairs``
with ``COSINE``: one dgemm per Arrow batch). A tiny vocabulary is
exactly where the suffix-bound prefix degenerates to all-pairs
(measured at sf0.1: 29 prefix tokens x ~3800 docs each -> 296M
candidate rows for 12.5M distinct pairs). Above the guards the sparse
chain above is the 100-TB shape: one shuffle for document frequencies,
one for per-doc feature ordering, slim prefix entries on the candidate
generation (weight maps never ride it), and survivor-only verification
— all sparse stages JVM codegen.

Reference scope note: the reference engine (GameAnalytics/hyper) has
no similarity-join surface; this operator is part of the engine's
training-data-pipeline extension (SURVEY.md "beyond the reference").
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hyper_spark.functions.text import char_shingles_col, normalized_text
from hyper_spark.operators.dense_pairs import (
    _DENSE_BYTES,
    _DENSE_VOCAB,
    COSINE,
    dense_pairs,
)
from hyper_spark.operators.util import spread, widen_for_explosion

__all__ = ["cosine_similarity_join"]

_EPS = 1e-9

def _term_freqs(
    df: DataFrame, id_col: str, text_col: str, tokens: str, shingle_n: int
) -> DataFrame:
    """(id, tok, tf) — term OCCURRENCE counts (tf matters here, unlike
    the set-semantics joins)."""
    norm = spread(df).select(
        F.col(id_col).alias("id"),
        normalized_text(F.col(text_col)).alias("__norm"),
    )
    if tokens == "shingles":
        # positional shingles WITHOUT the distinct: multiplicity is tf
        n_sh = F.length("__norm") - F.lit(shingle_n - 1)
        positions = F.when(
            n_sh >= 1, F.sequence(F.lit(1), n_sh)
        ).otherwise(F.array().cast("array<int>"))
        arr: Column = F.transform(
            positions, lambda i: F.col("__norm").substr(i, F.lit(shingle_n))
        )
    elif tokens == "words":
        arr = F.filter(
            F.split(F.col("__norm"), " "), lambda t: t != F.lit("")
        )
    else:
        raise ValueError(f"tokens must be 'shingles' or 'words', got {tokens!r}")
    return (
        norm.select("id", F.explode_outer(arr).alias("tok"))
        .filter(F.col("tok").isNotNull())
        .groupBy("id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def cosine_similarity_join(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    tokens: str = "words",
    shingle_n: int = 5,
    dense_max_vocab: int = _DENSE_VOCAB,
    dense_max_bytes: int = _DENSE_BYTES,
) -> DataFrame:
    """All pairs with exact TF-IDF cosine >= ``threshold``:
    DataFrame[id_a, id_b, cosine] with id_a < id_b.

    ``threshold`` must be in (0, 1]. Weighting is fixed (raw tf x
    ln(N/df), L2-normalized) so the driver oracle can recompute it
    verbatim; zero-norm docs (all tokens ubiquitous) are excluded.

    CALLER CONTRACT (the family's): result eagerly materialized and
    persisted; ``.unpersist()`` when done."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    t = float(threshold)

    tfs = _term_freqs(df, id_col, text_col, tokens, shingle_n).persist()
    n_docs = tfs.select("id").distinct().count()
    dfreq = tfs.groupBy("tok").agg(F.count(F.lit(1)).alias("df_t"))

    raw = tfs.join(dfreq, "tok").withColumn(
        "__w",
        F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df_t")),
    )
    norms = raw.groupBy("id").agg(
        F.sqrt(F.sum(F.col("__w") * F.col("__w"))).alias("__norm")
    )
    # cached: weights feed maxw, the prefix walk, AND both verify maps
    weights = (
        raw.join(norms, "id")
        .filter(F.col("__norm") > 0)
        .select(
            "id",
            "tok",
            "df_t",
            (F.col("__w") / F.col("__norm")).alias("w"),
        )
        .persist()
    )
    weights.count()
    tfs.unpersist()

    # dense small-vocab fast path (see dense_pairs)
    dense = dense_pairs(
        COSINE,
        weights.select("id", "tok", "w"),
        None,
        dfreq.select("tok"),
        t,
        dense_max_vocab,
        dense_max_bytes,
    )
    if dense is not None:
        weights.unpersist()
        return dense

    maxw = weights.groupBy("tok").agg(F.max("w").alias("__maxw"))
    # suffix bound along the global rarest-first (df_t, tok) order;
    # features of one doc are co-located, so this window shuffles by id
    # once. 1e-9 slack: candidates only, never recall. Each prefix
    # entry carries its weight and its STRICT-suffix bound r (the bound
    # over everything AFTER this position) for the candidate-level
    # cosine upper bound below.
    suffix_w = (
        Window.partitionBy("id")
        .orderBy("df_t", "tok")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    prefix = (
        weights.join(maxw, "tok")
        .withColumn(
            "__sfx", F.sum(F.col("w") * F.col("__maxw")).over(suffix_w)
        )
        .filter(F.col("__sfx") >= F.lit(t - _EPS))
        .select(
            "id",
            F.col("tok").alias("token"),
            "w",
            (F.col("__sfx") - F.col("w") * F.col("__maxw")).alias("r"),
        )
    )

    # Candidate generation via grouped per-token chunk arrays (the
    # ssjoin design, guide §2.4/§2.5): each id-sorted prefix array emits
    # its i<j pairs once — half the rows of the self-join, one
    # explicitly-partitioned stage AQE cannot coalesce, and hot tokens
    # spread as (chunk, chunk) units (recall-lossless skew cap).
    from hyper_spark.operators.ssjoin import _candidates_self

    cand = _candidates_self(
        prefix, fields=(("w", "__wa", "__wb"), ("r", "__ra", "__rb"))
    )
    # Candidate-level cosine upper bound, aggregated in the SAME groupBy
    # that deduplicates candidates (the weighted analogue of ssjoin's
    # position filter): cw sums w_a*w_b over the shared-in-both-prefixes
    # tokens, and min(ra, rb) is the strict-suffix bound at the LAST
    # shared prefix position (positions advance together because both
    # prefixes are contiguous heads of ONE shared total order, and r is
    # non-increasing, so the per-pair min is exactly r at that token;
    # any shared token missing from cw therefore sits after it on BOTH
    # sides and its w_a*w_b <= w_a*maxw and <= maxw*w_b). dot <= cw +
    # least(ra, rb), so pruning below t - 1e-9 loses no pair — this is
    # what keeps exact verification off the quadratic candidate set
    # (profiled pre-bound: millions of candidates, 527 s of per-pair
    # map_zip_with CPU; post-bound survivors are thousands).
    bound = (
        cand.groupBy("id_a", "id_b")
        .agg(
            F.sum(F.col("__wa") * F.col("__wb")).alias("__cw"),
            F.min("__ra").alias("__ra"),
            F.min("__rb").alias("__rb"),
        )
        .filter(
            F.col("__cw") + F.least(F.col("__ra"), F.col("__rb"))
            >= F.lit(t - _EPS)
        )
        .select("id_a", "id_b")
    )

    # Verification as a pure-codegen join + sum instead of per-pair
    # map_zip_with over tok->w maps (guide §4.1: the higher-order map
    # merge is interpreted and allocates a merged map per pair). The
    # dot product is the same multiset of products: survivors join
    # side-a weights by id, then side-b weights by (id_b, tok) — only
    # SHARED tokens survive the second join — and one groupBy sums
    # wa*wb. Every candidate shares >= 1 prefix token, so no pair is
    # lost (and a zero-overlap pair could never reach cosine >= t > 0).
    wa = weights.select(
        F.col("id").alias("id_a"), "tok", F.col("w").alias("__va")
    )
    wb = weights.select(
        F.col("id").alias("id_b"), "tok", F.col("w").alias("__vb")
    )
    verified = (
        bound.join(wa, "id_a")
        .join(wb, ["id_b", "tok"])
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("__va") * F.col("__vb")).alias("cosine"))
        .filter(F.col("cosine") >= F.lit(t))
        .select("id_a", "id_b", "cosine")
    ).persist()
    verified.count()
    weights.unpersist()
    return verified

"""Exact set-similarity join via prefix filtering (AllPairs / PPJoin
family) — self-join and cross-corpus (R-S) modes.

Finds EVERY pair of documents with token-set Jaccard >= threshold —
same output contract as ``dedup.ngram_jaccard_pairs`` — but indexes
only each document's *prefix* instead of its whole token set, following
Bayardo, Ma & Srikant, "Scaling Up All Pairs Similarity Search"
(WWW'07) and Xiao et al., "Efficient Similarity Joins for Near
Duplicate Detection" (WWW'08, PPJoin's position filter).

Why this exists next to the LSH path (dedup.minhash_lsh_pairs) and the
full inverted-index path (dedup.ngram_jaccard_pairs):

* LSH is probabilistic — it misses true pairs with band-dependent
  probability. This join is exact and recall-lossless (the
  cross-corpus mode is therefore the exact upgrade of
  ``dedup.decontaminate``'s minhash screen).
* The full inverted index joins on EVERY token, so its candidate count
  is sum over tokens of df(token)^2 — stop-word-shaped tokens dominate
  and the only defense is the recall-lossy ``max_df`` drop. The prefix
  filter is the recall-LOSSLESS version of the same idea: order tokens
  rarest-first globally, and index only the first
  ``n - ceil(t*n) + 1`` tokens of each document. Two sets with
  Jaccard >= t must share a prefix token (each needs overlap
  >= ceil(t*n) with the other, so disjoint prefixes cap the overlap at
  ceil(t*n) - 1), hence no candidate is ever lost — while frequent
  tokens appear in prefixes only for documents large enough that they
  genuinely need them. Measured at sf0.1: 23.4 s vs 482 s (20.6x) for
  identical output (BENCH/BASELINE.md).

Two physical regimes (round-6 optimization):

* **Dense small-vocab fast path** — when the distinct token universe
  fits a fixed-width bitmap (vocab <= 4096) and the index side's
  unpacked float32 bit matrix fits one worker (<= 512 MB), exact
  Jaccard for every pair is one 0/1 GEMM per Arrow batch over packed
  bitmaps, through the dense pair-scoring core shared with cosjoin
  (``dense_pairs.dense_pairs`` with ``JACCARD``). Outputs are
  bit-identical to the sparse arithmetic. A tiny vocabulary is exactly
  where the prefix filter degenerates to all-pairs; this answers the
  same N^2 space at its floor (measured 4x on the sf0.1 bench corpus).
* **Sparse prefix path** (the 100-TB shape): one shuffle for document
  frequencies (over the UNION of both corpora in R-S mode — the total
  order must be shared), one groupBy per corpus to order each
  document's tokens, then a HYBRID candidate generator over slim
  ``(id, n, pos, token)`` prefix entries routed per token by entry
  count m — plain equi-join for small groups, id-sorted per-token
  arrays emitting each pair once for large ones, and a chunked
  (token, chunk, chunk) fan-out above 4096 entries (the
  recall-lossless skew defense: AQE cannot split a single exploding
  key). Candidate-level position filter (PPJoin shape) and exact
  verification join token arrays back for surviving candidates only;
  deduplication happens in the counting groupBy itself. All sparse
  stages are JVM codegen.

Reference scope note: the reference engine (GameAnalytics/hyper) has no
similarity-join surface; this operator is part of the engine's
training-data-pipeline extension (SURVEY.md "beyond the reference").
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hyper_spark.functions.text import (
    char_shingles_col,
    normalized_text,
)
from hyper_spark.operators.dense_pairs import (
    _DENSE_BYTES,
    _DENSE_VOCAB,
    JACCARD,
    dense_pairs,
)
from hyper_spark.operators.util import spread, widen_for_explosion

__all__ = ["similarity_join"]

# Integer-boundary guard for float threshold arithmetic: ceil(t*n) must
# equal the REAL ceil even when the nearest double to t sits above the
# decimal (e.g. t=0.1, n=10 -> 1.0000000000000002 would ceil to 2 and
# silently shorten the prefix — a recall bug). Sizes are integers, so
# backing off by 1e-9 can only ADD candidates; exact verification
# prunes them.
_EPS = 1e-9


def _token_arrays(
    df: DataFrame, id_col: str, text_col: str, tokens: str, shingle_n: int
) -> DataFrame:
    """(id, toks) with toks = DISTINCT token array. Normalized text is
    materialized as a real column first (lambda-CSE: shingling straight
    over normalized_text(text) re-runs the regex per position)."""
    # spread(): a small-file scan arrives as ONE partition and would
    # serialize the regex+shingle stage onto one core (measured 19 s ->
    # ~2 s at sf0.1); no-op on already-wide inputs.
    norm = spread(df).select(
        F.col(id_col).alias("id"),
        normalized_text(F.col(text_col)).alias("__norm"),
    )
    if tokens == "shingles":
        arr: Column = char_shingles_col(
            F.col("__norm"), shingle_n, pre_normalized=True
        )
    elif tokens == "words":
        arr = F.array_distinct(F.split(F.col("__norm"), " "))
    else:
        raise ValueError(f"tokens must be 'shingles' or 'words', got {tokens!r}")
    return norm.select("id", arr.alias("toks"))


def _exploded(sets: DataFrame) -> DataFrame:
    """(id, token) rows. explode_outer, not explode: a plain explode
    INFERS size(toks)>0 AND isnotnull(toks) and pushes the whole
    regex+shingle tree into that filter, re-evaluating it per row; the
    post-filter on the GENERATED column cannot sink below the
    Generate."""
    return sets.select(
        "id", F.explode_outer("toks").alias("token")
    ).filter(F.col("token").isNotNull())


def _ordered(tok: DataFrame, dfreq: DataFrame) -> DataFrame:
    """(id, toks sorted rarest-first, n): per-document tokens sorted by
    the global (document frequency, token) total order — struct sort is
    field-lexicographic."""
    return (
        tok.join(dfreq, "token")
        .groupBy("id")
        .agg(
            F.sort_array(F.collect_list(F.struct("df_count", "token"))).alias(
                "__ord"
            )
        )
        .select(
            "id",
            F.col("__ord.token").alias("toks"),
            F.size("__ord").alias("n"),
        )
    )


def _prefix_entries(ordered: DataFrame, t: float) -> DataFrame:
    """Slim (id, n, pos, token) rows for the first n - ceil(t*n) + 1
    tokens of each document (pos is 1-based)."""
    prefix_len = (
        F.col("n") - F.ceil(F.lit(t) * F.col("n") - F.lit(_EPS)) + F.lit(1)
    ).cast("int")
    return (
        ordered.withColumn("__plen", prefix_len)
        .select(
            "id", "n", F.posexplode(F.slice("toks", F.lit(1), F.col("__plen")))
        )
        .toDF("id", "n", "pos", "token")
        .withColumn("pos", F.col("pos") + F.lit(1))
    )


# Per-token chunk cap for candidate generation: a chunk of C entries
# emits at most C^2/2 ~ 8.4M pairs, so one (chunk, chunk) unit is a
# seconds-scale task and a hot token's quadratic fan-out spreads over
# ceil(m/C)^2 units instead of serializing on one partition (the
# recall-LOSSLESS skew defense: every pair is still generated, exactly
# once per shared prefix token).
_CHUNK = 4096

# payload fields carried per prefix entry: (source column in `entries`,
# alias on the id_a side, alias on the id_b side). ssjoin's defaults;
# cosjoin passes weighted fields through the same machinery.
_FIELDS = (("n", "n_a", "n_b"), ("pos", "pa", "pb"))


# Hot-token threshold for the HYBRID candidate generator. Per-token
# groups with m <= _HOT_MIN entries generate pairs through the plain
# prefix-entry equi-join: the array machinery's per-ENTRY costs
# (collect_list, sort_array, slice copies) outweigh its per-PAIR
# savings when groups are small — measured 1.8x SLOWER than the join
# on the sf1.0 edit join (90 s vs 50 s), whose grams are almost all
# small-m. Groups above it go through id-sorted chunk arrays —
# measured 2.4x FASTER at m ~ 370 (the sf0.1 shingle corpus), and the
# only recall-lossless way to spread one exploding token (AQE cannot
# split a single key). Small-m tokens contribute O(m^2) each to the
# candidate total, so routing them through the join costs little even
# when they are numerous; hot tokens dominate the quadratic and get
# the array + chunk fan-out treatment.
_HOT_MIN = 64


def _prepared_entries(entries: DataFrame, chunk: int) -> DataFrame:
    """Entries annotated with their token's entry count ``__m`` (one
    window pass — no self-join, no second scan of the upstream
    pipeline) and hot-chunk id ``__ch``, on an explicit token exchange,
    eagerly checkpointed: every downstream branch (cool join sides,
    hot array build, per-token counts) reads these blocks, because AQE
    materializes sibling union branches as CONCURRENT jobs whose
    exchange reuse is unreliable — profiled on the edit join as 16
    parallel recomputations of the same gram pipeline (guide §3.3
    'materialising an intermediate truncates the plan')."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("token")
    k = F.greatest(
        F.ceil(F.col("__m") / F.lit(chunk)).cast("int"), F.lit(1)
    )
    return (
        widen_for_explosion(entries, "token")
        .withColumn("__m", F.count(F.lit(1)).over(w))
        .withColumn("__ch", F.pmod(F.xxhash64(F.col("id")), k).cast("int"))
        .localCheckpoint(eager=True)
    )


def _grouped(hot: DataFrame, fields) -> DataFrame:
    """(token, __m, __ch, es): hot entries collected into id-sorted
    chunk arrays."""
    return hot.groupBy("token", "__m", "__ch").agg(
        F.sort_array(
            F.collect_list(F.struct("id", *[src for src, _, _ in fields]))
        ).alias("es")
    )


def _side(df: DataFrame, fields, which: str) -> DataFrame:
    """Alias one side of the plain candidate join."""
    cols = [F.col("token"), F.col("id").alias(f"id_{which}")]
    for src, aa, bb in fields:
        cols.append(F.col(src).alias(aa if which == "a" else bb))
    return df.select(*cols)


def _out_cols(fields) -> list:
    """Output column order shared by every candidate branch."""
    return ["id_a", "id_b"] + [n for _, aa, bb in fields for n in (aa, bb)]


def _xy_select(df: DataFrame, fields) -> DataFrame:
    """Project (x struct, y struct) rows to flat candidate columns —
    x is the id_a side, y the id_b side."""
    cols = [F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b")]
    for src, aa, bb in fields:
        cols.append(F.col(f"x.{src}").alias(aa))
        cols.append(F.col(f"y.{src}").alias(bb))
    return df.select(*cols)


def _within_pairs(grp: DataFrame, fields) -> DataFrame:
    """All i<j entry pairs inside each chunk array. The array is sorted
    by id, so position order IS id order — no per-pair conditionals."""
    tail = F.slice(
        F.col("es"),
        F.col("__i") + F.lit(2),
        F.greatest(F.size("es") - F.col("__i") - 1, F.lit(0)),
    )
    return _xy_select(
        grp.select(F.posexplode("es").alias("__i", "x"), "es").select(
            "x", F.explode(tail).alias("y")
        ),
        fields,
    )


def _across_pairs(joined: DataFrame, fields) -> DataFrame:
    """Full cross of two chunk arrays (__ea x __eb) with the smaller id
    emitted as id_a — used for cross-chunk units of the self join."""
    ex = joined.select(
        F.explode("__ea").alias("x"), "__eb"
    ).select("x", F.explode("__eb").alias("y"))
    xlt = F.col("x.id") < F.col("y.id")
    cols = [
        F.when(xlt, F.col("x.id")).otherwise(F.col("y.id")).alias("id_a"),
        F.when(xlt, F.col("y.id")).otherwise(F.col("x.id")).alias("id_b"),
    ]
    for src, aa, bb in fields:
        cols.append(
            F.when(xlt, F.col(f"x.{src}")).otherwise(F.col(f"y.{src}")).alias(aa)
        )
        cols.append(
            F.when(xlt, F.col(f"y.{src}")).otherwise(F.col(f"x.{src}")).alias(bb)
        )
    return ex.select(*cols)


def _cross_pairs(joined: DataFrame, fields) -> DataFrame:
    """Full cross of an R-side and an S-side chunk array — id_a always
    from __ea, id_b from __eb (independent namespaces, no ordering)."""
    return _xy_select(
        joined.select(F.explode("__ea").alias("x"), "__eb").select(
            "x", F.explode("__eb").alias("y")
        ),
        fields,
    )


def _candidates_self(
    entries: DataFrame,
    chunk: int = _CHUNK,
    fields=_FIELDS,
    hot_min: int = _HOT_MIN,
) -> DataFrame:
    """Candidate rows for the SELF join, hybrid by per-token entry
    count m (see _HOT_MIN):

    * m <= hot_min — plain prefix-entry equi-join on token (both
      orientations generated, id_a < id_b kept), on explicit-count
      exchanges AQE cannot coalesce;
    * hot_min < m <= chunk — one id-sorted array per token emits its
      i<j pairs once (half the join's generated rows, no second
      exchange/sort);
    * m > chunk — the token's array splits into ceil(m/chunk) chunks
      (pmod(xxhash64(id))): within-chunk arrays spread by (token,
      chunk), cross-chunk (ch_i < ch_j) array-pair units by (token,
      chunk, chunk) — the recall-LOSSLESS skew fan-out; AQE's skew
      join cannot split a single exploding key, this can (guide §2.5).

    Every unordered pair is emitted exactly once per shared prefix
    token in all three regimes (a token belongs to exactly one)."""
    entm = _prepared_entries(entries, chunk)
    cool = entm.filter(F.col("__m") <= F.lit(hot_min))
    join_cand = (
        widen_for_explosion(_side(cool, fields, "a"), "token")
        .join(widen_for_explosion(_side(cool, fields, "b"), "token"), "token")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(*_out_cols(fields))
    )
    hot = entm.filter(F.col("__m") > F.lit(hot_min))
    # checkpointed: the within and cross branches both read the arrays
    # (cheap when the hot class is empty — benign vocabularies)
    grp = _grouped(hot, fields).localCheckpoint(eager=True)
    single = _within_pairs(grp.filter(F.col("__m") <= F.lit(chunk)), fields)
    big = grp.filter(F.col("__m") > F.lit(chunk))
    big_within = _within_pairs(
        widen_for_explosion(big, "token", "__ch"), fields
    )
    left = big.select("token", F.col("__ch").alias("__c1"), F.col("es").alias("__ea"))
    right = big.select("token", F.col("__ch").alias("__c2"), F.col("es").alias("__eb"))
    crossed = left.join(right, "token").filter(F.col("__c1") < F.col("__c2"))
    crossed = widen_for_explosion(crossed, "token", "__c1", "__c2")
    return (
        join_cand.unionByName(single)
        .unionByName(big_within)
        .unionByName(_across_pairs(crossed, fields))
    )


def _candidates_cross(
    entries_a: DataFrame,
    entries_b: DataFrame,
    chunk: int = _CHUNK,
    fields=_FIELDS,
    hot_min: int = _HOT_MIN,
) -> DataFrame:
    """Candidate rows for the R-S join, hybrid by per-token entry
    counts (a token's pair block is COOL when both sides have
    <= hot_min entries — plain equi-join — and HOT otherwise —
    per-side chunk arrays joined on token, every (chunk_a, chunk_b)
    unit covering its block exactly once, units involving a
    beyond-chunk side repartitioned before exploding)."""
    ea = _prepared_entries(entries_a, chunk)
    eb = _prepared_entries(entries_b, chunk)
    cnt_a = ea.groupBy("token").agg(F.max("__m").alias("__ma"))
    cnt_b = eb.groupBy("token").agg(F.max("__m").alias("__mb"))
    cls = cnt_a.join(cnt_b, "token").withColumn(
        "__hot",
        (F.col("__ma") > F.lit(hot_min)) | (F.col("__mb") > F.lit(hot_min)),
    )
    cool_toks = cls.filter(~F.col("__hot")).select("token")
    hot_toks = cls.filter(F.col("__hot")).select("token")

    join_cand = (
        widen_for_explosion(
            _side(ea.join(cool_toks, "token", "leftsemi"), fields, "a"),
            "token",
        )
        .join(
            widen_for_explosion(
                _side(eb.join(cool_toks, "token", "leftsemi"), fields, "b"),
                "token",
            ),
            "token",
        )
        .select(*_out_cols(fields))
    )

    ga = _grouped(ea.join(hot_toks, "token", "leftsemi"), fields).select(
        "token",
        F.col("__m").alias("__ma"),
        F.col("__ch").alias("__c1"),
        F.col("es").alias("__ea"),
    )
    gb = _grouped(eb.join(hot_toks, "token", "leftsemi"), fields).select(
        "token",
        F.col("__m").alias("__mb"),
        F.col("__ch").alias("__c2"),
        F.col("es").alias("__eb"),
    )
    joined = ga.join(gb, "token")
    is_big = (F.col("__ma") > F.lit(chunk)) | (F.col("__mb") > F.lit(chunk))
    cool_units = joined.filter(~is_big)
    big_units = widen_for_explosion(
        joined.filter(is_big), "token", "__c1", "__c2"
    )
    return (
        join_cand.unionByName(_cross_pairs(cool_units, fields))
        .unionByName(_cross_pairs(big_units, fields))
    )


def similarity_join(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    tokens: str = "shingles",
    shingle_n: int = 5,
    position_filter: bool = True,
    other: DataFrame | None = None,
    other_id_col: str | None = None,
    other_text_col: str | None = None,
    dense_max_vocab: int = _DENSE_VOCAB,
    dense_max_bytes: int = _DENSE_BYTES,
) -> DataFrame:
    """All pairs with exact token-set Jaccard >= ``threshold``.

    Self-join (default): DataFrame[id_a, id_b, jaccard] with
    id_a < id_b. Cross-corpus mode (``other`` given, the exact
    decontamination shape): id_a comes from ``df``, id_b from
    ``other``, every qualifying cross pair is returned (no ordering
    constraint — the two id namespaces are independent), and the
    rarest-first token order is computed over the UNION of both
    corpora so both prefix indexes follow one shared total order.

    jaccard is the exact double |A∩B| / |A∪B| (bit-reproducible in
    ANSI SQL — the driver oracle recomputes it). ``position_filter=
    False`` disables the PPJoin candidate bound (kept for A/B
    measurement; output is identical either way — pytest-asserted).

    CALLER CONTRACT (the minhash_lsh_pairs one): the returned DataFrame
    is eagerly materialized and **persisted** — each token-order table
    feeds its prefix index AND a verification side, so an uncached
    lineage would re-run the tokenize+order build three times. The big
    intermediate caches are released before return; call
    ``.unpersist()`` on the (small) result when done with it."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    t = float(threshold)
    cross = other is not None

    sets_a = _token_arrays(df, id_col, text_col, tokens, shingle_n)
    # cached: each token table feeds the frequency count AND the order
    # join — uncached, the tokenize scan runs twice per corpus.
    tok_a = _exploded(sets_a).persist()
    if cross:
        sets_b = _token_arrays(
            other,
            other_id_col or id_col,
            other_text_col or text_col,
            tokens,
            shingle_n,
        )
        tok_b = _exploded(sets_b).persist()
        dfreq = (
            tok_a.unionByName(tok_b)
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias("df_count"))
        )
    else:
        tok_b = tok_a
        dfreq = tok_a.groupBy("token").agg(F.count(F.lit(1)).alias("df_count"))

    # dense small-vocab fast path (see dense_pairs): a tiny token
    # universe is the prefix filter's degenerate all-pairs regime; one
    # 0/1 GEMM per batch over packed bitmaps answers it exactly.
    dense = dense_pairs(
        JACCARD,
        tok_a,
        tok_b if cross else None,
        dfreq.select("token"),
        t,
        dense_max_vocab,
        dense_max_bytes,
    )
    if dense is not None:
        tok_a.unpersist()
        tok_b.unpersist()  # a no-op in self mode
        return dense

    ordered_a = _ordered(tok_a, dfreq).persist()
    ordered_a.count()  # materialize, then drop the token-table cache
    ordered_b = ordered_a
    if cross:
        ordered_b = _ordered(tok_b, dfreq).persist()
        ordered_b.count()
        tok_b.unpersist()
    tok_a.unpersist()

    # Candidate generation via grouped per-token chunk arrays instead of
    # a prefix-entry self-join (guide §2.4/§2.5; measured 2.4x on the
    # sf0.1 candidate+filter pipeline, identical candidate set): the
    # self-join emitted BOTH orientations of every pair and filtered
    # half away, its two exchanges + sorts cost a full extra pass, and
    # AQE coalesced the explosion stage down to 11 tasks with 750 MB of
    # partial-agg spill because the join INPUT is a few MB of slim
    # entries while the OUTPUT is quadratic in per-token prefix df.
    # The grouped form emits each pair once (i<j inside an id-sorted
    # array), runs in one explicitly-partitioned stage, and hot tokens
    # spread as (chunk, chunk) units — the recall-lossless skew cap.
    if cross:
        cand = _candidates_cross(
            _prefix_entries(ordered_a, t), _prefix_entries(ordered_b, t)
        )
    else:
        cand = _candidates_self(_prefix_entries(ordered_a, t))
    # length filter: Jaccard >= t forces t*n_a <= n_b <= n_a/t
    length_ok = (F.col("n_b") >= F.lit(t) * F.col("n_a") - F.lit(_EPS)) & (
        F.col("n_a") >= F.lit(t) * F.col("n_b") - F.lit(_EPS)
    )
    cand = cand.filter(length_ok)
    # candidate dedup AND the position-filter statistics in ONE
    # exchange: both prefixes follow the same global order, so the
    # shared token maximizing pa is the one maximizing pb — every
    # shared token before it is itself a shared prefix token (counted
    # in c), and shared tokens after it number at most
    # min(n_a - pa_max, n_b - pb_max).
    grouped = cand.groupBy("id_a", "id_b", "n_a", "n_b").agg(
        F.count(F.lit(1)).alias("__c"),
        F.max("pa").alias("__pa"),
        F.max("pb").alias("__pb"),
    )
    if position_filter:
        minoverlap = F.ceil(
            F.lit(t / (1.0 + t)) * (F.col("n_a") + F.col("n_b")) - F.lit(_EPS)
        )
        grouped = grouped.filter(
            F.col("__c")
            + F.least(F.col("n_a") - F.col("__pa"), F.col("n_b") - F.col("__pb"))
            >= minoverlap
        )

    # exact verification: token arrays join back for survivors only
    sa = ordered_a.select(F.col("id").alias("id_a"), F.col("toks").alias("__ta"))
    sb = ordered_b.select(F.col("id").alias("id_b"), F.col("toks").alias("__tb"))
    inter = F.size(F.array_intersect("__ta", "__tb"))
    verified = (
        grouped.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("__i", inter)
        .withColumn(
            "jaccard",
            F.col("__i") / (F.col("n_a") + F.col("n_b") - F.col("__i")),
        )
        .filter(F.col("jaccard") >= F.lit(t))
        .select("id_a", "id_b", "jaccard")
    ).persist()
    verified.count()  # materialize, then drop the big upstream caches
    ordered_a.unpersist()
    if cross:
        ordered_b.unpersist()
    return verified

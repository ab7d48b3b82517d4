"""Dedup / similarity / text-analysis / multimodal operator tests on the
driver testdata (documents, embeddings) plus synthetic near-dup corpora."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from hyper_spark.functions.text import (
    fingerprint_col,
    lang_guess_col,
    quality_score_col,
    token_count_col,
)
from hyper_spark.operators.dedup import (
    embedding_join_pairs,
    embedding_pairs,
    exact_dedup,
    exact_dup_groups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    semantic_decontaminate,
    simhash_pairs,
)
from hyper_spark.operators.multimodal import (
    attach_payload_metadata,
    decode_features,
    fake_decoder,
    frame_sample,
)
from hyper_spark.operators.similarity import knn_brute, knn_ivf


@pytest.fixture(scope="module")
def near_dup_docs(spark):
    """Deterministic corpus: 40 base docs, each with an exact copy
    (punctuation-varied) and a near-copy (one word changed)."""
    rows = []
    words = "alpha bravo charlie delta echo foxtrot golf hotel india juliet".split()
    for i in range(40):
        base = " ".join(words[(i + j) % 10] for j in range(30)) + f" doc{i}"
        rows.append(Row(doc_id=i * 10, text=base))
        rows.append(Row(doc_id=i * 10 + 1, text=base.upper() + "!!"))  # exact dup (normalized)
        near = base.replace(words[i % 10], "zulu", 1)
        rows.append(Row(doc_id=i * 10 + 2, text=near))  # near dup
    return spark.createDataFrame(rows)


# --------------------------------------------------------------- exact


def test_exact_dedup(spark, near_dup_docs):
    kept = exact_dedup(near_dup_docs)
    # each base+copy pair collapses to one; near-dups survive
    assert kept.count() == 80
    groups = exact_dup_groups(near_dup_docs).collect()
    assert len(groups) == 40
    assert all(g["dup_count"] == 2 for g in groups)
    assert all(g["keep_id"] % 10 == 0 for g in groups)


def test_fingerprint_matches_python_md5(spark):
    df = spark.createDataFrame([Row(text="Hello,   World! 42")])
    got = df.select(fingerprint_col(F.col("text")).alias("fp")).collect()[0]["fp"]
    assert got == hashlib.md5(b"hello world 42").hexdigest()


# --------------------------------------------------------------- minhash


def test_minhash_lsh_finds_near_dups(spark, near_dup_docs):
    pairs = minhash_lsh_pairs(
        near_dup_docs, num_hashes=64, bands=16, threshold=0.5
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    # exact dups (jaccard 1.0) must all be found
    for i in range(40):
        assert (i * 10, i * 10 + 1) in found
    # near dups share most shingles → also expected at 0.5
    near_found = sum((i * 10, i * 10 + 2) in found for i in range(40))
    assert near_found >= 35
    # jaccard values are exact (verification step) — spot check
    for r in pairs:
        if (r["id_a"], r["id_b"]) == (0, 1):
            assert r["jaccard"] == 1.0


def test_minhash_lsh_cache_lifecycle(spark, near_dup_docs):
    """ADVICE r02 / VERDICT r02 next #4: the returned pair set is the
    only persisted artifact (the big signature cache is released before
    return), and the caller's documented ``.unpersist()`` restores the
    session to its baseline — no unbounded cache accumulation across
    calls."""
    import time

    jsc = spark.sparkContext._jsc

    def n_persistent():
        return jsc.getPersistentRDDs().size()

    def settled(expect=None):
        # unpersist is async at the context level: poll until the count
        # stabilizes (and matches `expect` when given) so leftovers from
        # sibling tests' in-flight cleanup don't flake the equality
        last = n_persistent()
        for _ in range(40):
            time.sleep(0.05)
            cur = n_persistent()
            if cur == last and (expect is None or cur == expect):
                return cur
            last = cur
        return last

    def persistent_ids():
        it = jsc.getPersistentRDDs().keySet().iterator()
        ids = set()
        while it.hasNext():
            ids.add(int(str(it.next())))
        return ids

    spark.catalog.clearCache()
    settled()
    # compare RDD id SETS, not counts: sibling tests' async unpersists
    # can shrink the baseline mid-test and flake an equality on size
    baseline_ids = persistent_ids()
    pairs = minhash_lsh_pairs(near_dup_docs, num_hashes=64, bands=16, threshold=0.5)
    # exactly one new cache entry: the materialized pair set itself
    new_ids = persistent_ids() - baseline_ids
    assert len(new_ids) == 1
    assert pairs.count() > 0
    pairs.unpersist()
    for _ in range(40):
        if not (persistent_ids() & new_ids):
            break
        time.sleep(0.05)
    assert not (persistent_ids() & new_ids)


def test_minhash_max_bucket_star_join(spark, near_dup_docs):
    """LSH bucket-skew guard: with max_bucket set, a boilerplate
    cluster (60 identical docs -> every band bucket holds all 60)
    switches to the star join — its pairs surface as rep<->member
    (linear), exact-verified, while normal-corpus results are identical
    to the uncapped path."""
    boiler = [
        Row(doc_id=10_000 + i, text="the exact same boilerplate text "
            "repeated for every single mirror page " * 3)
        for i in range(60)
    ]
    df = near_dup_docs.unionByName(spark.createDataFrame(boiler))
    capped = minhash_lsh_pairs(
        df, num_hashes=64, bands=16, threshold=0.5, max_bucket=20
    )
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in capped.collect()}
    capped.unpersist()
    # star pairs: every boilerplate member pairs with the min-id rep
    for i in range(1, 60):
        assert got.get((10_000, 10_000 + i)) == 1.0, i
    # the normal corpus' exact-dup pairs are unaffected by the cap
    for i in range(40):
        assert (i * 10, i * 10 + 1) in got
    # the cap only ever REPLACES member-member pairs with rep-member
    # ones (capped ⊆ uncapped: precision is verification-exact in both);
    # with a cap above every bucket size the result is identical
    plain_tight = minhash_lsh_pairs(
        near_dup_docs, num_hashes=64, bands=16, threshold=0.5, max_bucket=20
    )
    plain_loose = minhash_lsh_pairs(
        near_dup_docs, num_hashes=64, bands=16, threshold=0.5, max_bucket=10_000
    )
    plain = minhash_lsh_pairs(
        near_dup_docs, num_hashes=64, bands=16, threshold=0.5
    )
    a = {(r["id_a"], r["id_b"]) for r in plain_tight.collect()}
    loose = {(r["id_a"], r["id_b"]) for r in plain_loose.collect()}
    b = {(r["id_a"], r["id_b"]) for r in plain.collect()}
    plain_tight.unpersist(); plain_loose.unpersist(); plain.unpersist()
    assert a <= b
    assert loose == b


def test_minhash_sig_injection_equivalent(spark, near_dup_docs):
    """minhash_lsh_pairs(sig=precomputed) returns the same pair set as
    the self-computing path, and leaves the injected frame's persist
    alone (the store contract)."""
    from hyper_spark.operators.dedup import minhash_signatures

    base = minhash_lsh_pairs(near_dup_docs, num_hashes=64, bands=16)
    want = {(r["id_a"], r["id_b"]) for r in base.collect()}
    base.unpersist()
    sig = minhash_signatures(
        near_dup_docs, "doc_id", "text", 64, 5, 7,
        include_shingle_hashes=True,
    ).persist()
    injected = minhash_lsh_pairs(
        near_dup_docs, num_hashes=64, bands=16, sig=sig
    )
    got = {(r["id_a"], r["id_b"]) for r in injected.collect()}
    injected.unpersist()
    assert got == want
    assert sig.storageLevel.useMemory  # still persisted — ours to drop
    sig.unpersist()


def test_incremental_near_dedup_store_roundtrip(spark, near_dup_docs, tmp_path):
    """Build a store from the corpus, then ingest a batch of (near-dups
    of history + an internal dup cluster + fresh docs): history dups
    drop, the internal cluster collapses to one, fresh docs survive,
    and after the store update a re-ingest of the survivors drops
    everything."""
    from hyper_spark.operators.dedup import (
        incremental_near_dedup,
        read_signature_store,
        write_signature_store,
    )

    store = str(tmp_path / "mh_store")
    write_signature_store(
        near_dup_docs, store, num_hashes=64, bands=16, threshold=0.5
    )
    _, params = read_signature_store(spark, store)
    assert params["num_hashes"] == 64 and params["seed"] == 7

    hist = {r["doc_id"]: r["text"] for r in near_dup_docs.collect()}
    batch = [
        Row(doc_id=9001, text=hist[0]),                   # exact copy of history
        Row(doc_id=9002, text=hist[100].replace("doc10", "docX")),  # near-dup of history
        Row(doc_id=9101, text="entirely novel content about lighthouse engineering and tides " * 3),
        Row(doc_id=9102, text="entirely novel content about lighthouse engineering and tides " * 3 + "extra"),  # near-dup of 9101
        Row(doc_id=9201, text="unrelated treatise on alpine lichen growth rates and substrates"),
    ]
    new_df = spark.createDataFrame(batch)
    out = incremental_near_dedup(new_df, store, max_bucket=None)
    got = sorted(r["doc_id"] for r in out.collect())
    assert got == [9101, 9201]
    # survivors' signatures were appended: re-ingesting them drops all
    again = incremental_near_dedup(
        spark.createDataFrame([batch[2], batch[4]]), store,
        update_store=False,
    )
    assert again.count() == 0


def test_minhash_join_per_left_cap(spark, near_dup_docs):
    """per_left_cap (existence-semantics screen bound) returns a
    subset of the exhaustive cross pairs and, on a corpus with sparse
    candidates, the same matched-left set."""
    from hyper_spark.operators.dedup import minhash_join_pairs

    left = near_dup_docs.filter(F.col("doc_id") % 10 == 2)
    right = near_dup_docs.filter(F.col("doc_id") % 10 == 0)
    full = minhash_join_pairs(left, right, num_hashes=64, bands=16)
    want_pairs = {(r["id_l"], r["id_r"]) for r in full.collect()}
    full.unpersist()
    capped = minhash_join_pairs(
        left, right, num_hashes=64, bands=16, per_left_cap=4
    )
    got_pairs = {(r["id_l"], r["id_r"]) for r in capped.collect()}
    capped.unpersist()
    assert got_pairs <= want_pairs
    assert {l for l, _ in got_pairs} == {l for l, _ in want_pairs}


def test_minhash_precision_is_exact(spark, near_dup_docs):
    """Verification computes true Jaccard: no pair below threshold."""
    pairs = minhash_lsh_pairs(near_dup_docs, num_hashes=64, bands=16, threshold=0.9)
    assert pairs.filter(F.col("jaccard") < 0.9).count() == 0


# --------------------------------------------------------------- simhash


def test_simhash_near_dups(spark, near_dup_docs):
    pairs = simhash_pairs(near_dup_docs, max_hamming=3).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    for i in range(40):
        assert (i * 10, i * 10 + 1) in found  # identical tokens → hamming 0
    hams = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
    assert hams[(0, 1)] == 0


# --------------------------------------------------------------- ngram jaccard


def test_ngram_jaccard_exact_pairs(spark, near_dup_docs):
    pairs = ngram_jaccard_pairs(
        near_dup_docs, shingle_n=5, threshold=0.6, max_df=None
    ).collect()
    found = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    for i in range(40):
        assert found.get((i * 10, i * 10 + 1)) == 1.0


# --------------------------------------------------------------- embeddings


def test_embedding_pairs_brute_vs_lsh(spark, sf_correct):
    emb = spark.read.parquet(f"{sf_correct}/embeddings.parquet")
    brute = {
        (r["id_a"], r["id_b"])
        for r in embedding_pairs(emb, threshold=0.8, method="brute").collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in embedding_pairs(
            emb, threshold=0.8, method="lsh", n_planes=6, n_tables=6
        ).collect()
    }
    assert lsh <= brute  # exact verification ⇒ no false positives
    if brute:
        assert len(lsh) / len(brute) >= 0.8  # recall


def test_embedding_pairs_max_bucket_cap(spark):
    """Skew cap semantics (mirrors minhash_lsh_pairs): capped output is
    exact-verified (⊆ brute), every capped survivor's cluster is still
    reachable via its star representative, and a dense cluster that
    overflows max_bucket yields rep↔member pairs (linear), not the full
    |bucket|² closure."""
    rng = np.random.default_rng(9)
    center = rng.standard_normal(32)
    rows = []
    # one dense near-dup cluster of 40 (every bucket it lands in
    # overflows max_bucket=8) + 60 unrelated singletons
    for i in range(40):
        v = center + 0.05 * rng.standard_normal(32)
        rows.append(Row(vec_id=i, embedding=[float(x) for x in v]))
    for i in range(40, 100):
        v = rng.standard_normal(32)
        rows.append(Row(vec_id=i, embedding=[float(x) for x in v]))
    df = spark.createDataFrame(rows)

    brute = {
        (r["id_a"], r["id_b"])
        for r in embedding_pairs(df, threshold=0.9, method="brute").collect()
    }
    uncapped = embedding_pairs(df, threshold=0.9, method="lsh", n_tables=6)
    got_u = {(r["id_a"], r["id_b"]) for r in uncapped.collect()}
    uncapped.unpersist()
    capped = embedding_pairs(
        df, threshold=0.9, method="lsh", n_tables=6, max_bucket=8
    )
    got_c = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    capped.unpersist()

    assert got_u <= brute  # exact verification ⇒ precision 1.0
    assert got_c <= brute  # star pairs are cosine-verified too
    # every id the uncapped path touched is still covered by the capped
    # output (pair-level recall is traded for cluster-level coverage)
    ids = lambda s: {x for p in s for x in p}  # noqa: E731
    assert ids(got_u) <= ids(got_c) | {min(ids(got_u) or {0})}
    # the dense cluster collapses to star pairs: rep 0 pairs with every
    # other cluster member, so the closure survives
    cluster_pairs = {p for p in got_c if p[0] < 40 and p[1] < 40}
    assert {(0, i) for i in range(1, 40)} <= cluster_pairs
    # and the capped candidate volume is LINEAR in the cluster, not
    # quadratic: star contributes 39 pairs, not C(40,2)=780
    assert len(cluster_pairs) < 200


def test_embedding_pairs_synthetic_duplicates(spark):
    rng = np.random.default_rng(5)
    base = rng.standard_normal((30, 16)).astype(float)
    rows = []
    for i, v in enumerate(base):
        rows.append(Row(vec_id=i * 2, embedding=[float(x) for x in v]))
        noisy = v + rng.standard_normal(16) * 0.01
        rows.append(Row(vec_id=i * 2 + 1, embedding=[float(x) for x in noisy]))
    df = spark.createDataFrame(rows)
    got = embedding_pairs(df, threshold=0.99, method="brute").collect()
    found = {(r["id_a"], r["id_b"]) for r in got}
    for i in range(30):
        assert (i * 2, i * 2 + 1) in found


def test_embedding_join_pairs_brute_vs_lsh(spark, sf_correct):
    """Cross-corpus pairs: LSH ⊆ brute (exact verification), recall
    bounded below at 6 tables on the testdata split."""
    emb = spark.read.parquet(f"{sf_correct}/embeddings.parquet")
    eval_side = emb.filter(F.col("vec_id") < 20)
    train_side = emb.filter(F.col("vec_id") >= 20)
    brute = {
        (r["id_l"], r["id_r"])
        for r in embedding_join_pairs(
            train_side, eval_side, threshold=0.4, method="brute"
        ).collect()
    }
    lsh_df = embedding_join_pairs(
        train_side, eval_side, threshold=0.4, method="lsh",
        n_planes=4, n_tables=12,
    )
    lsh = {(r["id_l"], r["id_r"]) for r in lsh_df.collect()}
    lsh_df.unpersist()
    assert lsh <= brute
    if brute:
        # 0.4-cosine pairs are the hardest LSH case: per-table
        # collision prob (1 - θ/π)^4 ≈ 0.16, 12 tables ⇒ ~0.87
        # theoretical recall; deterministic given the seed
        assert len(lsh) / len(brute) >= 0.5


def test_embedding_join_pairs_caps(spark):
    """max_bucket (right-side star rep) and per_left_cap (existence
    semantics) both preserve the CONTAMINATED-LEFT-ID set on a dense
    eval cluster while cutting candidate volume."""
    rng = np.random.default_rng(17)
    center = rng.standard_normal(32)
    eval_rows = [
        Row(vec_id=i, embedding=[float(x) for x in center + 0.02 * rng.standard_normal(32)])
        for i in range(30)  # near-identical eval family: buckets overflow
    ]
    train_rows = [
        Row(vec_id=100 + i, embedding=[float(x) for x in center + 0.02 * rng.standard_normal(32)])
        for i in range(10)  # contaminated
    ] + [
        Row(vec_id=200 + i, embedding=[float(x) for x in rng.standard_normal(32)])
        for i in range(50)  # clean
    ]
    eval_df = spark.createDataFrame(eval_rows)
    train_df = spark.createDataFrame(train_rows)
    brute_ids = {
        r["id_l"]
        for r in embedding_join_pairs(
            train_df, eval_df, threshold=0.9, method="brute"
        ).collect()
    }
    assert brute_ids == {100 + i for i in range(10)}
    capped = embedding_join_pairs(
        train_df, eval_df, threshold=0.9, method="lsh",
        n_tables=6, max_bucket=4, per_left_cap=2,
    )
    rows = capped.collect()
    capped.unpersist()
    got_ids = {r["id_l"] for r in rows}
    assert got_ids <= brute_ids  # precision 1.0 (exact verification)
    assert got_ids == brute_ids  # existence recall survives both caps
    # per_left_cap bounds the verified pair volume per left id
    from collections import Counter

    per_left = Counter(r["id_l"] for r in rows)
    assert max(per_left.values()) <= 2


def test_semantic_decontaminate(spark, sf_correct):
    emb = spark.read.parquet(f"{sf_correct}/embeddings.parquet")
    eval_side = emb.filter(F.col("vec_id") < 20)
    train_side = emb.filter(F.col("vec_id") >= 20)
    # numpy oracle for the contaminated set
    pdf = emb.orderBy("vec_id").toPandas()
    mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    norms = np.linalg.norm(mat, axis=1)
    cos = (mat @ mat.T) / np.outer(norms, norms)
    ids = pdf["vec_id"].to_numpy()
    eval_mask = ids < 20
    contaminated = {
        int(ids[i])
        for i in np.nonzero(~eval_mask)[0]
        if (cos[i, eval_mask] >= 0.4).any()
    }
    survivors = {
        r["vec_id"]
        for r in semantic_decontaminate(
            train_side, eval_side, threshold=0.4, method="brute"
        ).select("vec_id").collect()
    }
    expected = {int(i) for i in ids if i >= 20} - contaminated
    assert survivors == expected
    # LSH path: recall < 1 ⇒ it can only UNDER-drop (supset of brute
    # survivors) and never removes a clean doc
    lsh_survivors = {
        r["vec_id"]
        for r in semantic_decontaminate(
            train_side, eval_side, threshold=0.4, method="lsh",
            n_planes=6, n_tables=6,
        ).select("vec_id").collect()
    }
    assert survivors <= lsh_survivors
    assert lsh_survivors <= {int(i) for i in ids if i >= 20}


# --------------------------------------------------------------- knn


def test_knn_brute_matches_numpy(spark, sf_correct):
    emb = spark.read.parquet(f"{sf_correct}/embeddings.parquet").repartition(8)
    pdf = emb.toPandas()
    mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    mat_n = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    queries = mat[:3]
    got = knn_brute(emb, queries, k=5).collect()
    qn = queries / np.linalg.norm(queries, axis=1, keepdims=True)
    scores = qn @ mat_n.T
    for qi in range(3):
        expect = set(pdf["vec_id"].to_numpy()[np.argsort(-scores[qi])[:5]])
        mine = {r["vec_id"] for r in got if r["query_id"] == qi}
        assert mine == expect, qi


def test_knn_ivf_recall(spark, sf_correct):
    emb = spark.read.parquet(f"{sf_correct}/embeddings.parquet").repartition(8)
    pdf = emb.toPandas()
    mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    queries = mat[10:15]
    exact = knn_brute(emb, queries, k=10).collect()
    approx = knn_ivf(emb, queries, k=10, n_cells=8, n_probe=4).collect()
    for qi in range(5):
        e = {r["vec_id"] for r in exact if r["query_id"] == qi}
        a = {r["vec_id"] for r in approx if r["query_id"] == qi}
        assert len(e & a) / 10 >= 0.6, qi  # probing half the cells


def test_knn_skips_null_vectors(spark, sf_correct):
    """A NULL vector cannot be scored: knn_brute and knn_ivf skip it and
    answer as on the rows without it."""
    emb = spark.read.parquet(f"{sf_correct}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    mat = np.stack(emb.toPandas()["embedding"].to_numpy()).astype(np.float64)
    with_null = emb.unionByName(
        spark.createDataFrame([(-1, None)], emb.schema)
    ).repartition(4)
    queries = mat[:3]

    def ranked(df):
        return sorted((r["query_id"], r["rank"], r["vec_id"]) for r in df.collect())

    assert ranked(knn_brute(with_null, queries, k=5)) == ranked(
        knn_brute(emb, queries, k=5)
    )
    cents = mat[::50]
    got = ranked(knn_ivf(with_null, queries, k=5, centroids=cents))
    assert got == ranked(knn_ivf(emb, queries, k=5, centroids=cents))
    trained = ranked(knn_ivf(with_null, queries, k=5, n_cells=4, n_probe=4))
    assert len(trained) == 15 and all(v != -1 for _, _, v in trained)


# --------------------------------------------------------------- text analysis


def test_text_stats_on_documents(spark, sf_correct):
    docs = spark.read.parquet(f"{sf_correct}/documents.parquet")
    out = docs.select(
        "doc_id",
        token_count_col(F.col("text")).alias("n_tokens"),
        quality_score_col(F.col("text")).alias("quality"),
        lang_guess_col(F.col("text")).alias("lang_guess"),
    ).collect()
    assert all(r["n_tokens"] > 0 for r in out)
    assert all(0.0 <= r["quality"] <= 1.0 for r in out)
    assert all(r["lang_guess"] in ("en", "de", "fr", "es", "und") for r in out)


# --------------------------------------------------------------- multimodal


def test_multimodal_plumbing(spark):
    rows = [
        Row(doc_id=0, payload=b"\x89PNG\r\n" + bytes(range(250))),
        Row(doc_id=1, payload=b"\xff\xd8\xff\xe0" + b"jpegdata" * 40),
        Row(doc_id=2, payload=b""),
    ]
    df = spark.createDataFrame(rows)
    meta = {r["doc_id"]: r["payload_meta"] for r in attach_payload_metadata(df).collect()}
    assert meta[0]["format"] == "png"
    assert meta[1]["format"] == "jpeg"
    assert meta[2]["n_bytes"] == 0
    assert meta[1]["digest"] == hashlib.md5(b"\xff\xd8\xff\xe0" + b"jpegdata" * 40).hexdigest()

    feats = {r["doc_id"]: r["features"] for r in decode_features(df).collect()}
    assert len(feats[0]) == 16
    np.testing.assert_allclose(
        np.asarray(feats[1]), fake_decoder(bytes(rows[1]["payload"])), rtol=1e-6
    )

    frames = frame_sample(df, frame_bytes=32, every_nth=2).collect()
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 0: 256 bytes → 8 frames → every 2nd → 4
    assert len(by_doc[0]) == 4
    assert all(len(bytes(r["frame"])) <= 32 for r in frames)

    with pytest.raises(NotImplementedError):
        decode_features(df, strict=True)


def test_ivf_index_persist_and_prune(spark, sf_correct, tmp_path):
    """Persisted IVF index: partition-pruned queries agree with brute
    force at high recall, and the scan actually prunes cells."""
    from hyper_spark.operators.similarity import build_ivf_index, knn_with_index

    emb = spark.read.parquet(f"{sf_correct}/embeddings.parquet")
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, n_cells=8)

    pdf = emb.toPandas()
    mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    queries = mat[5:8]
    got = knn_with_index(spark, path, queries, k=10, n_probe=4)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan  # cell pruning reaches the scan
    exact = knn_brute(emb, queries, k=10).collect()
    approx = got.collect()
    for qi in range(3):
        e = {r["vec_id"] for r in exact if r["query_id"] == qi}
        a = {r["vec_id"] for r in approx if r["query_id"] == qi}
        assert len(e & a) / 10 >= 0.6, qi


def test_knn_ivf_recall_on_clustered_layout(spark, sf_correct):
    """VERDICT r01 fix #2: centroid training must survive a clustered
    physical layout. repartitionByRange on the first component packs
    similar vectors into the same partitions — the old
    sample(1.0).limit(n) trained on one corner and recall collapsed;
    the rand()-reservoir sample must hold recall@10 >= 0.9 with a
    generous probe."""
    from hyper_spark.operators.similarity import _train_centroids, ivf_assign

    emb = spark.read.parquet(f"{sf_correct}/embeddings.parquet")
    clustered = emb.repartitionByRange(8, F.element_at("embedding", 1))
    pdf = emb.toPandas()
    mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    queries = mat[20:40]
    exact = knn_brute(emb, queries, k=10).collect()
    approx = knn_ivf(clustered, queries, k=10, n_cells=16, n_probe=11).collect()
    recalls = []
    for qi in range(20):
        e = {r["vec_id"] for r in exact if r["query_id"] == qi}
        a = {r["vec_id"] for r in approx if r["query_id"] == qi}
        recalls.append(len(e & a) / 10)
    assert sum(recalls) / len(recalls) >= 0.9, recalls
    # direct evidence of the unbiased sample: cells stay balanced even on
    # the clustered layout (corner-trained centroids produce a catch-all
    # giant cell — no pruning value at scale)
    cents = _train_centroids(clustered, "embedding", 16, 10000, 5, 23)
    sizes = [r["count"] for r in ivf_assign(emb, cents).groupBy("cell").count().collect()]
    assert max(sizes) <= 2.5 * (sum(sizes) / len(sizes)), sorted(sizes)


def test_knn_ivf_exactly_k_with_divergent_probes(spark, sf_correct):
    """VERDICT r01 fix #3 (probe masking): queries probing DIFFERENT
    cells must each still get exactly k rows — the old post-hoc filter
    let one query's candidates displace another's map-side heap and
    silently returned < k."""
    emb = spark.read.parquet(f"{sf_correct}/embeddings.parquet").repartition(2)
    pdf = emb.toPandas()
    mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    # strongly different query directions -> different probed cells
    queries = np.stack([mat[0], -mat[0], mat[7], -mat[7], mat[31]])
    got = knn_ivf(emb, queries, k=5, n_cells=8, n_probe=2).collect()
    per_q = {}
    for r in got:
        per_q.setdefault(r["query_id"], []).append(r)
    for qi in range(5):
        assert len(per_q.get(qi, [])) == 5, (qi, len(per_q.get(qi, [])))
        ranks = sorted(r["rank"] for r in per_q[qi])
        assert ranks == [1, 2, 3, 4, 5]


def test_ivf_index_reads_only_probed_cells(spark, sf_correct, tmp_path):
    """VERDICT r01 fix #3 (pruning): the executed query must touch only
    probed cells' files — no unpruned full-index rescan anywhere."""
    from hyper_spark.operators.similarity import (
        _probe,
        build_ivf_index,
        knn_with_index,
    )
    import json as js
    import re

    emb = spark.read.parquet(f"{sf_correct}/embeddings.parquet")
    path = str(tmp_path / "ivf2")
    build_ivf_index(emb, path, n_cells=8)
    centroids = np.asarray(js.load(open(f"{path}/centroids.json")))
    pdf = emb.toPandas()
    mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    queries = mat[3:5]
    _, _, all_cells = _probe(queries, centroids, n_probe=3)
    got = knn_with_index(spark, path, queries, k=5, n_probe=3)
    plan = got._jdf.queryExecution().executedPlan().toString()
    # the cell IN-list reaches the scan as a partition filter (directory
    # pruning), and ONLY that one pruned scan of the index exists — the
    # round-1 plan had a second, unpruned full-index scan for id->cell
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m, plan
    in_cells = {int(x) for x in re.findall(r"\d+", m.group(1).split("IN")[-1])}
    assert in_cells == set(all_cells), (in_cells, all_cells)
    assert plan.count("PartitionFilters") == 1
    # no unpruned scan: every file-scan node carries the partition filter
    scans = [seg for seg in plan.split("\n") if "FileScan" in seg]
    assert len(scans) == 1, scans


# --------------------------------------------------------------- knn_join


def test_knn_join_exact_matches_brute(spark, sf_correct):
    """n_probe == n_cells makes the bucketed join exact — identical
    (query, id, rank) set as the driver-side brute baseline."""
    from hyper_spark.operators.similarity import knn_join

    emb = spark.read.parquet(f"{sf_correct}/embeddings.parquet").repartition(8)
    queries = emb.filter(F.col("vec_id") < 8)
    qmat = np.stack(
        queries.orderBy("vec_id").toPandas()["embedding"].to_numpy()
    ).astype(np.float64)
    expect = {
        (r["query_id"], r["vec_id"], r["rank"])
        for r in knn_brute(emb, qmat, k=5, query_ids=list(range(8))).collect()
    }
    got = {
        (r["query_id"], r["vec_id"], r["rank"])
        for r in knn_join(
            queries, emb, k=5, n_cells=6, n_probe=6, sample=600
        ).collect()
    }
    assert got == expect


def test_knn_join_salted_identical(spark, sf_correct):
    """Salting splits hot cells across tasks without changing the answer."""
    from hyper_spark.operators.similarity import knn_join

    emb = spark.read.parquet(f"{sf_correct}/embeddings.parquet").repartition(8)
    queries = emb.filter(F.col("vec_id") < 5)
    plain = {
        (r["query_id"], r["vec_id"], r["rank"])
        for r in knn_join(queries, emb, k=4, n_cells=6, n_probe=6).collect()
    }
    salted = {
        (r["query_id"], r["vec_id"], r["rank"])
        for r in knn_join(
            queries, emb, k=4, n_cells=6, n_probe=6, n_salt=3
        ).collect()
    }
    assert salted == plain


def test_knn_join_approx_recall(spark, sf_correct):
    """Probing 6 of 8 cells keeps recall high on the driver corpus
    (these embeddings are near-uniform — the hostile case for IVF; the
    existing knn_ivf test accepts 0.6 per query at n_probe=4)."""
    from hyper_spark.operators.similarity import knn_join

    emb = spark.read.parquet(f"{sf_correct}/embeddings.parquet").repartition(8)
    queries = emb.filter(F.col("vec_id") < 20)
    exact = knn_join(queries, emb, k=10, n_cells=8, n_probe=8).collect()
    approx = knn_join(queries, emb, k=10, n_cells=8, n_probe=6).collect()
    recalls = []
    for qi in range(20):
        e = {r["vec_id"] for r in exact if r["query_id"] == qi}
        a = {r["vec_id"] for r in approx if r["query_id"] == qi}
        assert len(a) == 10  # always exactly k
        recalls.append(len(e & a) / 10)
    assert sum(recalls) / len(recalls) >= 0.85, recalls


# ------------------------------------------------------- cross-table dedup


def test_minhash_join_matches_exact_cross_pairs(spark, sf_correct):
    """Cross-corpus near-dup join finds exactly the exact-Jaccard pairs
    that straddle the two halves of the documents table."""
    from hyper_spark.operators.dedup import minhash_join_pairs

    docs = spark.read.parquet(f"{sf_correct}/documents.parquet")
    odd = docs.filter(F.col("doc_id") % 2 == 1)
    even = docs.filter(F.col("doc_id") % 2 == 0)
    got = minhash_join_pairs(odd, even, threshold=0.5)
    got_pairs = {(r["id_l"], r["id_r"]) for r in got.collect()}
    got.unpersist()
    exact = ngram_jaccard_pairs(docs, threshold=0.5).collect()
    expect = set()
    for r in exact:
        a, b = r["id_a"], r["id_b"]
        if a % 2 != b % 2:  # one odd, one even
            expect.add((a, b) if a % 2 == 1 else (b, a))
    assert got_pairs == expect
    assert expect, "fixture should contain cross-parity near-dups"


def test_decontaminate_removes_exact_and_near(spark):
    from hyper_spark.operators.dedup import decontaminate

    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    near = base.replace("lazy", "sleepy")
    train = spark.createDataFrame(
        [(1, base), (2, near), (3, "completely unrelated text about spark "
                                  "aggregation pipelines and sketches " * 5)],
        ["doc_id", "text"],
    )
    eval_df = spark.createDataFrame([(100, base)], ["doc_id", "text"])
    kept = decontaminate(train, eval_df, threshold=0.5)
    ids = sorted(r["doc_id"] for r in kept.collect())
    kept.unpersist()
    assert ids == [3]  # 1 exact copy, 2 near-dup, 3 unrelated survives


# ------------------------------------------------- substring duplication


def _substr_oracle(docs, w, mc):
    """Python oracle for windowed exact-substring duplication: window
    counts over normalized tokens, per-doc interval merge."""
    import re
    from collections import Counter

    def toks(t):
        return re.sub(r"[^a-z0-9]+", " ", t.lower()).strip().split(" ")

    cnt = Counter()
    per_doc = {}
    for i, t in docs:
        tk = toks(t)
        ws = (
            [tuple(tk[s : s + w]) for s in range(len(tk) - w + 1)]
            if len(tk) >= w
            else []
        )
        per_doc[i] = (tk, ws)
        cnt.update(ws)
    out = {}
    for i, (tk, ws) in per_doc.items():
        spans = []
        for s, win in enumerate(ws):
            if cnt[win] < mc:
                continue
            if spans and s <= spans[-1][1]:
                spans[-1][1] = max(spans[-1][1], s + w)
            else:
                spans.append([s, s + w])
        covered = set()
        for st, en in spans:
            covered.update(range(st, en))
        clean = " ".join(t for j, t in enumerate(tk) if j not in covered)
        out[i] = (len(tk), [tuple(x) for x in spans], sum(e - s for s, e in spans), clean)
    return out


@pytest.fixture(scope="module")
def substr_docs(spark):
    """Corpus with cross-doc shared runs, a within-doc repeat, a
    no-dup doc, a doc shorter than the window, and fuzzed docs that
    share random slices of a common pool (overlap/adjacency cases)."""
    rng = np.random.default_rng(7)
    pool = [f"w{k}" for k in rng.integers(0, 40, size=400)]
    boiler = "the quick brown fox jumps over the lazy dog again and again ok"
    rows = [
        (0, "alpha beta gamma " + boiler + " delta epsilon zeta eta theta"),
        (1, "one two, three four " + boiler + " five six seven eight nine"),
        (2, "totally unique text with no duplication at all whatsoever here"),
        (3, " ".join(["rep"] * 16)),
        (4, "short doc"),
    ]
    for i in range(5, 45):
        a = int(rng.integers(0, 350))
        ln = int(rng.integers(3, 30))
        rows.append((i, " ".join(pool[a : a + ln])))
    return rows, spark.createDataFrame(rows, ["doc_id", "text"])


@pytest.mark.parametrize("w,mc", [(6, 2), (4, 3)])
def test_substring_dup_spans_oracle(spark, substr_docs, w, mc):
    from hyper_spark.operators.dedup import strip_dup_spans, substring_dup_spans

    rows, df = substr_docs
    exp = _substr_oracle(rows, w, mc)
    got = {
        r["doc_id"]: r
        for r in substring_dup_spans(df, window=w, min_count=mc).collect()
    }
    assert set(got) == set(exp)
    for i, (nt, spans, dup, _clean) in exp.items():
        r = got[i]
        assert r["n_tokens"] == nt, i
        assert [tuple(x) for x in r["spans"]] == spans, i
        assert r["dup_tokens"] == dup, i
        assert r["n_spans"] == len(spans), i
        assert r["dup_frac"] == pytest.approx(dup / nt if nt else 0.0), i

    stripped = {
        r["doc_id"]: r["clean_text"]
        for r in strip_dup_spans(df, window=w, min_count=mc).collect()
    }
    for i, (_nt, _spans, _dup, clean) in exp.items():
        assert stripped[i] == clean, i


def test_substring_dup_hash_matches_content(spark, substr_docs):
    """by='hash' (xxhash64 scale path) produces the identical span set
    as the collision-free by='content' mode on a real corpus."""
    from hyper_spark.operators.dedup import substring_dup_spans

    _rows, df = substr_docs
    cols = ["doc_id", "n_tokens", "spans", "n_spans", "dup_tokens"]
    h = sorted(
        map(tuple, substring_dup_spans(df, window=6, by="hash").select(*cols).collect())
    )
    c = sorted(
        map(
            tuple,
            substring_dup_spans(df, window=6, by="content").select(*cols).collect(),
        )
    )
    assert h == c


def test_substring_dup_validations(spark, substr_docs):
    from hyper_spark.operators.dedup import substring_dup_spans

    _rows, df = substr_docs
    with pytest.raises(ValueError):
        substring_dup_spans(df, window=1)
    with pytest.raises(ValueError):
        substring_dup_spans(df, min_count=1)
    with pytest.raises(ValueError):
        substring_dup_spans(df, by="nope")


def test_embedding_pairs_kmeans_method(spark):
    """SemDeDup cluster-then-screen: on well-separated clusters every
    within-cluster near-dup pair is found (cells align with clusters),
    the result is a subset of brute (exact verification), and
    semantic_dedup(method='kmeans') keeps one survivor per dup group."""
    import numpy as np

    from hyper_spark.operators.dedup import embedding_pairs
    from hyper_spark.operators.graph import semantic_dedup

    rng = np.random.default_rng(17)
    centers = rng.normal(size=(5, 16))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    # ids INTERLEAVED across clusters: the determinism contract seeds
    # from the k smallest ids, so ids must not be correlated with
    # embedding locality (documented caveat — hash ids if they are)
    for j in range(6):  # 6 near-identical members per cluster
        for ci, c in enumerate(centers):
            v = c + rng.normal(scale=1e-3, size=16)
            rows.append((j * 5 + ci, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    brute = {
        (r["id_a"], r["id_b"])
        for r in embedding_pairs(df, threshold=0.999, method="brute").collect()
    }
    km = embedding_pairs(
        df, threshold=0.999, method="kmeans", n_cells=5, kmeans_iters=4
    )
    got = {(r["id_a"], r["id_b"]) for r in km.collect()}
    km.unpersist()
    assert got == brute and len(brute) == 5 * 15  # C(6,2) per cluster

    survivors = {
        r["vec_id"]
        for r in semantic_dedup(
            df, threshold=0.999, method="kmeans", n_cells=5, kmeans_iters=4
        ).collect()
    }
    assert survivors == {0, 1, 2, 3, 4}  # min id per cluster

    # the star cap composes: capped pairs are a subset, every id in an
    # oversized cell still reaches its representative
    capped = embedding_pairs(
        df, threshold=0.999, method="kmeans", n_cells=5,
        kmeans_iters=4, max_bucket=3,
    )
    cp = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    capped.unpersist()
    assert cp <= brute
    touched = {i for p in cp for i in p}
    assert touched == set(range(30))

"""Count-Sketch / AMS: estimate accuracy, merge algebra, turnstile
deletes, JVM-vs-pandas path parity, F2 and join-size estimation."""

from __future__ import annotations

from collections import Counter

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from hyper_spark.operators.countsketch import (
    cs_by,
    cs_estimate,
    cs_f2,
    cs_inner_product,
    cs_merge,
)


def zipf_rows(n: int, vocab: int = 60, seed: int = 11):
    import random

    rng = random.Random(seed)
    return [
        Row(item=f"item{min(vocab - 1, int(rng.random() ** 3 * vocab))}", g=i % 3)
        for i in range(n)
    ]


@pytest.mark.parametrize("hash_fn", ["md5", "xxhash64"])
def test_estimate_error_bound(spark, hash_fn):
    rows = zipf_rows(6000)
    truth = Counter(r.item for r in rows)
    df = spark.createDataFrame(rows)
    sk = cs_by(df, [], "item", depth=5, width=512, hash_fn=hash_fn)
    cands = spark.createDataFrame([Row(item=v) for v in truth])
    got = {
        r["item"]: r["est_count"]
        for r in cs_estimate(sk, cands, "item", hash_fn=hash_fn).collect()
    }
    f2 = sum(c * c for c in truth.values())
    bound = 3.0 * (f2 / 512) ** 0.5  # whp bound per median-of-rows
    for v, c in truth.items():
        assert abs(got[v] - c) <= bound, (v, got[v], c, bound)


def test_jvm_and_pandas_paths_agree(spark):
    rows = zipf_rows(3000)
    df = spark.createDataFrame(rows)
    sk = cs_by(df, [], "item", depth=5, width=256)
    cands = spark.createDataFrame(
        [Row(item=f"item{i}") for i in range(40)] + [Row(item=None)]
    )
    jvm = cs_estimate(sk, cands, "item", max_jvm_cells=1 << 17)
    pdy = cs_estimate(sk, cands, "item", max_jvm_cells=0)
    assert "BatchEvalPython" not in jvm._jdf.queryExecution().executedPlan().toString()
    a = {r["item"]: r["est_count"] for r in jvm.collect()}
    b = {r["item"]: r["est_count"] for r in pdy.collect()}
    assert a == b
    assert a[None] == 0


def test_merge_equals_direct_and_parallelism_invariance(spark):
    rows = zipf_rows(4000)
    df = spark.createDataFrame(rows)
    direct = cs_by(df, [], "item", depth=3, width=128).collect()[0]
    merged = cs_merge(cs_by(df, ["g"], "item", depth=3, width=128), []).collect()[0]
    assert bytes(direct["counters"]) == bytes(merged["counters"])
    assert direct["n"] == merged["n"]
    a = cs_by(df.repartition(2), [], "item", depth=3, width=128).collect()[0]
    b = cs_by(df.repartition(13), [], "item", depth=3, width=128).collect()[0]
    assert bytes(a["counters"]) == bytes(b["counters"])


def test_turnstile_deletes(spark):
    """Inserting with weight -1 removes items: sketch(A) + (-sketch(B))
    == sketch(A minus B) — the property min/max-based sketches lack."""
    rows = zipf_rows(2000)
    df = spark.createDataFrame(rows)
    half = df.filter(F.crc32(F.col("item")) % 2 == 0)
    pos = cs_by(df, [], "item", depth=3, width=128)
    neg = cs_by(
        half.withColumn("w", F.lit(-1)), [], "item", depth=3, width=128,
        weight="w",
    )
    folded = cs_merge(pos.unionByName(neg), []).collect()[0]
    remaining = cs_by(df.exceptAll(half), [], "item", depth=3, width=128).collect()[0]
    assert bytes(folded["counters"]) == bytes(remaining["counters"])
    assert folded["n"] == remaining["n"]


def test_f2_estimates_self_join_size(spark):
    rows = zipf_rows(6000)
    truth = Counter(r.item for r in rows)
    f2_true = sum(c * c for c in truth.values())
    df = spark.createDataFrame(rows)
    got = cs_f2(cs_by(df, [], "item", depth=5, width=1024)).collect()[0]
    assert got["n"] == 6000
    assert abs(got["f2_est"] - f2_true) <= 0.15 * f2_true


def test_grouped_f2(spark):
    rows = zipf_rows(6000)
    df = spark.createDataFrame(rows)
    got = {r["g"]: r["f2_est"] for r in cs_f2(cs_by(df, ["g"], "item", 5, 1024), ["g"]).collect()}
    for g in (0, 1, 2):
        truth = Counter(r.item for r in rows if r.g == g)
        f2_true = sum(c * c for c in truth.values())
        assert abs(got[g] - f2_true) <= 0.2 * f2_true


def test_inner_product_estimates_join_size(spark):
    left_rows = zipf_rows(5000, seed=1)
    right_rows = zipf_rows(3000, seed=2)
    lt = Counter(r.item for r in left_rows)
    rt = Counter(r.item for r in right_rows)
    true_join = sum(lt[v] * rt.get(v, 0) for v in lt)
    ldf = spark.createDataFrame(left_rows)
    rdf = spark.createDataFrame(right_rows)
    lsk = cs_by(ldf, [], "item", depth=5, width=1024)
    rsk = cs_by(rdf, [], "item", depth=5, width=1024)
    got = cs_inner_product(lsk, rsk).collect()[0]
    assert got["n_l"] == 5000 and got["n_r"] == 3000
    f2l = sum(c * c for c in lt.values())
    f2r = sum(c * c for c in rt.values())
    bound = 4.0 * (f2l * f2r / 1024) ** 0.5
    assert abs(got["inner_product"] - true_join) <= bound


def test_mismatch_guards(spark):
    df = spark.createDataFrame(zipf_rows(200))
    a = cs_by(df, [], "item", depth=3, width=128)
    b = cs_by(df, [], "item", depth=3, width=256)
    c = cs_by(df, [], "item", depth=3, width=128, hash_fn="md5")
    with pytest.raises(Exception):
        cs_inner_product(a, b).collect()
    with pytest.raises(Exception):
        cs_inner_product(a, c).collect()
    with pytest.raises(Exception):
        cs_merge(a.unionByName(c), []).collect()
    with pytest.raises(ValueError):
        cs_estimate(a, df, "item", hash_fn="md5")


def test_build_plan_is_jvm_until_densify(spark):
    """The per-row hot path (bucket+sign+explode+partial agg) contains
    no Python; the only Python stage is the streamed per-group densify
    (one ``MapInArrow`` that hands each group to pandas), which sits
    above the JVM aggregate."""
    df = spark.createDataFrame(zipf_rows(500))
    plan = cs_by(df, ["g"], "item")._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan and "MapInPandas" not in plan
    assert plan.count("MapInArrow") == 1
    # executedPlan renders the root first: the aggregate is below it
    assert plan.index("MapInArrow") < plan.index("HashAggregate")

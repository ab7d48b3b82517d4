"""Checkpoint levels as single Spark queries, and the one map-side
register-partial builder (operators/hll_agg.py::_register_partials)
that checkpoint level 0 and ``sketch_by(strategy="partial")`` share:
jobs per build, observed level row counts, lineage, exact bigint keys
beside a NULL key, and the ``fanout`` guard."""

from __future__ import annotations

import glob
import json
import os
import uuid

import pytest
from pyspark.sql import functions as F

from hyper_spark.operators.hll_agg import sketch_by
from hyper_spark.plans.merge import checkpointed_sketch_build, lineage_table

BIG = [2**53 + 1, 2**53 + 2, 2**60 + 1, 2**60 + 2]


def _jobs(spark, fn):
    """Run ``fn`` under a fresh job group; return its result and the
    number of Spark jobs it launched."""
    sc = spark.sparkContext
    group = f"ckpt-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job-start events reach the status tracker through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def big_keys(spark):
    """Bigint keys above 2^53 beside a NULL key, all in one partition
    and so in one Arrow batch."""
    rows = [(k, f"v{i}") for i in range(50) for k in BIG + [None]]
    return spark.createDataFrame(rows, "k long, v string").coalesce(1)


def _blobs(df, keys):
    return {tuple(r[k] for k in keys): bytes(r["registers"]) for r in df.collect()}


@pytest.mark.parametrize("keys,col", [(["k"], "v"), ([], "k")], ids=["keyed", "global"])
def test_bigint_keys_beside_null_stay_exact(spark, big_keys, tmp_path, keys, col):
    want = _blobs(sketch_by(big_keys, keys, col, p=10), keys)
    if keys:
        assert set(want) == {(k,) for k in BIG + [None]}
    partial = _blobs(sketch_by(big_keys, keys, col, p=10, strategy="partial"), keys)
    built = _blobs(
        checkpointed_sketch_build(
            spark, big_keys, keys, col, str(tmp_path / "ck"), p=10, num_salts=4, fanout=4
        ),
        keys,
    )
    assert partial == want
    assert built == want


def test_one_job_per_level_write_and_none_on_resume(spark, tmp_path):
    n = 20_000
    df = spark.range(0, n, 1, 4).select(
        (F.col("id") % 7).alias("g"), (F.col("id") * 31 % 5000).alias("v")
    )
    ckpt = str(tmp_path / "ck")

    def build():
        return checkpointed_sketch_build(spark, df, ["g"], "v", ckpt, p=12, num_salts=8, fanout=4)

    fresh, jobs = _jobs(spark, build)
    # 8 salts, fanout 4: levels 0, 1 (→2), 2 (→1). Under AQE level 0 is
    # one write job and each merge level a shuffle-map job plus its write
    assert jobs == 5
    resumed, jobs = _jobs(spark, build)
    assert jobs == 0
    assert _blobs(resumed, ["g"]) == _blobs(fresh, ["g"]) == _blobs(sketch_by(df, ["g"], "v", 12), ["g"])

    metrics = sorted(glob.glob(os.path.join(ckpt, "metrics_*.json")))
    assert len(metrics) == 3
    for path in metrics:
        with open(path) as f:
            m = json.load(f)
        assert m["rows"] == spark.read.parquet(m["path"]).count() > 0

    lin = lineage_table(spark, ckpt)
    pids = {r[0] for r in df.select(F.spark_partition_id()).distinct().collect()}
    assert {r[0] for r in lin.select("partition_id").distinct().collect()} == pids
    assert lin.agg(F.sum("rows_in")).collect()[0][0] == n


@pytest.mark.parametrize("fanout", [1, 0, -3])
def test_fanout_below_two_raises(spark, tmp_path, fanout):
    df = spark.range(10).select(F.col("id").alias("v"))
    ckpt = tmp_path / "ck"
    with pytest.raises(ValueError, match="fanout"):
        checkpointed_sketch_build(spark, df, [], "v", str(ckpt), fanout=fanout)
    assert not ckpt.exists()

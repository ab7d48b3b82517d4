"""plan_report / assert_plan (plans/report.py): plan introspection as
a public API, checked against plans whose shapes are known."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hyper_spark.plans.report import assert_plan, plan_report


def test_scan_pruning_and_pushdown_visible(spark, sf_correct):
    events = spark.read.parquet(f"{sf_correct}/events.parquet")
    df = events.filter(F.col("user_id") > 100).select("user_id", "event_type")
    rep = plan_report(df)
    assert len(rep["scans"]) == 1
    assert sorted(rep["scans"][0]["columns"]) == ["event_type", "user_id"]
    assert "GreaterThan(user_id,100" in rep["scans"][0]["pushed_filters"]
    assert rep["python_stages"] == []
    assert rep["n_exchanges"] == 0
    # guard form
    assert_plan(df, max_exchanges=0, no_python=True,
                scan_columns_at_most=2, require_pushed_filters=True)


def test_exchange_and_join_counting(spark, sf_correct):
    orders = spark.read.parquet(f"{sf_correct}/orders.parquet")
    customer = spark.read.parquet(f"{sf_correct}/customer.parquet")
    joined = orders.join(
        F.broadcast(customer),
        orders["o_custkey"] == customer["c_custkey"],
    )
    rep = plan_report(joined)
    assert rep["joins"] == ["BroadcastHashJoin"]
    assert rep["n_broadcast_exchanges"] == 1
    agg = orders.groupBy("o_custkey").count()
    rep2 = plan_report(agg)
    assert rep2["n_exchanges"] >= 1
    with pytest.raises(AssertionError, match="shuffles"):
        assert_plan(agg, max_exchanges=0)


def test_python_stage_detection(spark, sf_correct):
    from hyper_spark.operators.theta_agg import theta_by

    events = spark.read.parquet(f"{sf_correct}/events.parquet")
    rep = plan_report(theta_by(events, [], "user_id", k=256))
    assert "MapInArrow" in rep["python_stages"]
    with pytest.raises(AssertionError, match="Python stages"):
        assert_plan(theta_by(events, [], "user_id", k=256), no_python=True)


def test_wholestage_codegen_spans_counted(spark, sf_correct):
    # AQE renders codegen spans only in the FINAL plan (the documented
    # caveat): run the action first, then report
    lineitem = spark.read.parquet(f"{sf_correct}/lineitem.parquet")
    df = lineitem.groupBy("l_returnflag").agg(F.sum("l_quantity"))
    assert plan_report(df)["n_wholestage_codegen"] == 0  # pre-execution
    df.collect()
    assert plan_report(df)["n_wholestage_codegen"] >= 2  # map + reduce side

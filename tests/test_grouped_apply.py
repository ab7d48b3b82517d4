"""The shared grouped reduce step (operators/util.py::grouped_apply):
every sketch family's per-group merge/densify/evaluate runs as one
streamed ``mapInArrow``, keyed or global, with the shuffle count the
per-group ``applyInPandas`` plans had; groups that straddle Arrow
batches, NULL keys, one-group partitions and empty input give the same
bytes as the default batch size; and a group's pandas dtypes are the
ones ``applyInPandas`` gives it, whatever shares its Arrow batch."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from hyper_spark.operators import (
    bloom_by,
    cms_by,
    cms_merge,
    cs_by,
    cs_merge,
    fd_merge,
    fd_sketch_by,
    gram_by,
    gram_merge,
    kll_by,
    req_by,
    sketch_by,
    sketch_quantiles,
    sketch_ranks,
    tdigest_by,
    theta_by,
    theta_union,
    union_sketches,
)
from hyper_spark.operators.graph import hyperball
from hyper_spark.operators.skipping import build_file_index
from hyper_spark.operators.sliding_hll import (
    sliding_estimates,
    sliding_register_table,
)
from hyper_spark.operators.util import grouped_apply
from hyper_spark.plans.report import plan_report

BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"


@pytest.fixture(scope="module")
def rows_df(spark):
    rows = [
        (i % 5, i % 3, float(i), f"u{i % 37}", [float(i % 7), 1.0, float(i % 2)],
         f"2024-01-0{1 + i % 3} 0{i % 9}:00:00")
        for i in range(300)
    ]
    df = spark.createDataFrame(
        rows, "g long, h long, x double, v string, vec array<double>, ts string"
    )
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def _frozen(df):
    """The same rows with no partitioning history, so a merge's plan is
    measured on its own."""
    return df.sparkSession.createDataFrame(df.collect(), df.schema)


# (operator, call, exchanges of that single call's plan under per-group
# applyInPandas, keyed / global). The state tables a merge reads are
# built on ["g", "h"] and frozen first.
CALLS = [
    ("sketch_by_explode", lambda d, k: sketch_by(d, k, "v", p=10), 2, 2),
    ("sketch_by_partial",
     lambda d, k: sketch_by(d, k, "v", p=10, strategy="partial"), 1, 1),
    ("union_sketches",
     lambda d, k: union_sketches(_frozen(sketch_by(d, ["g", "h"], "v", p=10)), k),
     1, 1),
    ("cms_by", lambda d, k: cms_by(d, k, "v", depth=3, width=64), 2, 2),
    ("cms_merge",
     lambda d, k: cms_merge(_frozen(cms_by(d, ["g", "h"], "v", depth=3, width=64)), k),
     1, 1),
    ("cs_by", lambda d, k: cs_by(d, k, "v", depth=3, width=64), 2, 2),
    ("cs_merge",
     lambda d, k: cs_merge(_frozen(cs_by(d, ["g", "h"], "v", depth=3, width=64)), k),
     1, 1),
    ("theta_by", lambda d, k: theta_by(d, k, "v", k=64), 1, 1),
    ("theta_union",
     lambda d, k: theta_union(_frozen(theta_by(d, ["g", "h"], "v", k=64)), k),
     1, 1),
    ("kll_by", lambda d, k: kll_by(d, k, "x"), 1, 1),
    ("sketch_quantiles",
     lambda d, k: sketch_quantiles(_frozen(kll_by(d, ["g", "h"], "x")), [0.5], k),
     1, 1),
    ("sketch_ranks",
     lambda d, k: sketch_ranks(_frozen(kll_by(d, ["g", "h"], "x")), [10.0], k),
     1, 1),
    ("fd_sketch_by", lambda d, k: fd_sketch_by(d, k, "vec", ell=2, dim=3), 1, 1),
    ("fd_merge",
     lambda d, k: fd_merge(_frozen(fd_sketch_by(d, ["g", "h"], "vec", ell=2, dim=3)), k),
     1, 1),
    ("gram_by", lambda d, k: gram_by(d, k, "vec", dim=3), 1, 1),
    ("gram_merge",
     lambda d, k: gram_merge(_frozen(gram_by(d, ["g", "h"], "vec", dim=3)), k),
     1, 1),
    ("bloom_by", lambda d, k: bloom_by(d, k, "v", m_bits=256, k=3), 4, 3),
    ("sliding_estimates",
     lambda d, k: sliding_estimates(
         _frozen(sliding_register_table(d, "ts", k, "v", p=8)), k,
         "2024-01-04 00:00:00", {"1d": "1 day"}, p=8),
     2, 2),
]


# builders whose map-side combine is the Arrow-native keyed_partials
ARROW_BUILDS = {c[1] for c in CALLS if c[0] in ("kll_by", "theta_by", "fd_sketch_by", "gram_by")}


@pytest.mark.parametrize("keyed", [True, False], ids=["keyed", "global"])
@pytest.mark.parametrize(
    "call,exchanges_keyed,exchanges_global",
    [c[1:] for c in CALLS],
    ids=[c[0] for c in CALLS],
)
def test_plan_streams_groups(rows_df, call, exchanges_keyed, exchanges_global, keyed):
    rep = plan_report(call(rows_df, ["g"] if keyed else []))
    assert "FlatMapGroupsInPandas" not in rep["python_stages"]
    assert "MapInArrow" in rep["python_stages"]
    assert rep["n_exchanges"] == (exchanges_keyed if keyed else exchanges_global)
    if call in ARROW_BUILDS:
        assert "MapInPandas" not in rep["python_stages"]


def test_plan_streams_groups_graph_and_skipping(spark, tmp_path):
    edges = spark.createDataFrame(
        [(i, (i * 7 + 1) % 20) for i in range(20)], "id_a long, id_b long"
    )
    rep = plan_report(hyperball(edges, p=6, max_hops=1))
    assert "FlatMapGroupsInPandas" not in rep["python_stages"]
    assert rep["n_exchanges"] == 2
    path = str(tmp_path / "t")
    spark.range(300).select(F.concat(F.lit("u"), F.col("id").cast("string")).alias("v")) \
        .repartition(3).write.parquet(path)
    rep = plan_report(build_file_index(spark.read.parquet(path), "v", m_bits=256, k=3))
    assert "FlatMapGroupsInPandas" not in rep["python_stages"]
    assert "MapInPandas" not in rep["python_stages"]
    assert rep["n_exchanges"] == 2


# ---- groups straddling Arrow batches


@pytest.fixture
def set_conf(spark):
    """A session conf setter; the test's end restores every value it
    changed."""
    old = {}

    def set_(key, value):
        old.setdefault(key, spark.conf.get(key, None))
        spark.conf.set(key, str(value))

    yield set_
    for key, value in old.items():
        if value is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, value)


@pytest.fixture(scope="module")
def edge_df(spark):
    """A NULL group, a group of many rows, a few small groups; and a
    one-key copy whose single group fills every partition it lands in."""
    rows = [(None if i % 7 == 0 else ("big" if i % 2 else f"s{i % 5}"), i % 4,
             f"v{i % 53}", float(i % 97)) for i in range(400)]
    mixed = spark.createDataFrame(rows, "g string, h long, v string, x double")
    return {
        "mixed": mixed,
        "one_group": mixed.withColumn("g", F.lit("only")),
        "empty": mixed.limit(0),
    }


def _sorted_rows(df, keys):
    rows = [r.asDict() for r in df.collect()]
    return sorted(rows, key=lambda r: tuple((r[k] is None, r[k] or "") for k in keys))


@pytest.mark.parametrize("data", ["mixed", "one_group", "empty"])
@pytest.mark.parametrize("shape", ["keyed", "global"])
def test_straddling_batches_match_default(edge_df, set_conf, data, shape):
    df = edge_df[data]
    states = {
        "hll": _frozen(sketch_by(df, ["g", "h"], "v", p=8)),
        "theta": _frozen(theta_by(df, ["g", "h"], "v", k=32)),
        "cms": _frozen(cms_by(df, ["g", "h"], "v", depth=3, width=32)),
    }
    keys = [] if shape == "global" else ["g"]

    def run():
        calls = {
            "union_sketches": union_sketches(states["hll"], keys),
            "theta_union": theta_union(states["theta"], keys),
            "cms_merge": cms_merge(states["cms"], keys),
            # k above the row count keeps KLL exact, so the build's own
            # batch boundaries cannot move a quantile; a group split or
            # merged wrongly by the grouped steps still would
            "kll_by+sketch_quantiles": sketch_quantiles(
                kll_by(df, keys, "x", k=1000), [0.1, 0.5, 0.9], keys
            ),
        }
        return {name: _sorted_rows(res, keys) for name, res in calls.items()}

    default = run()
    set_conf(BATCH_CONF, 3)
    tiny = run()
    assert tiny == default
    n_groups = len({r["g"] for r in df.select("g").distinct().collect()})
    expect = min(n_groups, 1) if shape == "global" else n_groups
    for name, rows in default.items():
        assert len(rows) == expect, name
    if data == "mixed" and shape == "keyed":
        assert any(r["g"] is None for r in default["union_sketches"])


# ---- per-group pandas dtypes

# float64 rounds 2^53+1 to 2^53 and merges 2^60+1 with 2^60+2
BIG_KEYS = [2**53 + 1, 2**53 + 2, 2**60 + 1, 2**60 + 2]


@pytest.fixture
def one_partition(set_conf):
    """Every group in one partition and groups straddling 3-row Arrow
    batches, so the NULL-key group shares a batch with bigint keys."""
    set_conf("spark.sql.shuffle.partitions", 1)
    set_conf(BATCH_CONF, 3)


def test_group_dtypes_match_apply_in_pandas(spark, one_partition):
    # batches [NULL, k0, k1] [k1, k2, k3] [k3]: the NULL group and k0
    # finish in one batch; k1 holds the only NULL x
    sizes = [1, 2, 1, 2]
    rows = [(None, 1)] + [
        (g, None if (g, i) == (BIG_KEYS[1], 0) else i)
        for g, n in zip(BIG_KEYS, sizes) for i in range(n)
    ]
    df = spark.createDataFrame(rows, "g bigint, x bigint")

    def describe(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({
            "g": [pdf["g"].iloc[0]],
            "dtypes": [f"{pdf['g'].dtype}/{pdf['x'].dtype}"],
            "n": [len(pdf)],
        })

    fields = [StructField("dtypes", StringType()), StructField("n", LongType())]
    got = grouped_apply(df, ["g"], describe, fields)
    want = df.groupBy("g").applyInPandas(
        describe, StructType([df.schema["g"]] + fields)
    )
    got, want = _sorted_rows(got, ["g"]), _sorted_rows(want, ["g"])
    assert got == want
    assert [(r["g"], r["n"]) for r in got] == list(zip(BIG_KEYS, sizes)) + [(None, 1)]
    assert [r["dtypes"] for r in got] == [
        "int64/int64", "int64/float64", "int64/int64", "int64/int64", "float64/int64"
    ]


BUILD = {
    "union_sketches": lambda d, keys: sketch_by(d, keys, "v", p=8),
    "theta_union": lambda d, keys: theta_by(d, keys, "v", k=32),
    "cms_merge": lambda d, keys: cms_by(d, keys, "v", depth=3, width=32),
    "sketch_quantiles": lambda d, keys: kll_by(d, keys, "x", k=1000),
}
STEP = {
    "union_sketches": union_sketches,
    "theta_union": theta_union,
    "cms_merge": cms_merge,
    "sketch_quantiles": lambda s, keys: sketch_quantiles(s, [0.1, 0.5, 0.9], keys),
}


def _by_key(df):
    return {
        None if r["g"] is None else int(r["g"]): {k: v for k, v in r.asDict().items() if k != "g"}
        for r in df.collect()
    }


@pytest.mark.parametrize("family", list(STEP))
def test_bigint_keys_beside_null_key_stay_exact(spark, one_partition, family):
    # (g, h) states per g: 1, 1, 2, 3, 2, so the first 3-row batch
    # finishes the NULL group and 2^53+1 together
    rows = [
        (g, i % n_h, f"v{(i * 7 + j) % 41}", float(i * 5 + j))
        for j, (g, n_h) in enumerate(zip([None] + BIG_KEYS, [1, 1, 2, 3, 2]))
        for i in range(12)
    ]
    df = spark.createDataFrame(rows, "g bigint, h long, v string, x double")
    # string keys convert to pandas losslessly: they give exact states
    # and the reference results
    as_text = F.col("g").cast("string")
    state = BUILD[family](df.withColumn("g", as_text), ["g", "h"])
    state = _frozen(state.withColumn("g", F.col("g").cast("bigint")))
    got = _by_key(STEP[family](state, ["g"]))
    assert sorted(got, key=lambda g: (g is None, g or 0)) == BIG_KEYS + [None]
    assert got == _by_key(STEP[family](state.withColumn("g", as_text), ["g"]))


BUILDERS = {
    "kll_by": lambda d, keys: kll_by(d, keys, "x", k=1000),
    "tdigest_by": lambda d, keys: tdigest_by(d, keys, "x"),
    "req_by": lambda d, keys: req_by(d, keys, "x"),
    "theta_by": lambda d, keys: theta_by(d, keys, "v", k=32),
    "fd_sketch_by": lambda d, keys: fd_sketch_by(d, keys, "vec", ell=2, dim=3),
    "gram_by": lambda d, keys: gram_by(d, keys, "vec", dim=3),
}


@pytest.mark.parametrize("keyed", [True, False], ids=["keyed", "global"])
@pytest.mark.parametrize("family", list(BUILDERS))
def test_bigint_keys_beside_null_key_build_exact(spark, one_partition, family, keyed):
    # one partition of 3-row batches [NULL, k0, k1] [NULL, k2, k3]:
    # in pandas the NULL turns each batch's keys float64, rounding
    # 2^53+1 and merging 2^60+1 with 2^60+2
    rows = [
        (g, float(i * 6 + j), f"v{(i * 6 + j) % 5}", [float(i), 1.0, float(j)])
        for i in range(4)
        for j, g in enumerate([None, *BIG_KEYS[:2], None, *BIG_KEYS[2:]])
    ]
    df = spark.createDataFrame(
        rows, "g bigint, x double, v string, vec array<double>"
    ).coalesce(1)
    if not keyed:
        got = BUILDERS[family](df, []).collect()
        assert len(got) == 1
        size = got[0]["n_entries"] if family == "theta_by" else got[0]["n"]
        assert size == (5 if family == "theta_by" else len(rows))
        return
    got = _by_key(BUILDERS[family](df, ["g"]))
    assert sorted(got, key=lambda g: (g is None, g or 0)) == BIG_KEYS + [None]
    # string keys never round: the same rows keyed by text give the
    # reference states
    as_text = BUILDERS[family](df.withColumn("g", F.col("g").cast("string")), ["g"])
    assert got == _by_key(as_text.withColumn("g", F.col("g").cast("bigint")))

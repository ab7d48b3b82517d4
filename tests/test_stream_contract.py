"""The checkpoint contract of the stateful streaming sketches.

A streaming query restarts on its stored state only if the stateful
operator keeps its grouping columns, state schema, output mode and
timeout conf. For each operator built on
``streaming/stateful.py::stateful_fold`` these are read from the
analyzed ``FlatMapGroupsInPandasWithState`` node on a ``rate`` stream
(no query is started) and pinned to the values the operators had
before they shared one core. The output fields are pinned too, with the
quantile probe names.

The five operators that kept their own ``applyInPandasWithState`` call
longest (sessionize, transitions in both state layouts, dedup in both
state modes) are pinned the same way, except that their output is the
fields of the DataFrame they return: the node may carry a grouping
column the operator projects away, or name its key column before a
rename. A last test keeps ``stateful_fold`` the library's only
``applyInPandasWithState`` call.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from hyper_spark.streaming import (
    streaming_cms_by,
    streaming_dedup,
    streaming_quantiles_by,
    streaming_sessionize,
    streaming_sketch_by,
    streaming_sliding_theta_entries,
    streaming_sliding_tuple_entries,
    streaming_theta_by,
    streaming_transitions,
    streaming_windowed_quantiles,
    streaming_windowed_sketch_by,
    streaming_windowed_topk,
)

_G = [("g", "string")]
_WIN = _G + [("window_start", "timestamp"), ("window_end", "timestamp")]
_KMIN = _G + [("__ws", "timestamp"), ("__we", "timestamp")]
_KMIN_OUT = ["g string", "bucket_ts timestamp", "h bigint", "summary double",
             "k int", "hash_fn string"]

# operator → (build, grouping, output fields, state fields, mode, timeout)
CONTRACT = {
    "streaming_sketch_by": (
        lambda s: streaming_sketch_by(s, ["g"], "v", p=10),
        _G, ["g string", "p int", "registers binary", "estimate double"],
        ["registers binary"], "Update", "NoTimeout",
    ),
    "streaming_windowed_sketch_by": (
        lambda s: streaming_windowed_sketch_by(s, "ts", ["g"], "v", p=10),
        _WIN,
        ["g string", "window_start timestamp", "window_end timestamp", "p int",
         "registers binary", "estimate double", "final boolean"],
        ["registers binary"], "Update", "EventTimeTimeout",
    ),
    "streaming_theta_by": (
        lambda s: streaming_theta_by(s, ["g"], "v", k=64),
        _G,
        ["g string", "k int", "n_entries int", "entries binary", "hash_fn string",
         "estimate double"],
        ["entries binary"], "Update", "NoTimeout",
    ),
    "streaming_cms_by": (
        lambda s: streaming_cms_by(s, ["g"], "v"),
        _G,
        ["g string", "depth int", "width int", "n bigint", "counters binary",
         "hash_fn string"],
        ["n bigint", "counters binary"], "Update", "NoTimeout",
    ),
    "streaming_quantiles_by": (
        lambda s: streaming_quantiles_by(s, ["g"], "v", [0.5, 0.999]),
        _G, ["g string", "n bigint", "q_0500 double", "q_0999 double"],
        ["state binary"], "Update", "NoTimeout",
    ),
    "streaming_windowed_quantiles": (
        lambda s: streaming_windowed_quantiles(s, "ts", ["g"], "v", [0.5]),
        _WIN,
        ["g string", "window_start timestamp", "window_end timestamp", "n bigint",
         "q_0500 double"],
        ["state binary"], "Append", "EventTimeTimeout",
    ),
    "streaming_windowed_topk": (
        lambda s: streaming_windowed_topk(s, "ts", ["g"], "v", k=3),
        _WIN,
        ["g string", "window_start timestamp", "window_end timestamp",
         "value string", "est_count bigint", "err_bound bigint", "rank int"],
        ["vals array<string>", "counts array<bigint>", "errs array<bigint>"],
        "Append", "EventTimeTimeout",
    ),
    "streaming_sliding_tuple_entries": (
        lambda s: streaming_sliding_tuple_entries(s, "ts", ["g"], "v", "v", k=16),
        _KMIN, _KMIN_OUT, ["entries binary"], "Append", "EventTimeTimeout",
    ),
    "streaming_sliding_theta_entries": (
        lambda s: streaming_sliding_theta_entries(s, "ts", ["g"], "v", k=16),
        _KMIN, _KMIN_OUT, ["entries binary"], "Append", "EventTimeTimeout",
    ),
}

_PAIRS = ["g string", "from_state string", "to_state string", "n bigint"]
_EXACT = ["orders array<double>", "states array<string>", "last_ts double"]

# operator → (build, grouping, returned fields, state fields, mode, timeout)
FOLDED = {
    "streaming_sessionize": (
        lambda s: streaming_sessionize(s, ["g"], "ts", gap=60.0),
        _G,
        ["g string", "session_start timestamp", "session_end timestamp",
         "n_events bigint"],
        ["starts array<double>", "lasts array<double>", "counts array<bigint>"],
        "Append", "EventTimeTimeout",
    ),
    "streaming_transitions": (
        lambda s: streaming_transitions(s, "g", "ts", "v", "g"),
        [("__k", "string")], _PAIRS, _EXACT, "Append", "EventTimeTimeout",
    ),
    "streaming_transitions_max_buffer": (
        lambda s: streaming_transitions(s, "g", "ts", "v", "g", max_buffer=8),
        [("__k", "string")], _PAIRS,
        _EXACT + ["ffrom array<string>", "fto array<string>", "fn array<bigint>",
                  "folded_last string", "first_state string", "has_folded boolean",
                  "fmax_order double"],
        "Append", "EventTimeTimeout",
    ),
    "streaming_dedup": (
        lambda s: streaming_dedup(s, "g", "v"),
        [("fingerprint", "string")], ["fingerprint string", "v bigint"],
        ["seen boolean"], "Append", "NoTimeout",
    ),
    "streaming_dedup_bloom": (
        lambda s: streaming_dedup(s, "g", "v", state="bloom", n_shards=4),
        [("shard", "bigint")], ["fingerprint string", "v bigint"],
        ["bits binary", "n bigint"], "Append", "NoTimeout",
    ),
}


@pytest.fixture(scope="module")
def rate(spark):
    return (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .select(
            F.col("timestamp").alias("ts"),
            (F.col("value") % 3).cast("string").alias("g"),
            F.col("value").alias("v"),
        )
    )


def _stateful_node(df):
    todo = [df._jdf.queryExecution().analyzed()]
    while todo:
        node = todo.pop()
        if node.nodeName() == "FlatMapGroupsInPandasWithState":
            return node
        it = node.children().iterator()
        while it.hasNext():
            todo.append(it.next())
    raise AssertionError("no FlatMapGroupsInPandasWithState node")


def _attrs(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _ddl_json(df, ddl_type):
    """The JSON of a DDL type as Spark parses it (array elements
    nullable): a state field's exact type, element nullability included."""
    jvm = df.sparkSession._jvm
    return jvm.org.apache.spark.sql.types.DataType.fromDDL(ddl_type).json()


@pytest.mark.parametrize("name", sorted(CONTRACT))
def test_stateful_node_contract(rate, name):
    build, grouping, output, state, mode, timeout = CONTRACT[name]
    node = _stateful_node(build(rate))
    assert [
        (a.name(), a.dataType().simpleString())
        for a in _attrs(node.groupingAttributes())
    ] == grouping
    # every output field is nullable, as a DDL output schema declares it
    assert [
        (f"{a.name()} {a.dataType().simpleString()}", a.nullable())
        for a in _attrs(node.output())
    ] == [(f, True) for f in output]
    fields = node.stateType().fields()
    assert [
        (f"{f.name()} {f.dataType().simpleString()}", f.nullable(), f.dataType().json())
        for f in fields
    ] == [
        (f, True, _ddl_json(rate, f.split(" ", 1)[1])) for f in state
    ]
    assert node.outputMode().toString() == mode
    assert node.timeout().toString() == timeout


@pytest.mark.parametrize("name", sorted(FOLDED))
def test_folded_node_contract(rate, name):
    build, grouping, returned, state, mode, timeout = FOLDED[name]
    out = build(rate)
    node = _stateful_node(out)
    assert [
        (a.name(), a.dataType().simpleString())
        for a in _attrs(node.groupingAttributes())
    ] == grouping
    assert [f"{f.name} {f.dataType.simpleString()}" for f in out.schema] == returned
    assert [
        (f"{f.name()} {f.dataType().simpleString()}", f.nullable(), f.dataType().json())
        for f in node.stateType().fields()
    ] == [
        (f, True, _ddl_json(rate, f.split(" ", 1)[1])) for f in state
    ]
    assert node.outputMode().toString() == mode
    assert node.timeout().toString() == timeout


def test_only_the_core_calls_apply_in_pandas_with_state():
    """Every stateful stream operator folds through
    ``streaming/stateful.py::stateful_fold``: no other library module
    names ``applyInPandasWithState``."""
    root = Path(__file__).resolve().parents[1] / "hyper_spark"
    callers = sorted(
        str(path.relative_to(root))
        for path in root.rglob("*.py")
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Attribute) and node.attr == "applyInPandasWithState"
    )
    assert set(callers) == {"streaming/stateful.py"}, callers


def test_stream_quantile_names_and_checks(rate):
    """Probe names follow the batch ``sketch_quantiles`` rule (extra
    digits for probes finer than 3 decimals); duplicate probes and an
    unknown method raise before any query starts."""
    by = streaming_quantiles_by(rate, ["g"], "v", [0.999, 0.9999])
    assert by.columns == ["g", "n", "q_0999", "q_09999"]
    win = streaming_windowed_quantiles(rate, "ts", ["g"], "v", [0.999, 0.9999])
    assert win.columns == ["g", "window_start", "window_end", "n", "q_0999", "q_09999"]
    with pytest.raises(ValueError, match="duplicate quantile probes"):
        streaming_quantiles_by(rate, ["g"], "v", [0.5, 0.5])
    with pytest.raises(ValueError, match="duplicate quantile probes"):
        streaming_windowed_quantiles(rate, "ts", ["g"], "v", [0.5, 0.5])
    with pytest.raises(ValueError, match="unknown quantile method"):
        streaming_quantiles_by(rate, ["g"], "v", [0.5], method="bogus")
    with pytest.raises(ValueError, match="unknown quantile method"):
        streaming_windowed_quantiles(rate, "ts", ["g"], "v", [0.5], method="bogus")

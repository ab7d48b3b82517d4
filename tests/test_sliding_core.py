"""The shared sliding-state core (operators/sliding.py): plan shapes of
every public sliding build, merge, coarsen and reader, no Spark job
before a reader's action, NULL-key groups, empty ``windows`` and NULL
timestamps."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hyper_spark.operators import sliding as core
from hyper_spark.operators.sliding_cms import (
    sliding_cms_coarsen,
    sliding_cms_merge,
    sliding_cms_table,
    sliding_cms_topk,
)
from hyper_spark.operators.sliding_dd import (
    sliding_dd_coarsen,
    sliding_dd_drift,
    sliding_dd_merge,
    sliding_dd_quantiles,
    sliding_dd_table,
)
from hyper_spark.operators.sliding_hll import (
    sliding_coarsen,
    sliding_estimates,
    sliding_merge,
    sliding_register_table,
)
from hyper_spark.operators.sliding_moments import (
    sliding_moments_coarsen,
    sliding_moments_merge,
    sliding_moments_quantiles,
    sliding_moments_stats,
    sliding_moments_table,
)
from hyper_spark.operators.sliding_theta import (
    sliding_theta_coarsen,
    sliding_theta_estimates,
    sliding_theta_merge,
    sliding_theta_overlap,
    sliding_theta_table,
)
from hyper_spark.operators.sliding_tuple import (
    sliding_tuple_coarsen,
    sliding_tuple_estimates,
    sliding_tuple_merge,
    sliding_tuple_table,
)
from hyper_spark.plans.report import plan_report
from hyper_spark.streaming.dd_stream import streaming_windowed_dd_by
from hyper_spark.streaming.sliding_cms_stream import streaming_sliding_cms_cells
from hyper_spark.streaming.sliding_hll_stream import (
    streaming_sliding_register_by,
)
from hyper_spark.streaming.sliding_moments_stream import (
    streaming_sliding_moments,
)

T_REF = "2024-01-11 00:00:00"
WIN = {"1d": "1 day", "3d": "3 days", "7d": "7 days"}
RANGE_A = ("2024-01-01 00:00:00", "2024-01-05 00:00:00")
RANGE_B = ("2024-01-04 00:00:00", "2024-01-11 00:00:00")
CUT, COARSE = "2024-01-08 00:00:00", "10 days"


def _raw(spark, groups=("a", "b")):
    rows = [
        (
            f"2024-01-{d + 1:02d} {h:02d}:00:00",
            g,
            f"u{(d * 7 + h) % 13}",
            float((d * 31 + h) % 17) + 0.5,
        )
        for d in range(10)
        for h in range(0, 24, 6)
        for g in groups
    ]
    return spark.createDataFrame(
        rows, "ts string, g string, u string, v double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def _local(spark, df):
    return spark.createDataFrame(df.collect(), df.schema)


def _states(spark, df, keys):
    """Small built states as local relations, so a pinned plan shape
    is the operator's own."""
    cells, cands = sliding_cms_table(
        df, "ts", keys, "u", grain="1 day", depth=3, width=64, k=4
    )
    return {
        "hll": sliding_register_table(df, "ts", keys, "u", p=8, grain="1 day"),
        "cells": cells,
        "cands": cands,
        "theta": sliding_theta_table(df, "ts", keys, "u", k=8, grain="1 day"),
        "dd": sliding_dd_table(df, "ts", keys, "v", grain="1 day"),
        "moments": sliding_moments_table(df, "ts", keys, "v", k=4, grain="1 day"),
        "tuple": sliding_tuple_table(df, "ts", keys, "u", "v", k=8, grain="1 day"),
    }


def _readers(s, keys, windows=WIN):
    """Every public sliding reader over the states ``s``, lineage
    passed where the reader accepts it."""
    return {
        "hll.estimates": lambda: sliding_estimates(s["hll"], keys, T_REF, windows, 8),
        "hll.estimates_beta": lambda: sliding_estimates(
            s["hll"], keys, T_REF, windows, 8, estimator="beta"
        ),
        "cms.topk": lambda: sliding_cms_topk(
            s["cells"], s["cands"], keys, "u", T_REF, windows, 3,
            params=(3, 64, "xxhash64"),
        ),
        "theta.estimates": lambda: sliding_theta_estimates(
            s["theta"], keys, T_REF, windows, k=8
        ),
        "dd.quantiles": lambda: sliding_dd_quantiles(
            s["dd"], keys, T_REF, windows, alpha=0.01
        ),
        "moments.quantiles": lambda: sliding_moments_quantiles(
            s["moments"], keys, T_REF, windows
        ),
        "moments.stats": lambda: sliding_moments_stats(
            s["moments"], keys, T_REF, windows
        ),
        "tuple.estimates": lambda: sliding_tuple_estimates(
            s["tuple"], keys, T_REF, windows, k=8
        ),
    }


def _range_readers(s, keys):
    return {
        "theta.overlap": lambda: sliding_theta_overlap(
            s["theta"], keys, RANGE_A, RANGE_B, k=8
        ),
        "dd.drift": lambda: sliding_dd_drift(s["dd"], keys, RANGE_A, RANGE_B),
    }


# (n_exchanges, python_stages) of each plan, keyed and keys=[] alike.
# These are the values before the core existed, except hll.coarsen:
# its front now runs once over the recent/old union instead of after a
# second fold of it, one exchange fewer (3 before).
PINNED = {
    "hll.table": (2, []),
    "hll.stream": (1, []),
    "hll.merge": (2, []),
    "hll.coarsen": (2, []),
    "hll.estimates": (2, ["ArrowEvalPython", "MapInArrow"]),
    "hll.estimates_beta": (2, []),
    "cms.table_cells": (1, []),
    "cms.table_cands": (3, []),
    "cms.stream": (1, []),
    "cms.merge_cells": (1, []),
    "cms.merge_cands": (1, []),
    "cms.coarsen_cells": (1, []),
    "cms.coarsen_cands": (1, []),
    "cms.topk": (5, []),
    "theta.table": (3, []),
    "theta.merge": (3, []),
    "theta.coarsen": (3, []),
    "theta.estimates": (3, []),
    "theta.overlap": None,  # keyed 29, keys=[] 17 (below)
    "dd.table": (1, []),
    "dd.table_weighted": (1, []),
    "dd.stream": (1, []),
    "dd.merge": (1, []),
    "dd.coarsen": (1, []),
    "dd.quantiles": (2, []),
    "dd.drift": (2, []),
    "moments.table": (1, []),
    "moments.stream": (1, []),
    "moments.merge": (1, []),
    "moments.coarsen": (1, []),
    "moments.quantiles": (1, ["MapInPandas"]),
    "moments.stats": (1, []),
    "tuple.table": (3, []),
    "tuple.merge": (3, []),
    "tuple.coarsen": (3, []),
    "tuple.estimates": (3, []),
}
OVERLAP_EXCHANGES = {"keyed": 29, "global": 17}


@pytest.mark.parametrize("kind", ["keyed", "global"])
def test_plan_shapes_pinned(spark, kind):
    keys = ["g"] if kind == "keyed" else []
    df = _raw(spark)
    s = {n: _local(spark, st) for n, st in _states(spark, df, keys).items()}
    ops = {
        "hll.table": lambda: sliding_register_table(
            df, "ts", keys, "u", p=8, grain="1 day"
        ),
        "hll.stream": lambda: streaming_sliding_register_by(
            df, "ts", keys, "u", p=8, grain="1 day"
        ),
        "hll.merge": lambda: sliding_merge([s["hll"], s["hll"]], keys),
        "hll.coarsen": lambda: sliding_coarsen(s["hll"], keys, CUT, COARSE),
        "cms.table_cells": lambda: sliding_cms_table(
            df, "ts", keys, "u", grain="1 day", depth=3, width=64, k=4
        )[0],
        "cms.table_cands": lambda: sliding_cms_table(
            df, "ts", keys, "u", grain="1 day", depth=3, width=64, k=4
        )[1],
        "cms.stream": lambda: streaming_sliding_cms_cells(
            df, "ts", keys, "u", grain="1 day", depth=3, width=64
        ),
        "cms.merge_cells": lambda: sliding_cms_merge(
            [s["cells"]] * 2, [s["cands"]] * 2, keys
        )[0],
        "cms.merge_cands": lambda: sliding_cms_merge(
            [s["cells"]] * 2, [s["cands"]] * 2, keys
        )[1],
        "cms.coarsen_cells": lambda: sliding_cms_coarsen(
            s["cells"], s["cands"], keys, CUT, COARSE
        )[0],
        "cms.coarsen_cands": lambda: sliding_cms_coarsen(
            s["cells"], s["cands"], keys, CUT, COARSE
        )[1],
        "theta.table": lambda: sliding_theta_table(
            df, "ts", keys, "u", k=8, grain="1 day"
        ),
        "theta.merge": lambda: sliding_theta_merge([s["theta"]] * 2, keys),
        "theta.coarsen": lambda: sliding_theta_coarsen(
            s["theta"], keys, CUT, COARSE
        ),
        "dd.table": lambda: sliding_dd_table(df, "ts", keys, "v", grain="1 day"),
        "dd.table_weighted": lambda: sliding_dd_table(
            df, "ts", keys, "v", grain="1 day", weight="v"
        ),
        "dd.stream": lambda: streaming_windowed_dd_by(
            df, "ts", keys, "v", window="1 day"
        ),
        "dd.merge": lambda: sliding_dd_merge([s["dd"]] * 2, keys),
        "dd.coarsen": lambda: sliding_dd_coarsen(s["dd"], keys, CUT, COARSE),
        "moments.table": lambda: sliding_moments_table(
            df, "ts", keys, "v", k=4, grain="1 day"
        ),
        "moments.stream": lambda: streaming_sliding_moments(
            df, "ts", keys, "v", k=4, grain="1 day"
        ),
        "moments.merge": lambda: sliding_moments_merge([s["moments"]] * 2, keys),
        "moments.coarsen": lambda: sliding_moments_coarsen(
            s["moments"], keys, CUT, COARSE
        ),
        "tuple.table": lambda: sliding_tuple_table(
            df, "ts", keys, "u", "v", k=8, grain="1 day"
        ),
        "tuple.merge": lambda: sliding_tuple_merge([s["tuple"]] * 2, keys),
        "tuple.coarsen": lambda: sliding_tuple_coarsen(
            s["tuple"], keys, CUT, COARSE
        ),
        **_readers(s, keys),
        **_range_readers(s, keys),
    }
    assert set(ops) == set(PINNED)
    got = {}
    for name, op in ops.items():
        rep = plan_report(op())
        got[name] = (rep["n_exchanges"], rep["python_stages"])
    want = {
        n: v if v is not None else (OVERLAP_EXCHANGES[kind], [])
        for n, v in PINNED.items()
    }
    assert got == want


def test_readers_launch_no_job_before_action(spark):
    """Cutoffs and range bounds are foldable Columns: building a
    3-window reader runs nothing. The tuple reader reads its hash_fn
    lineage, and that read is all it runs."""
    df = _raw(spark)
    s = {n: _local(spark, st) for n, st in _states(spark, df, ["g"]).items()}
    sc = spark.sparkContext
    ops = {**_readers(s, ["g"]), **_range_readers(s, ["g"])}
    ops["lineage"] = lambda: core.read_lineage(
        s["tuple"], ("k", "hash_fn"), "sliding tuple"
    )
    jobs = {}
    try:
        for name, op in ops.items():
            group = f"sliding-core-jobs-{name}"
            sc.setJobGroup(group, group)
            op()
            jobs[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(prop, None)
    assert jobs.pop("tuple.estimates") == jobs.pop("lineage") > 0
    assert jobs == {name: 0 for name in jobs}


def _rows_of(df, key_value):
    return sorted(
        tuple(v for c, v in r.asDict().items() if c != "g")
        for r in df.collect()
        if r["g"] == key_value
    )


def _same(a, b):
    """Row lists equal, floats to addition order (the moments solve
    sees power sums summed in shuffle order)."""
    return len(a) == len(b) and all(
        len(x) == len(y)
        and all(
            u == pytest.approx(v, rel=1e-9) if isinstance(u, float) else u == v
            for u, v in zip(x, y)
        )
        for x, y in zip(a, b)
    )


def test_null_key_group_answers_like_a_named_one(spark):
    """The same rows under g=NULL and g='a' get the same answer from
    every reader, including the two that join on the keys."""
    df = _raw(spark, groups=("a", None))
    s = _states(spark, df, ["g"])
    for name, op in {**_readers(s, ["g"]), **_range_readers(s, ["g"])}.items():
        out = op()
        named, null = _rows_of(out, "a"), _rows_of(out, None)
        assert named, name
        assert _same(null, named), (name, null, named)


def test_empty_windows_raise_value_error(spark):
    s = _states(spark, _raw(spark), ["g"])
    readers = _readers(s, ["g"], windows={})
    # the lineage-reading forms raise the same error
    readers["theta.estimates.lineage"] = lambda: sliding_theta_estimates(
        s["theta"], ["g"], T_REF, {}
    )
    readers["dd.quantiles.lineage"] = lambda: sliding_dd_quantiles(
        s["dd"], ["g"], T_REF, {}
    )
    for name, op in readers.items():
        with pytest.raises(ValueError, match="windows is empty"):
            op()


def test_null_timestamps_are_skipped_by_batch_and_stream_builds(spark):
    """``F.window`` drops NULL event times, so the shared cell build
    needs no extra filter: adding NULL-ts rows changes no state."""
    df = _raw(spark)
    noisy = df.unionByName(
        df.limit(5).withColumn("ts", F.lit(None).cast("timestamp"))
    )
    builds = {
        "hll": lambda d: sliding_register_table(d, "ts", ["g"], "u", p=8, grain="1 day"),
        "hll.stream": lambda d: streaming_sliding_register_by(
            d, "ts", ["g"], "u", p=8, grain="1 day"
        ),
        "cms": lambda d: streaming_sliding_cms_cells(
            d, "ts", ["g"], "u", grain="1 day", depth=3, width=64
        ),
        "dd": lambda d: sliding_dd_table(d, "ts", ["g"], "v", grain="1 day"),
        "moments": lambda d: streaming_sliding_moments(
            d, "ts", ["g"], "v", k=4, grain="1 day"
        ),
    }
    for name, build in builds.items():
        a = sorted(map(tuple, build(df).collect()))
        b = sorted(map(tuple, build(noisy).collect()))
        assert a == b, name

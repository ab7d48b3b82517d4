"""The stateful stream fold's own edges: the session interval merge
against a brute-force reference, and a fall-back hour in the session
time zone for a deadline-closed operator (sessionize) and a
window-closed one (the windowed HLL sketch stream)."""

from __future__ import annotations

import datetime as dt
import itertools
import os
import random
import time

import numpy as np
import pytest
from pyspark.sql import functions as F

from hyper_spark.streaming import streaming_sessionize, streaming_windowed_sketch_by
from hyper_spark.streaming.sessionize_stream import _merge_runs


def _brute_merge(runs, gap):
    """Merge any two runs the later of which starts at most ``gap``
    after the earlier one's last event, until no pair merges."""
    runs = [list(r) for r in runs]
    merged = True
    while merged:
        merged = False
        for i, j in itertools.combinations(range(len(runs)), 2):
            a, b = sorted((runs[i], runs[j]))
            if b[0] - a[1] <= gap:
                runs[i] = [a[0], max(a[1], b[1]), a[2] + b[2]]
                del runs[j]
                merged = True
                break
    return sorted(runs)


@pytest.mark.parametrize("seed", range(40))
def test_merge_runs_matches_brute_force(seed):
    """Integer-valued times make gaps of exactly ``gap`` common; runs
    overlap, nest and share starts."""
    rng = random.Random(seed)
    gap = float(rng.choice([0, 1, 3, 5]))
    runs = []
    for _ in range(rng.randint(1, 12)):
        start = float(rng.randint(0, 40))
        runs.append((start, start + rng.choice([0, 0, 1, 4, 9]), rng.randint(1, 3)))
    starts, lasts, counts = (np.array(c) for c in zip(*runs))
    got = _merge_runs(starts, lasts, counts.astype(np.int64), gap)
    assert [g.dtype for g in got] == [np.float64, np.float64, np.int64]
    assert [list(r) for r in zip(*(g.tolist() for g in got))] == _brute_merge(runs, gap)


# 2024-11-03 in America/New_York: 01:00-02:00 local happens twice,
# first as EDT (05:00-06:00Z), then as EST (06:00-07:00Z)
_FALL_BACK = dt.datetime(2024, 11, 3, tzinfo=dt.timezone.utc)


def _epoch_s(hours: float) -> int:
    return int((_FALL_BACK + dt.timedelta(hours=hours)).timestamp())


def _replay(spark, tmp_path, batches, schema):
    """One parquet file per micro-batch, read back as a stream whose
    ``ts`` is built from epoch seconds ``s``."""
    src = tmp_path / "src"
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(src / f"b{i}"))
    flat = tmp_path / "flat"
    flat.mkdir()
    now = time.time()
    for i, f in enumerate(sorted(src.glob("b*/*.parquet"))):
        # the file source takes files in modification-time order
        dst = flat / f"{i:03d}.parquet"
        dst.write_bytes(f.read_bytes())
        os.utime(dst, (now + i, now + i))
    return (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(str(flat)).withColumn("ts", F.timestamp_seconds("s"))
    )


def _run(out, name, mode):
    q = out.writeStream.format("memory").queryName(name).outputMode(mode).trigger(
        availableNow=True
    ).start()
    q.awaitTermination(120)
    assert q.exception() is None


@pytest.fixture
def new_york(spark):
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    yield spark
    spark.conf.set("spark.sql.session.timeZone", old)


def test_sessionize_in_fall_back_hour(new_york, tmp_path):
    """Events at 01:30 EDT and 01:30 EST (one wall time, an hour apart)
    are two sessions at a 30-minute gap, with their true UTC bounds."""
    spark = new_york
    stream = _replay(spark, tmp_path, [
        [("a", _epoch_s(5.5)), ("b", _epoch_s(5 + 10 / 60)), ("b", _epoch_s(5 + 20 / 60))],
        [("a", _epoch_s(6.5))],
        [("__flush", _epoch_s(24 * 30))],
    ], "k string, s long")
    out = streaming_sessionize(stream, ["k"], "ts", gap=1800.0, watermark="10 minutes")
    _run(out, "dst_sessions", "append")
    got = sorted(
        tuple(r) for r in spark.sql(
            "select k, unix_seconds(session_start), unix_seconds(session_end), n_events "
            "from dst_sessions where k <> '__flush'"
        ).collect()
    )
    assert got == [
        ("a", _epoch_s(5.5), _epoch_s(5.5), 1),
        ("a", _epoch_s(6.5), _epoch_s(6.5), 1),
        ("b", _epoch_s(5 + 10 / 60), _epoch_s(5 + 20 / 60), 2),
    ]


def test_windowed_sketch_in_fall_back_hour(new_york, tmp_path):
    """Hourly windows [05:00Z, 06:00Z) and [06:00Z, 07:00Z) both begin
    at 01:00 local; the first also ends at 01:00 local. Each closes
    once, with one final row holding its exact distinct count."""
    spark = new_york
    stream = _replay(spark, tmp_path, [
        [("g", _epoch_s(5.5), f"u{i}") for i in range(3)],
        [("g", _epoch_s(6.5), f"w{i}") for i in range(4)],
        [("g", _epoch_s(24 * 30), "flush")],
    ], "g string, s long, v string")
    out = streaming_windowed_sketch_by(
        stream, "ts", ["g"], "v", p=12, window="1 hour", watermark="5 minutes"
    )
    _run(out, "dst_windows", "update")
    finals = spark.sql(
        "select unix_seconds(window_end) e, estimate from dst_windows where final"
    ).collect()
    by_end = {}
    for r in finals:
        by_end.setdefault(r["e"], []).append(round(r["estimate"]))
    assert by_end == {_epoch_s(6): [3], _epoch_s(7): [4]}

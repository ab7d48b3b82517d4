"""Checkpoint-resumable multi-level sketch merge with per-partition
lineage + metrics (north_rule obligations; no reference equivalent —
the reference is single-process, ``SURVEY.md §3``).

Shape (the treeAggregate the reference README sketches for map/reduce,
README.md:10-15, made explicit and restartable):

    level 0   salted partial sketches: one sketch per (keys, salt),
              salt = xxhash64(value) mod num_salts — salting by *value*
              keeps the union lossless (every value lands in exactly one
              partial; register max reassembles the exact sketch) and
              spreads any hot group key over num_salts reducers. Built
              in Arrow and numpy by the register-partial builder
              ``sketch_by(strategy="partial")`` also uses
              (operators/hll_agg.py::_register_partials), so keys keep
              their exact values.
    level k   fold salts by ``fanout``: salt' = salt mod ceil(cur/fanout),
              merge with register max, one (keys, salt') group at a
              time through the shared ``grouped_apply``
              (operators/util.py).
    ...       until one sketch per keys group remains.

Every level is persisted as parquet under ``checkpoint_dir/level_NN``
before the next starts; a restart skips levels whose ``_SUCCESS`` marker
exists — resume = rerun the same call. Each level is one Spark write
query, and every read (the previous level, the result) declares the
schema the level was written with, so no read launches a
footer-inference job and a resumed call on a complete directory
launches no job until its result is read. Each level also writes a
``metrics_NN.json``: ``rows`` is the count observed during the write
(``DataFrame.observe``), ``wall_ms`` is the write alone, with no
re-read. Level 0 writes a lineage table (spark partition id → rows_in,
sketch bytes, build ms per partial) — the per-partition observability
the north rule asks for.

Why explicit levels instead of one big groupBy: at 10^12 rows a single
final merge funnels every partial through one shuffle; the level
structure bounds each stage's reducer fan-in to ``fanout`` and makes the
whole build restartable at level granularity (a lost cluster costs one
level, not the scan).
"""

from __future__ import annotations

import json
import math
import os
import time
from typing import Sequence

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from hyper_spark.functions.hashing import hll_prepare
from hyper_spark.operators.hll_agg import SKETCH_FIELDS, _merge_fn, _register_partials
from hyper_spark.operators.util import grouped_apply

__all__ = ["checkpointed_sketch_build", "resume_info"]


def _level_path(checkpoint_dir: str, level: int) -> str:
    return os.path.join(checkpoint_dir, f"level_{level:02d}")


def _complete(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def resume_info(checkpoint_dir: str) -> dict:
    """Which levels are already durable? (resume = rerun the build call)"""
    levels = []
    if os.path.isdir(checkpoint_dir):
        for name in sorted(os.listdir(checkpoint_dir)):
            if name.startswith("level_") and _complete(
                os.path.join(checkpoint_dir, name)
            ):
                levels.append(int(name.split("_")[1]))
    return {"completed_levels": levels, "checkpoint_dir": checkpoint_dir}


def _partials_with_lineage(
    df: DataFrame,
    keys: Sequence[str],
    col,
    p: int,
    num_salts: int,
    encoding: str = "auto",
    hash_fn: str = "sha1",
):
    """Level 0: per task partition, one partial sketch per (keys, salt)
    plus lineage columns, from the shared ``_register_partials``. JVM
    hashing feeds it; Python sees only (keys, salt, idx, rho) rows.
    NULL values are skipped (the reference only accepts binaries,
    src/hyper.erl:20; a NULL would otherwise produce NULL idx/rho and
    poison the densify).

    ``encoding='auto'`` stores low-fill partials as ⟨idx:16, rho:8⟩ pairs
    (src/hyper_bisect.erl:18-29): a salted partial covers ~1/num_salts of
    a group's values, so early levels are exactly the low-fill case and
    the checkpoint/shuffle bytes drop from 2^p to 3·nnz per partial."""
    value = F.col(col) if isinstance(col, str) else col
    idx, rho = hll_prepare(value, p, hash_fn)
    salt = F.pmod(F.xxhash64(value), F.lit(num_salts))
    prepared = df.filter(value.isNotNull()).select(
        *keys, salt.alias("__salt"), idx.alias("idx"), rho.alias("rho")
    )
    return _register_partials(prepared, list(keys) + ["__salt"], p, encoding)


def checkpointed_sketch_build(
    spark: SparkSession,
    df: DataFrame,
    keys: Sequence[str],
    col: str,
    checkpoint_dir: str,
    p: int = 14,
    num_salts: int = 64,
    fanout: int = 8,
    encoding: str = "auto",
    hash_fn: str = "sha1",
) -> DataFrame:
    """Build per-``keys`` HLL sketches with salted partials and a
    checkpointed level-by-level merge. Returns DataFrame[*keys, p,
    registers]; register-identical to ``sketch_by`` output (lossless
    salting). Rerun the same call after a failure to resume at the first
    incomplete level.

    ``encoding='auto'`` (default) persists each level's sketches sparse
    when fill < 2^p/3 (src/hyper_bisect.erl:25-29) — at high-cardinality
    keys this is most partials, cutting checkpoint I/O and the next
    level's shuffle bytes by up to ~2^p/3·nnz; ``'packed6'`` keeps the
    sparse arm but stores dense-fill levels 6-bit packed
    (hyper_binary.erl:25 — 25% smaller than dense, for low-salt/late
    levels where fill is high); ``'dense'`` forces the canonical blobs
    everywhere. The final level always returns dense blobs so output
    bytes stay canonical."""
    if fanout < 2:
        # ceil(cur / 1) == cur: a fanout below 2 never folds a salt away
        raise ValueError(f"fanout must be at least 2, got {fanout}")
    keys = list(keys)
    # ≥2 salts: level 0 emits one partial per (keys, salt) per task
    # partition; at least one merge level must run to collapse them
    num_salts = max(2, num_salts)
    os.makedirs(checkpoint_dir, exist_ok=True)
    # every level is read with the schema it was written with, so no
    # read launches a footer-inference job
    level_schema = StructType(
        [df.schema[k] for k in keys] + [StructField("__salt", LongType(), False)]
        + SKETCH_FIELDS
    )

    def read_level(level: int) -> DataFrame:
        return spark.read.schema(level_schema).parquet(_level_path(checkpoint_dir, level))

    # ---- level 0: salted partials + lineage
    if not _complete(_level_path(checkpoint_dir, 0)):
        # one durable write carries both sketch and lineage columns;
        # pre-merge duplicates (same (keys,salt) from different task
        # partitions) are collapsed at level 1
        _write_level(
            _partials_with_lineage(df, keys, col, p, num_salts, encoding, hash_fn),
            checkpoint_dir,
            0,
        )

    level = 0
    cur_salts = num_salts
    while cur_salts > 1:
        level += 1
        next_salts = math.ceil(cur_salts / fanout)
        if not _complete(_level_path(checkpoint_dir, level)):
            folded = read_level(level - 1).withColumn(
                "__salt", F.pmod(F.col("__salt"), F.lit(next_salts))
            )
            merge_keys = keys + ["__salt"]
            # intermediate levels keep the chosen encoding; the last level
            # (next_salts == 1) emits canonical dense output blobs. The
            # decode hint mirrors the writer's encoding — mandatory for
            # 'packed6', whose blob length is ambiguous with sparse.
            lvl_enc = "dense" if next_salts == 1 else encoding
            merged = grouped_apply(
                folded,
                merge_keys,
                _merge_fn(merge_keys, lvl_enc, decode_encoding=encoding),
                SKETCH_FIELDS,
            )
            _write_level(merged, checkpoint_dir, level)
        cur_salts = next_salts

    return read_level(level).drop("__salt")


def _write_level(frame: DataFrame, checkpoint_dir: str, level: int) -> None:
    """Write one level as a single Spark query; its row count is
    observed during the write, not re-read from the files."""
    t0 = time.perf_counter()
    path = _level_path(checkpoint_dir, level)
    obs = Observation()
    frame.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
        "overwrite"
    ).parquet(path)
    metrics = {
        "level": level,
        "rows": obs.get["rows"],
        "wall_ms": round((time.perf_counter() - t0) * 1000.0, 1),
        "path": path,
    }
    with open(os.path.join(checkpoint_dir, f"metrics_{level:02d}.json"), "w") as f:
        json.dump(metrics, f)


def lineage_table(spark: SparkSession, checkpoint_dir: str) -> DataFrame:
    """Per-partition lineage recorded at level 0: (partition_id, rows_in,
    sketch_bytes, build_ms) per partial sketch."""
    return spark.read.parquet(_level_path(checkpoint_dir, 0)).select(
        "partition_id", "rows_in", "sketch_bytes", "build_ms"
    )

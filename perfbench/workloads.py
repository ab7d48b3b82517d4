"""The benchmark's workloads: input size, the stored state set-up
builds, the job's library call chains, the check of a job's answer
against the exact results, and what the traced run replays on the
kernel.

A job is a list of branches, each a chain of library calls. A step
takes the previous step's value; the last step returns plain Python
values. In a lazy chain every step but the last returns a DataFrame, so
the traced run times each prefix of the chain into a noop sink and takes
differences; an eager chain does its work in every step, so each step's
span is its self time.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import gen
from hyper_spark.kernel.hll import error_bound
from hyper_spark.kernel.theta import theta_rse
from hyper_spark.operators import (
    cardinality_col,
    kll_by,
    sketch_by,
    sketch_collect,
    sketch_quantiles,
    theta_by,
    theta_estimate,
    theta_union,
    union_sketches,
)
from hyper_spark.plans import checkpointed_sketch_build

# An estimate passes within CHECK_SIGMAS published standard errors of
# the exact answer, plus SLACK_ITEMS. The published HLL (1.04/sqrt(2^p))
# and theta (1/sqrt(k-2)) bounds are one-sigma figures: checked at one
# sigma, a third of correct estimates would fail. At small counts an
# estimate is off by whole register collisions (21 distinct values read
# as 20), which no relative bound covers.
CHECK_SIGMAS = 4
SLACK_ITEMS = 2
THETA_K = 4096  # theta_by's default k


@dataclass
class Ctx:
    """What a workload's set-up and jobs share within one run."""

    spark: SparkSession
    tx: DataFrame  # the raw input rows
    answers: dict  # exact answers for the input (gen.exact_answers)
    work: str  # this run's scratch directory
    state: dict = field(default_factory=dict)


@dataclass
class Branch:
    name: str
    steps: list  # (library call, fn(previous value) -> value)
    lazy: bool = True


@dataclass
class Check:
    ok: bool
    rel_error: float
    digest: str


def card_item(est: float, exact: int, rse: float) -> tuple:
    tol = CHECK_SIGMAS * rse * exact + SLACK_ITEMS
    return est, exact, exact - tol, exact + tol


def make_check(items: list, complete: bool, digest_of) -> Check:
    """``items`` are (estimate, exact, lo, hi); the check passes when
    every group is present and every estimate lies in [lo, hi]."""
    ok = complete and all(lo <= est <= hi for est, _, lo, hi in items)
    rel = max((abs(est - exact) / exact for est, exact, _, _ in items), default=1.0)
    digest = hashlib.sha256(repr(digest_of).encode()).hexdigest()
    return Check(ok, rel, digest)


def _estimate():
    return cardinality_col(F.col("p"), F.col("registers")).alias("est")


def _column(path: str, name: str) -> list:
    return pq.read_table(path, columns=[name]).column(name).to_pylist()


class Workload:
    name = ""
    rows = 0  # input rows at full size

    def prepare(self, ctx: Ctx) -> None:
        """Build the stored state the job reads (part of set-up)."""

    def branches(self, ctx: Ctx) -> list[Branch]:
        raise NotImplementedError

    def check(self, out: dict, answers: dict) -> Check:
        raise NotImplementedError

    def items(self, answers: dict) -> int:
        """Input items of one job."""
        return answers["rows"]

    def replay_input(self, ctx: Ctx, out: dict) -> dict:
        """The workload's own sketch states, for the kernel replay."""
        raise NotImplementedError

    def kernel_calls(self, ctx: Ctx) -> dict:
        """Kernel calls one job makes, by kind."""
        raise NotImplementedError

    def plans_metrics(self, ctx: Ctx, self_s: dict) -> dict:
        return {}


class ScanBuild(Workload):
    """Raw rows -> per-role HLL (sha1, p=14) -> one union -> the driver."""

    name = "scan_build"
    rows = 1_500_000
    p = 14

    def branches(self, ctx):
        return [Branch("total", [
            ("sketch_by", lambda _: sketch_by(ctx.tx, ["role"], "conv_id", p=self.p)),
            ("union_sketches", lambda sk: union_sketches(sk, [])),
            ("sketch_collect", sketch_collect),
        ])]

    def check(self, out, answers):
        sk = out["total"]["sketch_collect"]
        item = card_item(sk.cardinality(), answers["distinct_conv"], error_bound(self.p))
        return make_check([item], True, sk.to_bytes())

    def replay_input(self, ctx, out):
        return {"hll": ([out["total"]["sketch_collect"].to_bytes()], self.p, "dense")}

    def kernel_calls(self, ctx):
        roles = len(ctx.answers["distinct_conv_by_role"])
        # sketch_by encodes one sketch per role; union_sketches decodes
        # and merges them and encodes one; sketch_collect decodes it
        return {"hll_decode": roles + 1, "hll_merge": roles,
                "hll_encode": roles + 1, "hll_estimate": 1}


class StateRollup(Workload):
    """Stored per-(group, day) HLL, KLL and theta states rolled up per
    group, plus an estimate read over every stored HLL state."""

    name = "state_rollup"
    rows = 500_000
    p = 12

    def prepare(self, ctx):
        day = F.expr(f"(unix_micros(ts) - {gen.T0_US}) div {gen.DAY_US}")
        src = (
            ctx.tx.select(
                (F.col("user_id") % gen.STATE_GROUPS).alias("g"), day.alias("day"),
                "conv_id", "latency_ms",
            )
            # one partition per (g, day), sorted: every Arrow batch the
            # builders see holds few groups
            .repartition("g", "day")
            .sortWithinPartitions("g", "day")
        )
        keys = ["g", "day"]
        built = {
            "hll": sketch_by(src, keys, "conv_id", p=self.p, encoding="auto"),
            "kll": kll_by(src, keys, "latency_ms"),
            "theta": theta_by(src, keys, "conv_id", k=THETA_K),
        }
        for family, df in built.items():
            path = os.path.join(ctx.work, "states", family)
            df.write.mode("overwrite").parquet(path)
            ctx.state[family] = path

    def branches(self, ctx):
        def read(family):
            return ctx.spark.read.parquet(ctx.state[family])

        return [
            Branch("hll", [
                ("union_sketches", lambda _: union_sketches(read("hll"), ["g"])),
                ("cardinality_col", lambda u: u.select("g", "registers", _estimate()).collect()),
            ]),
            Branch("kll", [
                ("sketch_quantiles",
                 lambda _: sketch_quantiles(read("kll"), gen.QUANTILES, ["g"]).collect()),
            ]),
            Branch("theta", [
                ("theta_union", lambda _: theta_union(read("theta"), ["g"])),
                ("theta_estimate", lambda t: theta_estimate(t, ["g"]).collect()),
            ]),
            Branch("states", [
                ("cardinality_col",
                 lambda _: read("hll").select(_estimate()).agg(F.sum("est")).collect()),
            ]),
        ]

    def check(self, out, answers):
        groups = answers["by_state_group"]
        hll = out["hll"]["cardinality_col"]
        kll = out["kll"]["sketch_quantiles"]
        theta = out["theta"]["theta_estimate"]
        total = out["states"]["cardinality_col"][0][0]
        items = [
            card_item(r["est"], groups[str(r["g"])]["distinct_conv"], error_bound(self.p))
            for r in hll
        ]
        for r in kll:
            a = groups[str(r["g"])]
            items += zip(r[1:], a["q"], a["q_lo"], a["q_hi"])
        items += [
            card_item(r["estimate"], groups[str(r["g"])]["distinct_conv"], theta_rse(THETA_K))
            for r in theta
        ]
        items.append(card_item(total, answers["state_distinct_sum"], error_bound(self.p)))
        complete = all(len(rows) == len(groups) for rows in (hll, kll, theta))
        digest_of = (
            sorted((r["g"], bytes(r["registers"])) for r in hll),
            sorted(tuple(r) for r in kll),
            sorted(tuple(r) for r in theta),
            total,
        )
        return make_check(items, complete, digest_of)

    def items(self, answers):
        return 3 * answers["state_count"]

    def replay_input(self, ctx, out):
        return {
            "hll": (_column(ctx.state["hll"], "registers"), self.p, "dense"),
            "kll": _column(ctx.state["kll"], "state"),
            "theta": (THETA_K, _column(ctx.state["theta"], "entries")),
        }

    def kernel_calls(self, ctx):
        states = ctx.answers["state_count"]
        groups = len(ctx.answers["by_state_group"])
        # the rollup and the all-states read each decode every HLL state
        return {"hll_decode": 2 * states, "hll_merge": states, "hll_encode": groups,
                "hll_estimate": groups + states, "kll_state_load": states,
                "kll_merge": states, "theta_merge": states}


class KeyedCheckpoint(Workload):
    """checkpointed_sketch_build per key into a fresh directory, a read
    of every key's estimate, and the same call again (the resume path)."""

    name = "keyed_checkpoint"
    rows = 300_000
    p = 14
    salts = 8
    fanout = 4

    def branches(self, ctx):
        # keep only the newest job's directory: the traced run reads it
        old = ctx.state.get("dir")
        if old:
            shutil.rmtree(old, ignore_errors=True)
        ctx.state["jobs"] = ctx.state.get("jobs", 0) + 1
        path = ctx.state["dir"] = os.path.join(ctx.work, "checkpoints", f"job{ctx.state['jobs']}")
        src = ctx.tx.select((F.col("user_id") % gen.KEYS).alias("ub"), "conv_id")

        def build():
            return checkpointed_sketch_build(
                ctx.spark, src, ["ub"], "conv_id", path, p=self.p,
                num_salts=self.salts, fanout=self.fanout, encoding="auto",
            )

        return [Branch("keys", lazy=False, steps=[
            ("checkpointed_sketch_build", lambda _: build()),
            ("cardinality_col", lambda final: final.select("ub", "registers", _estimate()).collect()),
            ("resume", lambda _: build().select("ub", "registers").collect()),
        ])]

    def check(self, out, answers):
        keys = answers["distinct_conv_by_key"]
        read, resumed = out["keys"]["cardinality_col"], out["keys"]["resume"]
        items = [card_item(r["est"], keys[str(r["ub"])], error_bound(self.p)) for r in read]
        blobs = {r["ub"]: bytes(r["registers"]) for r in read}
        complete = len(read) == len(keys) and blobs == {
            r["ub"]: bytes(r["registers"]) for r in resumed
        }
        return make_check(items, complete, sorted(blobs.items()))

    def _levels(self, ctx) -> list[dict]:
        found = []
        for path in sorted(glob.glob(os.path.join(ctx.state["dir"], "metrics_*.json"))):
            with open(path) as f:
                found.append(json.load(f))
        return found

    def replay_input(self, ctx, out):
        level0 = os.path.join(ctx.state["dir"], "level_00")
        return {"hll": (_column(level0, "registers"), self.p, "auto")}

    def kernel_calls(self, ctx):
        rows = [lv["rows"] for lv in self._levels(ctx)]
        keys = len(ctx.answers["distinct_conv_by_key"])
        # every level but the last is decoded and merged by the next one;
        # the read decodes and estimates each key's final sketch
        return {"hll_decode": sum(rows[:-1]) + keys, "hll_merge": sum(rows[:-1]),
                "hll_encode": sum(rows), "hll_estimate": keys}

    def plans_metrics(self, ctx, self_s):
        levels = self._levels(ctx)
        size = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(ctx.state["dir"]) for f in files
        )
        return {
            "plans.levels": len(levels),
            "plans.checkpoint_mb": size / 1e6,
            "plans.level0_s": levels[0]["wall_ms"] / 1e3,
            "plans.merge_levels_s": sum(lv["wall_ms"] for lv in levels[1:]) / 1e3,
            "plans.read_s": self_s["cardinality_col"],
            "plans.resume_s": self_s["resume"],
        }


BY_NAME = {w.name: w for w in (ScanBuild, StateRollup, KeyedCheckpoint)}

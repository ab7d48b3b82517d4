"""Traced-run tooling: spans around the library calls the benchmark
makes, prefix-difference self times, Spark's stage and SQL metrics read
from the live UI's REST API, the single-thread kernel replay, and the
hash-path probe.
"""

from __future__ import annotations

import json
import re
import statistics
import time
import urllib.parse
import urllib.request
from contextlib import contextmanager

import numpy as np
from py4j.protocol import Py4JError
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hyper_spark.functions import hll_prepare
from hyper_spark.kernel.hll import (
    HllSketch,
    decode_register_blob,
    encode_registers,
    estimate_from_registers,
)
from hyper_spark.kernel.kll import KllSketch
from hyper_spark.kernel.theta import ThetaSketch

REPLAY_SAMPLE = 2000  # states replayed per kind
REPLAY_MIN_CALLS = 200
HASH_P = 14

_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_NUMBER = re.compile(r"([\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")
_PYTHON_NODE = re.compile(r"InPandas|EvalPython|InArrow")
_HASH = re.compile(r"\b(?:sha1|xxhash64)\(")


class Tracer:
    """Spans (name, start, end, parent, job) kept in memory. A span's
    Spark jobs run under a job group of its own, so Spark's metrics can
    be read back per span."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._open: list[dict] = []

    @contextmanager
    def span(self, name: str, job):
        rec = {
            "id": len(self.spans), "name": name, "job": job,
            "parent": self._open[-1]["id"] if self._open else None,
            "group": f"perfbench-{len(self.spans)}",
        }
        self.spans.append(rec)
        self._open.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()
            if self._open:
                self.sc.setJobGroup(self._open[-1]["group"], self._open[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def children(self, rec: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"]]

    def job_ids(self, spans) -> list[int]:
        tracker = self.sc.statusTracker()
        return sorted({j for s in spans for j in tracker.getJobIdsForGroup(s["group"])})


def prefix_self_times(branches, span) -> dict[str, float]:
    """Self time of each library call of the lazy chains: every prefix
    of a chain runs into a noop sink (the last step is the chain's own
    action), and a call's self time is its prefix's time minus the
    previous prefix's."""
    self_s: dict[str, float] = {}
    for b in branches:
        if not b.lazy:
            continue
        prev = 0.0
        for i, (call, _) in enumerate(b.steps):
            with span(f"prefix:{b.name}:{call}") as rec:
                value = None
                for _, fn in b.steps[: i + 1]:
                    value = fn(value)
                if isinstance(value, DataFrame):
                    value.write.format("noop").mode("overwrite").save()
            took = rec["end"] - rec["start"]
            self_s[call] = self_s.get(call, 0.0) + took - prev
            prev = took
    return self_s


def metric_value(text: str) -> float:
    """A SQL metric as the UI renders it: '1,234', or a total such as
    '3.4 MiB (...)' under a 'total (min, med, max ...)' header line."""
    m = _NUMBER.match(text.strip().splitlines()[-1].strip())
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE.get(m.group(2), 1)


class SparkRest:
    """Spark's own status store, read through the live UI's REST API
    (the UI is on in the traced run only)."""

    def __init__(self, sc):
        port = urllib.parse.urlparse(sc.uiWebUrl).port
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        try:
            # let the listener bus deliver every event to the store
            sc._jsc.sc().listenerBus().waitUntilEmpty(30000)
        except Py4JError:
            time.sleep(2)
        self._sql = None

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.load(resp)

    def stage_metrics(self, job_ids) -> dict:
        """Sums over the completed stages of ``job_ids``; task skew is
        max / median task run time in the stage with the most run time."""
        stage_ids = sorted({s for j in job_ids for s in self.get(f"/jobs/{j}")["stageIds"]})
        out = dict.fromkeys(
            ("stages", "tasks", "input_mb", "shuffle_write_mb", "shuffle_records",
             "spill_mb", "executor_run_s", "executor_cpu_s", "jvm_gc_s", "result_mb"),
            0.0,
        )
        longest = None
        for sid in stage_ids:
            for a in self.get(f"/stages/{sid}?details=false"):
                if a["status"] != "COMPLETE":
                    continue  # skipped: its shuffle output was reused
                out["stages"] += 1
                out["tasks"] += a["numTasks"]
                out["input_mb"] += a["inputBytes"] / 1e6
                out["shuffle_write_mb"] += a["shuffleWriteBytes"] / 1e6
                out["shuffle_records"] += a["shuffleWriteRecords"]
                out["spill_mb"] += a["diskBytesSpilled"] / 1e6
                out["executor_run_s"] += a["executorRunTime"] / 1e3
                out["executor_cpu_s"] += a["executorCpuTime"] / 1e9
                out["jvm_gc_s"] += a["jvmGcTime"] / 1e3
                out["result_mb"] += a["resultSize"] / 1e6
                if longest is None or a["executorRunTime"] > longest["executorRunTime"]:
                    longest = a
        out["task_skew"] = 0.0
        if longest is not None:
            q = self.get(
                f"/stages/{longest['stageId']}/{longest['attemptId']}"
                "/taskSummary?quantiles=0.5,1.0"
            )["executorRunTime"]
            out["task_skew"] = q[1] / max(q[0], 1.0)
        return out

    def sql_executions(self, job_ids) -> list[dict]:
        """The SQL executions that ran any of ``job_ids``, with their
        plan graphs and metrics."""
        if self._sql is None:
            self._sql = self.get("/sql?details=true&planDescription=true&offset=0&length=100000")
        wanted = set(job_ids)
        return [
            ex for ex in self._sql
            if wanted & set(ex.get("successJobIds", []) + ex.get("failedJobIds", [])
                            + ex.get("runningJobIds", []))
        ]


def boundary(executions) -> dict:
    """Rows and bytes across the Python/Arrow boundary, from the SQL
    metrics of the executed plans. Rows into a Python node are the
    output rows of the nearest nodes below it that count rows."""
    out = {"rows_to_python": 0.0, "mb_to_python": 0.0, "mb_from_python": 0.0,
           "python_nodes": 0, "grouped_map_nodes": 0}
    for ex in executions:
        nodes = {n["nodeId"]: n for n in ex["nodes"]}
        below: dict[int, list[int]] = {}
        for e in ex["edges"]:
            below.setdefault(e["toId"], []).append(e["fromId"])

        def metrics(nid):
            return {m["name"]: m["value"] for m in nodes[nid]["metrics"]}

        def rows_out(nid):
            m = metrics(nid)
            for name in ("number of output rows", "records read"):
                if name in m:
                    return metric_value(m[name])
            return sum(rows_out(c) for c in below.get(nid, ()) if c in nodes)

        for nid, node in nodes.items():
            if not _PYTHON_NODE.search(node["nodeName"]):
                continue
            m = metrics(nid)
            out["python_nodes"] += 1
            out["grouped_map_nodes"] += node["nodeName"] == "FlatMapGroupsInPandas"
            out["mb_to_python"] += metric_value(m.get("data sent to Python workers", "0")) / 1e6
            out["mb_from_python"] += (
                metric_value(m.get("data returned from Python workers", "0")) / 1e6
            )
            out["rows_to_python"] += sum(rows_out(c) for c in below.get(nid, ()) if c in nodes)
    return out


def hashing_plans(executions) -> int:
    """Executions whose plan computes sha1 or xxhash64."""
    return sum(1 for ex in executions if _HASH.search(ex.get("planDescription", "")))


def _us_per_call(fn, items) -> float:
    calls, t0 = 0, time.perf_counter()
    while calls < REPLAY_MIN_CALLS:
        for x in items:
            fn(x)
        calls += len(items)
    return (time.perf_counter() - t0) / calls * 1e6


def kernel_replay(states: dict, values: list[bytes]) -> dict:
    """Single-thread per-call times (us) of the kernel replayed on the
    workload's own sketch states, and the sha1 insert rate on its own
    input values."""
    out = {}
    if "hll" in states:
        blobs, p, encoding = states["hll"]
        blobs = blobs[:REPLAY_SAMPLE]
        regs = [decode_register_blob(p, b) for b in blobs]
        acc = np.zeros(1 << p, dtype=np.uint8)
        out["hll_decode_us"] = _us_per_call(lambda b: decode_register_blob(p, b), blobs)
        out["hll_merge_us"] = _us_per_call(lambda r: np.maximum(acc, r, out=acc), regs)
        out["hll_encode_us"] = _us_per_call(lambda r: encode_registers(r, encoding), regs)
        out["hll_estimate_us"] = _us_per_call(lambda r: estimate_from_registers(r, p), regs)
    if "kll" in states:
        texts = states["kll"][:REPLAY_SAMPLE]
        sketches = [KllSketch.from_dict(json.loads(t)) for t in texts]
        merged = [sketches[0]]

        def merge(sk):
            merged[0] = merged[0].merge(sk)

        out["kll_state_load_us"] = _us_per_call(
            lambda t: KllSketch.from_dict(json.loads(t)), texts
        )
        out["kll_merge_us"] = _us_per_call(merge, sketches)
        out["kll_state_bytes"] = statistics.fmean(len(t.encode()) for t in texts)
    if "theta" in states:
        k, blobs = states["theta"]
        sketches = [ThetaSketch.from_bytes(k, b) for b in blobs[:REPLAY_SAMPLE]]
        union = [ThetaSketch.empty(k)]

        def merge_theta(sk):
            union[0] = union[0].union(sk)

        out["theta_merge_us"] = _us_per_call(merge_theta, sketches)
    t0 = time.perf_counter()
    HllSketch(HASH_P).insert_many(values)
    out["hll_insert_per_s"] = len(values) / (time.perf_counter() - t0)
    return out


def hash_probe_s(tx: DataFrame, reps: int = 3) -> float:
    """Median time of hll_prepare(conv_id) projected over the input into
    a noop sink: the functions layer alone, with its scan."""
    idx, rho = hll_prepare(F.col("conv_id"), HASH_P)
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        tx.select(idx.alias("idx"), rho.alias("rho")).write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)

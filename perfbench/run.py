"""Closed-loop benchmark of hyper_spark, one workload per run.

One client, this process, runs the workload's jobs back to back on
local[nproc] with nothing else running, checks every job's answer
against exact results, and prints one JSON object as the last line of
its output. perfbench/README.md describes the workloads and metrics.

    python3 perfbench/run.py --workload scan_build --seed 1 --seconds 12 --trace 0

With --trace 0 it reports the end-to-end metrics; with --trace 1 it runs
the same jobs with spans around every library call and reports the
per-layer metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass

import gen
import procmon

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("scan_build", "state_rollup", "keyed_checkpoint")
NPROC = len(os.sched_getaffinity(0))
SESSION = {
    "spark.master": f"local[{NPROC}]",
    "spark.sql.shuffle.partitions": str(2 * NPROC),
    # bench.py's 12g driver and 200k-record Arrow batches leave no
    # headroom for nproc Python workers on a 15 GB machine
    "spark.driver.memory": "2g",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.adaptive.enabled": "true",
}
# A fixed heap and young generation: G1 otherwise sizes both from its
# measured pause times, so how much of the heap the JVM touches, and
# peak_rss_mb with it, would follow the host's load.
JVM_HEAP = f"-Xms{SESSION['spark.driver.memory']} -Xmn512m"
FILES = 2 * NPROC  # input files: at least one per core
WARMUPS = 3  # untimed jobs in set-up; setup_s counts their median
MIN_JOBS = 3
SMOKE_ROWS = 20_000

END_TO_END = {
    "job_s_p50": "s",
    "items_per_s": "items/s",
    "cpu_s_per_job": "s",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}
OPERATOR_CALLS = (
    "sketch_by", "union_sketches", "sketch_collect", "cardinality_col",
    "sketch_quantiles", "theta_union", "theta_estimate",
)
PER_LAYER = {
    "functions.hash_rows_per_s": "rows/s",
    "functions.hash_share": "ratio",
    "functions.hashing_plans": "count",
    **{f"operators.{c}.self_s": "s" for c in OPERATOR_CALLS},
    "boundary.rows_to_python": "count",
    "boundary.mb_to_python": "MB",
    "boundary.mb_from_python": "MB",
    "boundary.python_nodes": "count",
    "boundary.grouped_map_nodes": "count",
    "kernel.hll_decode_us": "us",
    "kernel.hll_merge_us": "us",
    "kernel.hll_encode_us": "us",
    "kernel.hll_estimate_us": "us",
    "kernel.hll_insert_per_s": "1/s",
    "kernel.kll_state_load_us": "us",
    "kernel.kll_merge_us": "us",
    "kernel.kll_state_bytes": "B",
    "kernel.theta_merge_us": "us",
    "kernel.share": "ratio",
    "plans.levels": "count",
    "plans.checkpoint_mb": "MB",
    "plans.level0_s": "s",
    "plans.merge_levels_s": "s",
    "plans.read_s": "s",
    "plans.resume_s": "s",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.input_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_records": "count",
    "spark.spill_mb": "MB",
    "spark.task_skew": "ratio",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.jvm_gc_s": "s",
    "spark.result_mb": "MB",
    "trace.job_s": "s",
    "trace.untraced_job_s": "s",
    "trace.overhead_s": "s",
    "trace.self_sum_s": "s",
    "check.rel_error": "ratio",
}


@dataclass
class Job:
    start: float = 0.0  # time.perf_counter() at the job's start
    wall_s: float = 0.0
    cpu_s: float = 0.0
    check: object = None  # workloads.Check; None when the job raised
    out: dict | None = None


def run_branches(branches, span) -> dict:
    """Run a job's call chains; returns {branch: {call: value}}."""
    out = {}
    for b in branches:
        value, values = None, {}
        for call, fn in b.steps:
            with span(call):
                value = fn(value)
            values[call] = value
        out[b.name] = values
    return out


def one_job(wl, ctx, span=None) -> Job:
    """One job, timed from its input to its checked answer."""
    span = span or (lambda name: nullcontext())
    branches = wl.branches(ctx)
    me = os.getpid()
    job = Job()
    cpu0, t0 = procmon.tree_cpu_s(me), time.perf_counter()
    job.start = t0
    try:
        with span("job"):
            job.out = run_branches(branches, span)
            job.check = wl.check(job.out, ctx.answers)
    except Exception:  # the job counts as failed; the run goes on
        traceback.print_exc()
    job.wall_s = time.perf_counter() - t0
    job.cpu_s = procmon.tree_cpu_s(me) - cpu0
    return job


def timed_jobs(wl, ctx, seconds: float, span_for=None) -> list[Job]:
    """Jobs back to back until ``seconds`` have passed, at least MIN_JOBS."""
    jobs, deadline = [], time.perf_counter() + seconds
    while len(jobs) < MIN_JOBS or time.perf_counter() < deadline:
        jobs.append(one_job(wl, ctx, span_for(len(jobs)) if span_for else None))
    return jobs


def failures(jobs: list[Job], digest) -> int:
    """Jobs that raised, failed their check, or whose answer bytes
    differ from the first warm-up job's."""
    return sum(not (j.check and j.check.ok and j.check.digest == digest) for j in jobs)


def start_session(work: str, trace: bool):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    # everything Spark, the JVM and the Python workers write stays in
    # the run's directory
    os.environ.update(TMPDIR=tmp, SPARK_LOCAL_DIRS=local, PYSPARK_PYTHON=sys.executable)
    conf = {
        **SESSION,
        "spark.ui.enabled": "true" if trace else "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} {JVM_HEAP}",
    }
    builder = SparkSession.builder.appName("perfbench")
    for key, value in conf.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then wait until the JVM and every Python worker it
    started have exited."""
    from pyspark import SparkContext

    me = str(os.getpid())
    started = [p for p in procmon.tree_pids(int(me)) if p != me]
    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    for grace_s, kill in ((30, True), (10, False)):
        deadline = time.monotonic() + grace_s
        while any(procmon.running(p) for p in started) and time.monotonic() < deadline:
            time.sleep(0.1)
        for p in started:
            if kill and procmon.running(p):
                try:
                    os.kill(int(p), signal.SIGKILL)
                except ProcessLookupError:
                    pass


def summary(wl, args, answers, jobs, failed, setup) -> dict:
    """The run's context, printed before the result line."""
    import workloads

    walls = sorted(j.wall_s for j in jobs)
    n = len(walls)
    checked = [j.check.rel_error for j in jobs if j.check]
    return {
        "workload": wl.name,
        "seed": args.seed,
        "trace": args.trace,
        "load": "closed loop, one client, jobs back to back",
        "session": {**SESSION, "jvm_heap": JVM_HEAP},
        "input": {"rows": answers["rows"], "files": FILES, "items_per_job": wl.items(answers)},
        "jobs": n,
        "failed_frac": failed / n,
        "rel_error": max(checked) if checked else None,
        "check": f"estimates within {workloads.CHECK_SIGMAS} published standard errors, "
                 f"KLL quantiles within rank error {gen.KLL_EPS}",
        # the highest percentile with at least ten samples beyond it
        "job_s": {
            "p50": statistics.median(walls), "max": walls[-1], "samples": n,
            "each": [j.wall_s for j in jobs],
            "tail": {"percentile": 100 * (n - 10) / n, "value": walls[n - 11]} if n >= 20 else None,
        },
        "setup": setup,
    }


def result(jobs, failed: int, values: dict, units: dict) -> dict:
    return {
        "correct": failed == 0,
        "attempted": len(jobs),
        "failed": failed,
        "metrics": {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()},
    }


def traced(wl, ctx, args, data_dir: str) -> tuple[list[Job], dict]:
    """Untraced then traced jobs, then the per-layer probes. Returns the
    jobs and the per-layer values."""
    import tracing

    sc = ctx.spark.sparkContext
    tracer = tracing.Tracer(sc)
    plain = timed_jobs(wl, ctx, args.seconds / 2)
    spanned = timed_jobs(
        wl, ctx, args.seconds / 2, span_for=lambda n: (lambda name: tracer.span(name, n))
    )
    last = len(spanned) - 1
    job_span = next(s for s in tracer.spans if s["job"] == last and s["name"] == "job")
    step_s: dict[str, float] = {}
    for s in tracer.children(job_span):
        step_s[s["name"]] = step_s.get(s["name"], 0.0) + s["end"] - s["start"]

    # read the last traced job's state before the prefix pass replaces it
    values = dict(wl.plans_metrics(ctx, step_s))
    kernel = tracing.kernel_replay(
        wl.replay_input(ctx, spanned[-1].out), insert_values(data_dir)
    )
    calls = wl.kernel_calls(ctx)
    branches = wl.branches(ctx)
    self_s = tracing.prefix_self_times(branches, lambda name: tracer.span(name, "prefix"))
    for b in branches:
        if not b.lazy:
            for call, _ in b.steps:
                self_s[call] = self_s.get(call, 0.0) + step_s[call]
    with tracer.span("hll_prepare", "probe"):
        probe_s = tracing.hash_probe_s(ctx.tx)

    rest = tracing.SparkRest(sc)
    job_ids = tracer.job_ids([s for s in tracer.spans if s["job"] == last])
    executions = rest.sql_executions(job_ids)
    hashing = tracing.hashing_plans(executions)
    untraced_s = statistics.median(j.wall_s for j in plain)
    traced_s = statistics.median(j.wall_s for j in spanned)
    values.update({f"spark.{k}": v for k, v in rest.stage_metrics(job_ids).items()})
    values.update({f"boundary.{k}": v for k, v in tracing.boundary(executions).items()})
    values.update({f"kernel.{k}": v for k, v in kernel.items()})
    values.update({f"operators.{c}.self_s": self_s.get(c, 0.0) for c in OPERATOR_CALLS})
    values.update({
        "functions.hash_rows_per_s": ctx.answers["rows"] / probe_s,
        "functions.hash_share": probe_s / untraced_s if hashing else 0.0,
        "functions.hashing_plans": hashing,
        "kernel.share": sum(kernel[f"{c}_us"] * n for c, n in calls.items()) / 1e6 / untraced_s,
        "trace.job_s": traced_s,
        "trace.untraced_job_s": untraced_s,
        "trace.overhead_s": traced_s - untraced_s,
        "trace.self_sum_s": sum(self_s.values()),
        "check.rel_error": max((j.check.rel_error for j in plain + spanned if j.check), default=1.0),
    })

    for s in tracer.spans:
        ids = tracer.job_ids([s])
        if ids:
            s["spark_jobs"] = ids
            s["spark"] = rest.stage_metrics(ids)
    os.makedirs(os.path.join(CACHE, "traces"), exist_ok=True)
    with open(os.path.join(CACHE, "traces", f"{wl.name}-s{args.seed}.json"), "w") as f:
        json.dump({"workload": wl.name, "seed": args.seed, "spans": tracer.spans,
                   "self_s": self_s, "per_layer": values}, f, indent=1)
    return plain + spanned, values


def insert_values(data_dir: str, n: int = 20_000) -> list[bytes]:
    import pyarrow.parquet as pq

    first = os.path.join(data_dir, sorted(os.listdir(data_dir))[0])
    column = pq.read_table(first, columns=["conv_id"]).column("conv_id")
    return [v.encode() for v in column.slice(0, n).to_pylist()]


def run(wl, args, data_dir: str, answers: dict, gen_s: float, work: str):
    import workloads
    from hyper_spark.packaging import distribute

    spark = start_session(work, args.trace)
    try:
        distribute(spark, os.path.join(work, "hyper_spark.zip"))
        ctx = workloads.Ctx(spark, spark.read.parquet(data_dir), answers, work)
        start_s = procmon.process_age_s() - gen_s
        t0 = time.perf_counter()
        wl.prepare(ctx)
        prepare_s = time.perf_counter() - t0
        warm = [one_job(wl, ctx) for _ in range(WARMUPS)]
        digest = warm[0].check.digest if warm[0].check else None
        if failures(warm, digest):
            raise RuntimeError(f"{wl.name}: a warm-up job failed: {[j.check for j in warm]}")
        setup = {"generate_s": gen_s, "start_s": start_s, "prepare_s": prepare_s,
                 "warmup_s": [j.wall_s for j in warm]}
        if args.trace:
            jobs, values = traced(wl, ctx, args, data_dir)
            units = PER_LAYER
        else:
            with procmon.RssSampler(os.getpid()) as rss:
                jobs = timed_jobs(wl, ctx, args.seconds)
            p50 = statistics.median(j.wall_s for j in jobs)
            # the JVM heap grows with the jobs run, so the peak of a fixed
            # number of jobs, not of seconds, keeps a slow run from reading
            # less memory; the median of three drops a one-job spike
            peaks = [rss.peak(j.start, j.start + j.wall_s) for j in jobs[:MIN_JOBS]]
            values = {
                "job_s_p50": p50,
                "items_per_s": wl.items(answers) / p50,
                "cpu_s_per_job": statistics.median(j.cpu_s for j in jobs),
                "peak_rss_mb": statistics.median(peaks) / 1e6,
                "setup_s": start_s + prepare_s + statistics.median(setup["warmup_s"]),
            }
            units = END_TO_END
        failed = failures(jobs, digest)
        return summary(wl, args, answers, jobs, failed, setup), result(jobs, failed, values, units)
    finally:
        stop_session(spark)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help=f"{SMOKE_ROWS} input rows, for the self-tests")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "hyper_spark")):
        print(f"perfbench: no hyper_spark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads

    wl = workloads.BY_NAME[args.workload]()
    rows = SMOKE_ROWS if args.smoke else wl.rows
    t0 = time.perf_counter()
    data_dir, answers = gen.dataset(os.path.join(CACHE, "data"), args.seed, rows, FILES)
    gen_s = time.perf_counter() - t0
    work = os.path.join(CACHE, f"run-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        info, res = run(wl, args, data_dir, answers, gen_s, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(info))
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())

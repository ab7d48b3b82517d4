"""Interleaved A/B of perfbench's end-to-end metrics: a base commit
against this checkout.

The base commit is extracted with ``git archive`` into a temporary
directory outside the repository; the change side is this checkout as
it stands. For each workload and seed it runs
``perfbench/run.py --trace 0`` once per side, the base first for odd
seeds and the change first for even ones, and prints every pair, then
per metric the medians, the change's relative difference, how many
pairs the change won, and the base's spread (interquartile range ÷
median), the figure a gain must clear. ``--digests`` first runs one
checked job per side and seed and compares the answers' digests.

The base defaults to ``HEAD`` when the checkout differs from it (the
change is uncommitted) and to ``HEAD^`` when it does not.

    python tools/perf_ab.py --workload keyed_checkpoint --seeds 701-710
    python tools/perf_ab.py --workload scan_build --workload keyed_checkpoint \\
        --seeds 701-712 --base HEAD^ --digests
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# one checked job, run in a side's checkout; prints its answer's digest
DIGEST_JOB = r"""
import json, os, shutil, sys, tempfile
sys.path[:0] = [os.getcwd(), os.path.join(os.getcwd(), "perfbench")]
import gen, run, workloads
from hyper_spark.packaging import distribute
wl = workloads.BY_NAME[sys.argv[1]]()
data_dir, answers = gen.dataset(os.path.join(run.CACHE, "data"), int(sys.argv[2]), wl.rows, run.FILES)
work = tempfile.mkdtemp(prefix="perf-ab-digest-")
spark = run.start_session(work, False)
try:
    distribute(spark, os.path.join(work, "hyper_spark.zip"))
    ctx = workloads.Ctx(spark, spark.read.parquet(data_dir), answers, work)
    wl.prepare(ctx)
    check = run.one_job(wl, ctx).check
finally:
    run.stop_session(spark)
    shutil.rmtree(work, ignore_errors=True)
print(json.dumps({"ok": bool(check and check.ok), "digest": check.digest if check else None}))
"""


def git(*args: str) -> str:
    return subprocess.run(["git", *args], cwd=REPO, check=True, capture_output=True,
                          text=True).stdout.strip()


def extract(rev: str, dest: str) -> None:
    tar = os.path.join(dest, "base.tar")
    subprocess.run(["git", "archive", "--output", tar, rev], cwd=REPO, check=True)
    with tarfile.open(tar) as tf:
        tf.extractall(dest, filter="data")
    os.remove(tar)


def seeds_of(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def last_json(stdout: str) -> dict:
    return json.loads(stdout.strip().splitlines()[-1])


def bench(root: str, workload: str, seed: int, seconds: float) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    done = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
    if done.returncode:
        sys.stderr.write(done.stderr[-4000:])
        raise SystemExit(f"perfbench failed in {root}: {workload} seed {seed}")
    return last_json(done.stdout)


def digest(root: str, workload: str, seed: int) -> dict:
    done = subprocess.run([sys.executable, "-c", DIGEST_JOB, workload, str(seed)], cwd=root,
                          capture_output=True, text=True)
    if done.returncode:
        sys.stderr.write(done.stderr[-4000:])
        raise SystemExit(f"digest job failed in {root}: {workload} seed {seed}")
    return last_json(done.stdout)


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def report(workload: str, pairs: list[tuple[int, dict, dict]], better: dict) -> dict:
    print(f"\n== {workload}: {len(pairs)} pairs (base/change)")
    for seed, b, c in pairs:
        print(f"seed {seed}: failed {b['failed']}/{c['failed']}  " + "  ".join(
            f"{m} {b['metrics'][m]['value']:.4g}/{c['metrics'][m]['value']:.4g}" for m in better))
    out = {}
    for m, direction in better.items():
        base = [b["metrics"][m]["value"] for _, b, _ in pairs]
        change = [c["metrics"][m]["value"] for _, _, c in pairs]
        sign = -1 if direction == "lower" else 1
        wins = sum(sign * (c - b) > 0 for b, c in zip(base, change))
        mb, mc = statistics.median(base), statistics.median(change)
        row = {"base": mb, "change": mc, "rel": (mc - mb) / mb, "change_better": wins,
               "pairs": len(pairs), "base_iqr_over_median": spread(base) if len(base) > 1 else None}
        out[m] = row
        iqr = row["base_iqr_over_median"]
        print(f"{m:14s} median {mb:.4g} -> {mc:.4g} ({100 * row['rel']:+.1f} %), change better "
              f"in {wins}/{len(pairs)}, base IQR/median {'-' if iqr is None else f'{iqr:.3f}'}")
    failed = sum(b["failed"] + c["failed"] for _, b, c in pairs)
    print(f"failed jobs, both sides: {failed}")
    return {"metrics": out, "failed": failed}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--seeds", required=True, help="for example 701-710 or 1,3,5")
    ap.add_argument("--seconds", type=float, default=24)
    ap.add_argument("--base", help="commit to compare against (default: see above)")
    ap.add_argument("--digests", action="store_true",
                    help="compare one checked job's answer digest per side and seed first")
    args = ap.parse_args(argv)
    base_rev = args.base or ("HEAD" if git("status", "--porcelain") else "HEAD^")
    spec = json.load(open(os.path.join(REPO, "BENCHMARK.json")))
    better = {m["name"]: m["better"] for m in spec["end_to_end"]}
    seeds = seeds_of(args.seeds)
    tmp = tempfile.mkdtemp(prefix="perf-ab-")
    try:
        extract(base_rev, tmp)
        print(f"base {base_rev} = {git('rev-parse', '--short', base_rev)} in {tmp}; change {REPO}")
        sides = {"base": tmp, "change": REPO}
        summary = {"base": base_rev, "seeds": seeds, "workloads": {}}
        for workload in args.workload:
            if args.digests:
                for seed in seeds:
                    got = {s: digest(root, workload, seed) for s, root in sides.items()}
                    same = got["base"]["digest"] == got["change"]["digest"]
                    print(f"{workload} seed {seed}: digest {'same' if same else 'DIFFERENT'}, "
                          f"checks ok {got['base']['ok']}/{got['change']['ok']}")
                    summary.setdefault("digests_same", []).append(same)
            pairs = []
            for seed in seeds:
                order = ("base", "change") if seed % 2 else ("change", "base")
                res = {s: bench(sides[s], workload, seed, args.seconds) for s in order}
                pairs.append((seed, res["base"], res["change"]))
                b, c = res["base"]["metrics"], res["change"]["metrics"]
                print(f"{workload} seed {seed}: job_s_p50 {b['job_s_p50']['value']:.3f}/"
                      f"{c['job_s_p50']['value']:.3f}", flush=True)
            summary["workloads"][workload] = report(workload, pairs, better)
        print(json.dumps(summary))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

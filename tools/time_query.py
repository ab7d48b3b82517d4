"""Time named bench.py queries at a steady state without running the
whole bench. Measurement-only tooling; bench.py stays frozen.

    python tools/time_query.py ssjoin_prefix_docs cosine_join_docs
    python tools/time_query.py --base HEAD^ --rounds 10 ssjoin_prefix_docs cosine_join_docs

One process builds bench.py's session and queries, then calls each
query 5 times with ``clearCache`` between calls. The first call pays
the session's warm-up (codegen, broadcasts, the worker's imports), so a
query's time is the median of calls 2-5; every call's time is printed
too. The data and the cpu count come from bench.py's
``SPARK_GRAFT_SF_DIR`` and ``SPARK_GRAFT_CPUS``.

With ``--base`` the queries run interleaved against a base commit,
extracted with ``tools/perf_ab.py``'s ``extract`` into a temporary
directory: each round times both sides, each in a fresh process with
its own ``tools/time_query.py``, the base first in odd rounds and this
checkout first in even ones. It prints every round's pair, then per
query the medians, how many rounds the change won and the base's spread
(interquartile range / median), the figure a gain must clear.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CALLS = 5


def time_queries(names: list[str]) -> dict:
    import bench

    spark = bench.build_session()
    spark.sparkContext.setLogLevel("ERROR")
    from hyper_spark.packaging import distribute

    distribute(spark)

    queries = bench.bench_queries(spark, bench.SF_DIR)
    timings, calls_by = {}, {}
    for name in names:
        if name not in queries:
            print(f"unknown query {name}", file=sys.stderr)
            continue
        calls = []
        for _ in range(CALLS):
            t0 = time.perf_counter()
            n = queries[name]().count()
            calls.append(round(time.perf_counter() - t0, 3))
            spark.catalog.clearCache()
        timings[name] = round(statistics.median(calls[1:]), 3)
        calls_by[name] = calls
        print(f"# {name}: {timings[name]:.3f}s median of calls 2-{CALLS} {calls} ({n} rows)",
              file=sys.stderr)
    spark.stop()
    return {**timings, "calls": calls_by}


def interleaved(names: list[str], base_rev: str, rounds: int) -> dict:
    import perf_ab

    tmp = tempfile.mkdtemp(prefix="time-query-ab-")
    try:
        perf_ab.extract(base_rev, tmp)
        sides = {"base": tmp, "change": perf_ab.REPO}
        print(f"base {base_rev} = {perf_ab.git('rev-parse', '--short', base_rev)} in {tmp}; "
              f"change {perf_ab.REPO}")
        runs: dict[str, list[dict]] = {"base": [], "change": []}
        for r in range(1, rounds + 1):
            for side in ("base", "change") if r % 2 else ("change", "base"):
                done = subprocess.run(
                    [sys.executable, "tools/time_query.py", *names],
                    cwd=sides[side], capture_output=True, text=True,
                )
                if done.returncode:
                    sys.stderr.write(done.stderr[-4000:])
                    raise SystemExit(f"time_query failed in {sides[side]}, round {r}")
                runs[side].append(perf_ab.last_json(done.stdout))
            b, c = runs["base"][-1], runs["change"][-1]
            print(f"round {r}: " + "  ".join(f"{n} {b[n]:.3f}/{c[n]:.3f}" for n in names),
                  flush=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    summary = {"base": base_rev, "rounds": rounds, "queries": {}}
    for n in names:
        base = [run[n] for run in runs["base"]]
        change = [run[n] for run in runs["change"]]
        mb, mc = statistics.median(base), statistics.median(change)
        row = {"base": mb, "change": mc, "rel": (mc - mb) / mb,
               "change_better": sum(x < y for x, y in zip(change, base)),
               "base_iqr_over_median": perf_ab.spread(base) if rounds > 1 else None}
        summary["queries"][n] = row
        iqr = row["base_iqr_over_median"]
        print(f"{n}: median {mb:.3f} -> {mc:.3f} s ({100 * row['rel']:+.1f} %), change better "
              f"in {row['change_better']}/{rounds}, base IQR/median "
              f"{'-' if iqr is None else f'{iqr:.3f}'}")
    return summary


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("queries", nargs="+", help="bench.py query names")
    ap.add_argument("--base", help="commit to time interleaved against this checkout")
    ap.add_argument("--rounds", type=int, default=10, help="A/B rounds (with --base)")
    args = ap.parse_args(argv)
    if args.base:
        out = interleaved(args.queries, args.base, args.rounds)
    else:
        out = time_queries(args.queries)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())

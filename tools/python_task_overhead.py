"""Fixed cost of one Python task at the Python/Arrow boundary.

Runs N one-partition ``mapInArrow`` jobs over a 1,000-row range on the
perfbench session (``perfbench/run.py::start_session``), after
``distribute``, one after another, and prints the medians over the
warm jobs (the first ``--warmup`` are left out) of:

* submit → entry: from the driver's ``collect()`` call to the first
  line of the function in the worker;
* end → done: from the function's last line to ``collect()`` returning;
* the worker's ``importlib.invalidate_caches()``: its time, the number
  of archive directory reads it made (``zipimport._read_directory``
  calls) and the number of ``zipimporter`` entries in
  ``sys.path_importer_cache``.

The probe imports ``hyper_spark``, so every job after a worker's first
is a warm worker's hyper_spark task. ``--root`` picks the checkout
whose ``hyper_spark`` the session ships, for example one extracted
with ``git archive`` to measure a parent commit. Everything the run
writes goes to a temporary directory, which is removed at the end.

    python tools/python_task_overhead.py --jobs 20
    python tools/python_task_overhead.py --root /tmp/parent --jobs 20
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCHEMA = "entry double, end double, inval_s double, reads long, zips long, pid long"


def probe(batches):
    import importlib
    import sys
    import time
    import zipimport

    import pyarrow as pa

    entry = time.time()
    import hyper_spark  # noqa: F401  (a hyper_spark task)

    for _ in batches:
        pass
    reads = []
    read_directory = zipimport._read_directory

    def counted(path):
        reads.append(path)
        return read_directory(path)

    zipimport._read_directory = counted
    try:
        t0 = time.perf_counter()
        importlib.invalidate_caches()
        inval_s = time.perf_counter() - t0
    finally:
        zipimport._read_directory = read_directory
    zips = sum(isinstance(v, zipimport.zipimporter) for v in sys.path_importer_cache.values())
    row = {"entry": entry, "end": time.time(), "inval_s": inval_s, "reads": len(reads),
           "zips": zips, "pid": os.getpid()}
    yield pa.RecordBatch.from_pylist([row])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--jobs", type=int, default=20)
    ap.add_argument("--warmup", type=int, default=3, help="first jobs left out of the medians")
    ap.add_argument("--rows", type=int, default=1000)
    ap.add_argument("--root", default=REPO, help="checkout whose hyper_spark is shipped")
    args = ap.parse_args(argv)
    root = os.path.abspath(args.root)
    sys.path[:0] = [root, os.path.join(REPO, "perfbench")]
    import run as perfbench

    from hyper_spark.packaging import distribute

    work = tempfile.mkdtemp(prefix="python-task-overhead-")
    # workers put their cwd first on sys.path: keep a checkout's
    # hyper_spark directory from shadowing the shipped zip
    os.chdir(work)
    spark = perfbench.start_session(work, trace=False)
    try:
        distribute(spark, os.path.join(work, "hyper_spark.zip"))
        df = spark.range(0, args.rows, 1, 1).mapInArrow(probe, SCHEMA)
        jobs = []
        for _ in range(args.jobs):
            submit = time.time()
            (r,) = df.collect()
            jobs.append({"submit_to_entry_ms": 1e3 * (r["entry"] - submit),
                         "end_to_done_ms": 1e3 * (time.time() - r["end"]),
                         "invalidate_ms": 1e3 * r["inval_s"], "dir_reads": r["reads"],
                         "zip_importers": r["zips"], "pid": r["pid"]})
    finally:
        perfbench.stop_session(spark)
        os.chdir(REPO)
        shutil.rmtree(work, ignore_errors=True)
    warm = jobs[args.warmup:] or jobs
    out = {k: statistics.median(j[k] for j in warm)
           for k in ("submit_to_entry_ms", "end_to_done_ms", "invalidate_ms",
                     "dir_reads", "zip_importers")}
    out.update(root=root, jobs=len(warm), workers=len({j["pid"] for j in jobs}))
    for i, j in enumerate(jobs):
        print(f"job {i:3d}  " + "  ".join(f"{k} {v:.1f}" if isinstance(v, float) else f"{k} {v}"
                                          for k, v in j.items()))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())

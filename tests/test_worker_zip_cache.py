"""The stat-checked ``zipimporter.invalidate_caches`` a Spark Python
worker installs when it imports ``hyper_spark``
(``hyper_spark/packaging.py::install_worker_zip_cache``): the driver
keeps the stdlib method, an unchanged archive is read once, a changed
one is read again, a warm worker's per-task invalidation reads no
archive, and results stay byte-identical."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

from pyspark.sql import functions as F

from hyper_spark import packaging
from hyper_spark.operators.hll_agg import cardinality_col, sketch_by, union_sketches
from hyper_spark.plans.merge import checkpointed_sketch_build

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STDLIB = packaging._stdlib_invalidate


def test_driver_keeps_stdlib_invalidate():
    assert STDLIB.__module__ == "zipimport"
    assert zipimport.zipimporter.invalidate_caches is STDLIB
    assert packaging.install_worker_zip_cache() is False
    # a fresh driver process that has pyspark's task context loaded
    code = (
        "import pyspark.taskcontext, zipimport, hyper_spark\n"
        "print(zipimport.zipimporter.invalidate_caches.__module__)"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO, capture_output=True, text=True, check=True
    )
    assert out.stdout.strip() == "zipimport"


def test_install_in_a_task_is_idempotent(monkeypatch):
    from pyspark.taskcontext import TaskContext

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", STDLIB)
    monkeypatch.setattr(TaskContext, "_taskContext", object())
    assert packaging.install_worker_zip_cache() is True
    assert packaging.install_worker_zip_cache() is True
    assert zipimport.zipimporter.invalidate_caches is packaging._invalidate_if_changed


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(name, src)


def test_unchanged_archive_read_once_changed_archive_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zc_a.py": "VALUE = 1\n", "zc_pkg/__init__.py": ""})
    # the archive's root and a subpackage path, as on a worker's sys.path
    for path in (archive, os.path.join(archive, "zc_pkg")):
        monkeypatch.setitem(sys.path_importer_cache, path, zipimport.zipimporter(path))
    monkeypatch.syspath_prepend(archive)
    for name in ("zc_a", "zc_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zc_a").VALUE == 1

    reads = []
    read_directory = zipimport._read_directory

    def counted(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", packaging._invalidate_if_changed)
    for _ in range(4):
        importlib.invalidate_caches()
    assert reads.count(archive) == 1
    reads.clear()

    _write_zip(archive, {"zc_a.py": "VALUE = 2\n", "zc_b.py": "VALUE = 'b' * 3\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("zc_b").VALUE == "bbb"
    del sys.modules["zc_a"]
    assert importlib.import_module("zc_a").VALUE == 2


def test_warm_worker_task_reads_no_archive(spark, tmp_path):
    def probe(batches):
        """One row per task: worker pid, whether the stat-checked method is
        installed, the archive reads of one ``importlib.invalidate_caches``
        and the number of zipimporters it walked."""
        import importlib
        import os
        import sys
        import zipimport

        import pyarrow as pa

        import hyper_spark  # noqa: F401

        for _ in batches:
            pass
        reads = []
        read_directory = zipimport._read_directory

        def counted(path):
            reads.append(path)
            return read_directory(path)

        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        installed = zipimport.zipimporter.invalidate_caches.__module__ != "zipimport"
        zips = sum(isinstance(v, zipimport.zipimporter) for v in sys.path_importer_cache.values())
        yield pa.RecordBatch.from_pylist(
            [{"pid": os.getpid(), "installed": installed, "reads": len(reads), "zips": zips}]
        )

    packaging.distribute(spark, str(tmp_path / "hyper_spark.zip"))
    df = spark.range(0, 1000, 1, 1).mapInArrow(
        probe, "pid long, installed boolean, reads long, zips long"
    )
    # idle workers are reused first in, first out: a pid seen again is
    # a worker's second (or later) task of this probe
    seen = set()
    warm = []
    for _ in range(12):
        (row,) = df.collect()
        if row["pid"] in seen:
            warm.append(row)
        seen.add(row["pid"])
        if len(warm) == 2:
            break
    assert warm, "no Python worker ran two tasks"
    for row in warm:
        assert row["installed"]
        assert row["zips"] >= 1
        assert row["reads"] == 0


def test_repeated_calls_return_identical_bytes(spark, tmp_path):
    df = spark.range(0, 20_000, 1, 4).select(
        (F.col("id") % 5).alias("g"), (F.col("id") * 7919 % 6000).alias("v")
    )

    def union():
        sk = sketch_by(df, ["g"], "v", p=12)
        per_key = sorted((r["g"], bytes(r["registers"])) for r in sk.collect())
        (total,) = union_sketches(sk, []).collect()
        return per_key, bytes(total["registers"])

    def built(i):
        out = checkpointed_sketch_build(
            spark, df, ["g"], "v", str(tmp_path / f"ck{i}"), p=12, num_salts=4, fanout=2
        )
        return sorted((r["g"], bytes(r["registers"])) for r in out.collect())

    def estimates():
        sk = sketch_by(df, ["g"], "v", p=12)
        est = sk.select("g", cardinality_col("p", "registers").alias("e"))
        return sorted((r["g"], r["e"]) for r in est.collect())

    first = (union(), built(0), estimates())
    second = (union(), built(1), estimates())
    assert first == second
    (per_key, total), ckpt, _ = first
    assert ckpt == per_key
    (whole,) = sketch_by(df, [], "v", p=12).collect()
    assert total == bytes(whole["registers"])

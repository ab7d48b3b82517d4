"""The executor-side environment: make ``hyper_spark`` importable on
executors, and cheap to run there.

On a real cluster the supported path is
``spark-submit --py-files hyper_spark.zip job.py`` (see Makefile ``dist``
target). For driver-spawned sessions (notebooks, tests, bench) where the
package directory only exists on the driver, ``distribute(spark)`` zips
the package and ships it via ``SparkContext.addPyFile`` — without this,
executor-side unpickling of the pandas-UDF stages raises
``ModuleNotFoundError: hyper_spark`` (observed, not hypothetical).

Inside a Spark Python worker, importing ``hyper_spark`` also calls
``install_worker_zip_cache``. A reused worker runs pyspark's
``setup_spark_files`` before every task, and its
``importlib.invalidate_caches()`` makes each ``zipimporter`` in
``sys.path_importer_cache`` re-read its archive's central directory:
the pyspark and py4j zips, the spark-core jar and ``hyper_spark.zip``,
one importer per archive and per subpackage path imported from it (17
to 21 in a worker that has run hyper_spark tasks). On a 4 vCPU VM that
took 140–240 ms of every task, though the archives do not change
during a run. The installed method re-reads an archive only when its
``(st_mtime_ns, st_size, st_ino)`` differs from the one taken before
its last read, and otherwise costs one ``stat`` per importer (under
1 ms per task). The driver keeps the stdlib method.
``tools/python_task_overhead.py`` measures the per-task cost.
"""

from __future__ import annotations

import os
import sys
import tempfile
import zipfile
import zipimport
from pathlib import Path
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import SparkSession

__all__ = ["build_zip", "distribute", "install_worker_zip_cache"]

_PKG_ROOT = Path(__file__).resolve().parent


def build_zip(dest: str | None = None) -> str:
    """Zip the hyper_spark package (sources + data files) for --py-files."""
    if dest is None:
        dest = os.path.join(tempfile.gettempdir(), "hyper_spark.zip")
    with zipfile.ZipFile(dest, "w", zipfile.ZIP_DEFLATED) as zf:
        for path in sorted(_PKG_ROOT.rglob("*")):
            if path.suffix in {".py", ".json"} and "__pycache__" not in path.parts:
                zf.write(path, Path("hyper_spark") / path.relative_to(_PKG_ROOT))
    return dest


def distribute(spark: SparkSession, dest: str | None = None) -> str:
    """Ship the package to executors of an already-running session."""
    zip_path = build_zip(dest)
    spark.sparkContext.addPyFile(zip_path)
    return zip_path


_stdlib_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> (stat signature taken before the read, directory read)
_LAST_READ: dict[str, tuple[tuple[int, int, int], dict]] = {}


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive's
    directory only when the archive's stat signature differs from the
    one taken before its last read; an archive not yet read this way
    is read. The importers of one archive (its root and each
    subpackage path) share that read."""
    try:
        st = os.stat(self.archive)
    except OSError:
        _LAST_READ.pop(self.archive, None)
        _stdlib_invalidate(self)
        return
    sig = (st.st_mtime_ns, st.st_size, st.st_ino)
    last = _LAST_READ.get(self.archive)
    if last is not None and last[0] == sig:
        self._files = last[1]
        zipimport._zip_directory_cache[self.archive] = last[1]
        return
    _stdlib_invalidate(self)
    _LAST_READ[self.archive] = (sig, self._files)


def install_worker_zip_cache() -> bool:
    """Install ``_invalidate_if_changed`` as
    ``zipimport.zipimporter.invalidate_caches`` when this process is a
    Spark Python worker running a task; return whether it is installed.
    Idempotent. Checks ``sys.modules`` instead of importing pyspark, so
    importing ``hyper_spark`` on the driver imports no Spark module."""
    taskcontext = sys.modules.get("pyspark.taskcontext")
    if taskcontext is not None and taskcontext.TaskContext.get() is not None:
        zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    return zipimport.zipimporter.invalidate_caches is _invalidate_if_changed

"""Ship the package to executors (the ``spark-submit --py-files`` shape).

Python workers unpickle UDF closures by importing ``dr_source_spark`` — on a
real cluster that import is satisfied by ``--py-files dr_source_spark.zip``;
for interactive/driver-harness sessions we build the same zip once and
``addPyFile`` it, so the engine works regardless of the driver's cwd.
"""

from __future__ import annotations

import os
import sys
import tempfile
import zipfile
import zipimport

from pyspark.sql import SparkSession

_SHIPPED_SESSIONS: "set[int]" = set()


def package_zip_path() -> str:
    """Build (idempotently) a zip of the dr_source_spark package."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    out = os.path.join(tempfile.gettempdir(), "dr_source_spark_pyfiles.zip")
    sources = []
    for dirpath, _dirs, files in os.walk(pkg_dir):
        for fn in sorted(files):
            if fn.endswith(".py"):
                fp = os.path.join(dirpath, fn)
                arc = os.path.join("dr_source_spark", os.path.relpath(fp, pkg_dir))
                sources.append((fp, arc))
    newest = max(os.path.getmtime(fp) for fp, _ in sources)
    if os.path.exists(out) and os.path.getmtime(out) >= newest:
        return out
    tmp = out + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
        for fp, arc in sources:
            zf.write(fp, arc)
    os.replace(tmp, out)
    return out


def ensure_shipped(spark: SparkSession) -> None:
    """addPyFile the package zip once per SparkContext."""
    sc = spark.sparkContext
    key = id(sc)
    if key in _SHIPPED_SESSIONS:
        return
    try:
        sc.addPyFile(package_zip_path())
    except Exception:
        # e.g. a context that already has the file or forbids late adds —
        # imports may still resolve via PYTHONPATH/--py-files.
        pass
    _SHIPPED_SESSIONS.add(key)


def drop_zip_finders() -> None:
    """Worker side: delete the ``zipimporter`` entries from
    ``sys.path_importer_cache``. The detector and symbol-index UDF bodies
    call this first.

    PySpark calls ``importlib.invalidate_caches()`` at the start of every
    task (``pyspark/worker_util.py``, ``setup_spark_files``). Before CPython
    3.13 that re-reads an archive's whole central directory once for each
    ``zipimporter`` in the cache, and a warm worker holds ~18: one per
    imported package path inside ``pyspark.zip`` (1 328 entries) and two
    for the spark-core jar (5 359 entries). That was 0.1-0.24 s of every
    warm task before the UDF started (4 cores, CPython 3.11).

    No import result changes: loaded modules stay in ``sys.modules``, a
    later import from the same archive builds its finder from
    ``zipimport._zip_directory_cache`` without a re-read, and the next
    task's ``invalidate_caches()`` finds no archive to read."""
    cache = sys.path_importer_cache
    for key, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            cache.pop(key, None)

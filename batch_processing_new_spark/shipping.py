"""Ship this package to executor Python workers.

Operators that run Python on executors (``mapInPandas`` closures) pickle
functions from this package *by reference* — the worker process must be
able to ``import batch_processing_new_spark`` itself. That holds neither
when the driver script runs from another cwd nor on a real multi-node
cluster. The fix is the standard Spark deployment move: zip the package
and ``sc.addPyFile`` it, which distributes the zip and prepends it to
every worker's ``sys.path``. Idempotent per SparkContext.

``guard_zip_rereads`` (applied at package import, so in every Python
worker that unpickles an engine function) removes a fixed cost per
task: PySpark's worker calls ``importlib.invalidate_caches()`` at the
start of every task, and on Python 3.10-3.12 each ``zipimporter`` then
re-reads its archive's whole central directory. A worker's path holds
``pyspark.zip`` (one importer per imported subpackage) and the
spark-core jar (thousands of entries), so every task, in a reused
worker too, paid for re-reading them all.
"""

from __future__ import annotations

import os
import sys
import tempfile
import threading
import zipfile
import zipimport

from pyspark.sql import SparkSession

_SHIPPED_CONTEXTS: set[str] = set()
# Held across the check, the zip write, addPyFile and the set insert:
# concurrent first callers (service request threads on a fresh context)
# would otherwise add a half-written zip, after which Spark refuses the
# complete one ("exists and does not match contents") for good.
_LOCK = threading.Lock()
# attribute on each zipimporter: the archive's stat at its last read
_STAMP = "_dir_stamp"


def _zip_stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def guard_zip_rereads() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    its ``(mtime_ns, size, inode)`` changed since that importer last read
    it. A zip replaced by ``os.replace`` gets a new inode, so it is still
    re-read. Patches only where the method reads eagerly (Python 3.10-3.12;
    3.13 is already lazy) and is idempotent. Importers that exist when the
    patch lands are taken as current: in a worker it lands during a
    task, right after that task's set-up re-read every archive."""
    original = zipimport.zipimporter.invalidate_caches
    code = getattr(original, "__code__", None)
    if code is None or "_read_directory" not in code.co_names:
        return

    def invalidate_caches(self):
        stamp = _zip_stamp(self.archive)
        if stamp is None or getattr(self, _STAMP, None) != stamp:
            original(self)
            setattr(self, _STAMP, stamp)

    invalidate_caches.__doc__ = original.__doc__
    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, zipimport.zipimporter):
            setattr(importer, _STAMP, _zip_stamp(importer.archive))
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def ensure_package_on_executors(spark: SparkSession) -> None:
    sc = spark.sparkContext
    # applicationId, NOT id(sc): CPython reuses object addresses after
    # GC, so a stop/recreate cycle (the determinism checker's protocol)
    # could silently skip addPyFile for the new context
    key = sc.applicationId
    with _LOCK:
        if key in _SHIPPED_CONTEXTS:
            return
        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        pkg_name = os.path.basename(pkg_dir)
        zip_path = os.path.join(
            tempfile.gettempdir(), f"{pkg_name}-{os.getpid()}.zip"
        )
        if not os.path.exists(zip_path):
            # written under a temporary name and renamed into place, so
            # no reader ever sees a half-written zip at zip_path
            tmp_path = f"{zip_path}.tmp"
            with zipfile.ZipFile(tmp_path, "w", zipfile.ZIP_DEFLATED) as zf:
                for root, _dirs, files in os.walk(pkg_dir):
                    for fname in files:
                        if not fname.endswith(".py"):
                            continue
                        full = os.path.join(root, fname)
                        rel = os.path.join(pkg_name, os.path.relpath(full, pkg_dir))
                        zf.write(full, rel)
            os.replace(tmp_path, zip_path)
        sc.addPyFile(zip_path)
        _SHIPPED_CONTEXTS.add(key)

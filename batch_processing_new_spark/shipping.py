"""Ship this package to executor Python workers.

Operators that run Python on executors (``mapInPandas`` closures) pickle
functions from this package *by reference* — the worker process must be
able to ``import batch_processing_new_spark`` itself. That holds neither
when the driver script runs from another cwd nor on a real multi-node
cluster. The fix is the standard Spark deployment move: zip the package
and ``sc.addPyFile`` it, which distributes the zip and prepends it to
every worker's ``sys.path``. Idempotent per SparkContext.
"""

from __future__ import annotations

import os
import tempfile
import threading
import zipfile

from pyspark.sql import SparkSession

_SHIPPED_CONTEXTS: set[str] = set()
# Held across the check, the zip write, addPyFile and the set insert:
# concurrent first callers (service request threads on a fresh context)
# would otherwise add a half-written zip, after which Spark refuses the
# complete one ("exists and does not match contents") for good.
_LOCK = threading.Lock()


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

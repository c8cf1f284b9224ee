"""The zip re-read guard (``shipping.guard_zip_rereads``): PySpark's
Python worker calls ``importlib.invalidate_caches()`` on every task,
which on Python 3.10-3.12 re-reads every zip on ``sys.path``. With the
guard, an unchanged zip is not re-read, a replaced one still is, and
every worker that unpickles an engine function carries the guard."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from batch_processing_new_spark import shipping

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="zipimporter.invalidate_caches is lazy from Python 3.13 on",
)


def _write_zip(path: str, modules: dict[str, str]) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)
    os.replace(tmp, path)


def _count_reads(monkeypatch) -> list[str]:
    reads: list[str] = []
    real = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_guard_is_installed_at_package_import():
    method = zipimport.zipimporter.invalidate_caches
    assert method.__module__ == shipping.__name__
    shipping.guard_zip_rereads()  # idempotent: no second wrapper
    assert zipimport.zipimporter.invalidate_caches is method


def test_unchanged_zip_is_not_reread_and_replaced_zip_is(tmp_path, monkeypatch):
    zpath = str(tmp_path / "mods.zip")
    _write_zip(zpath, {"zip_guard_mod_a": "X = 1\n"})
    importer = zipimport.zipimporter(zpath)
    importer.invalidate_caches()  # records the archive's stamp
    reads = _count_reads(monkeypatch)

    importer.invalidate_caches()
    importer.invalidate_caches()
    assert reads == []

    _write_zip(zpath, {"zip_guard_mod_a": "X = 1\n", "zip_guard_mod_b": "Y = 2\n"})
    importer.invalidate_caches()
    assert reads == [zpath]


def test_import_from_replaced_zip_after_invalidate(tmp_path, monkeypatch):
    zpath = str(tmp_path / "live.zip")
    _write_zip(zpath, {"zip_guard_live_a": "X = 1\n"})
    monkeypatch.syspath_prepend(zpath)
    for name in ("zip_guard_live_a", "zip_guard_live_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    try:
        assert importlib.import_module("zip_guard_live_a").X == 1
        importlib.invalidate_caches()  # unchanged: a no-op now
        _write_zip(
            zpath, {"zip_guard_live_a": "X = 1\n", "zip_guard_live_b": "Y = 2\n"}
        )
        importlib.invalidate_caches()
        assert importlib.import_module("zip_guard_live_b").Y == 2
    finally:
        for name in ("zip_guard_live_a", "zip_guard_live_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(zpath, None)


def test_workers_keep_the_guard_and_skip_rereads(spark):
    """Each task reports the module that owns its worker's
    ``invalidate_caches``, and how many archive reads the
    worker made since its previous task's probe ran. More tasks than
    slots, so workers are reused; a reused worker's task set-up (its
    ``importlib.invalidate_caches()``) must read no archive."""
    import pandas as pd

    def probe(batches):
        # cloudpickle ships this closure by value and the engine module
        # it names by reference: unpickling it imports the package
        engine = shipping.__name__
        reads = getattr(zipimport, "_graft_test_reads", None)
        seen = reads is not None
        if not seen:
            reads = zipimport._graft_test_reads = []
            real = zipimport._read_directory

            def counting(path):
                reads.append(path)
                return real(path)

            zipimport._read_directory = counting
        since = len(reads)
        reads.clear()
        zips = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        owner = zipimport.zipimporter.invalidate_caches.__module__
        for _ in batches:
            pass
        yield pd.DataFrame(
            {
                "seen": [seen],
                "reads": [since],
                "zips": [zips],
                "owner": [owner],
                "engine": [engine],
            }
        )

    slots = spark.sparkContext.defaultParallelism
    schema = "seen boolean, reads long, zips long, owner string, engine string"
    rows = []
    for _ in range(2):
        df = spark.range(0, 3 * slots, 1, 3 * slots)
        rows += df.mapInPandas(probe, schema).collect()

    # every worker loaded the engine, and the engine owns the method
    assert {(r.engine, r.owner) for r in rows} == {(shipping.__name__,) * 2}
    reused = [r for r in rows if r.seen]
    assert reused, "no Python worker ran two tasks"
    assert all(r.zips > 0 for r in reused)
    assert [r.reads for r in reused] == [0] * len(reused)

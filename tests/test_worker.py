"""worker_init: the Python UDF worker's once-per-process set-up.

Spark calls importlib.invalidate_caches() before every Python task; on
CPython < 3.13 each zipimporter then re-parses its whole archive
directory.  After worker_init an unchanged archive is not re-read, and
a rewritten one still is."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from oscar_spark.functions import worker
from oscar_spark.functions.worker import worker_init

old_python = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython >= 3.13 invalidates zip caches lazily itself")


def _write_zip(path, value: int) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("wi_zpkg/__init__.py", "")
        z.writestr("wi_zpkg/mod.py", f"VALUE = {value}\n")


@old_python
def test_worker_init_rereads_only_changed_archives(tmp_path, monkeypatch):
    """Two importers on one archive (the archive and its package
    prefix): no directory read while it is unchanged, one read each once
    it is rewritten, the new source imports, and a vanished archive
    falls back to the original method."""
    monkeypatch.setattr(worker, "_READY", False)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    zpath = str(tmp_path / "lib.zip")
    _write_zip(zpath, 1)
    monkeypatch.syspath_prepend(zpath)
    try:
        import wi_zpkg.mod
        assert wi_zpkg.mod.VALUE == 1
        mine = [imp for imp in sys.path_importer_cache.values()
                if isinstance(imp, zipimport.zipimporter)
                and imp.archive == zpath]
        assert len(mine) == 2

        worker_init()
        importlib.invalidate_caches()  # each importer records its state
        reads = []
        real = zipimport._read_directory
        monkeypatch.setattr(zipimport, "_read_directory",
                            lambda a: reads.append(a) or real(a))
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads == []

        _write_zip(zpath, 22)  # a new size, so a new signature
        importlib.invalidate_caches()
        assert reads == [zpath, zpath]
        for m in ("wi_zpkg.mod", "wi_zpkg"):
            sys.modules.pop(m, None)
        assert importlib.import_module("wi_zpkg.mod").VALUE == 22

        os.remove(zpath)
        importlib.invalidate_caches()
        assert all(imp._files == {} for imp in mine)
    finally:
        for m in ("wi_zpkg.mod", "wi_zpkg"):
            sys.modules.pop(m, None)
        for p in [p for p in sys.path_importer_cache if zpath in p]:
            del sys.path_importer_cache[p]


@old_python
def test_worker_init_in_a_spark_task(spark):
    """In a Spark task that ran worker_init, the per-task
    invalidate_caches() re-reads no archive."""
    def probe(batches):
        import pandas as pd
        worker_init()
        importlib.invalidate_caches()  # a fresh worker's one re-read
        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda a: reads.append(a) or real(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        zips = sum(isinstance(imp, zipimport.zipimporter)
                   for imp in sys.path_importer_cache.values())
        for _ in batches:
            pass
        yield pd.DataFrame({"zips": [zips], "reads": [len(reads)]})

    row = (spark.range(1, numPartitions=1)
           .mapInPandas(probe, "zips long, reads long").collect()[0])
    if row["zips"] == 0:
        pytest.skip("no zipimporter on the worker's path")
    assert row["reads"] == 0

"""The stat-checked ``zipimporter.invalidate_caches`` of
``pyspark_graft_worker``, the Python worker module ``session.get_spark``
names in ``spark.python.worker.module``.

Stock CPython 3.11 re-reads an archive's whole central directory on
every ``invalidate_caches()``, which PySpark calls before every task.
The patched version must skip unchanged archives and otherwise behave
like stock: a rewritten archive is re-read and every importer of it
(package and sub-package prefixes) sees the new directory; a deleted
archive leaves the same state stock zipimport leaves.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

import pyspark_graft_worker as gw

PKG = "zipstamp_pkg"


def _write_zip(path, extra: dict[str, str] | None = None) -> None:
    files = {
        f"{PKG}/__init__.py": "",
        f"{PKG}/sub/__init__.py": "",
        f"{PKG}/sub/a.py": "VALUE = 'a'\n",
        **(extra or {}),
    }
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in files.items():
            zf.writestr(name, src)


def _importers(archive: str) -> list[zipimport.zipimporter]:
    return [
        f
        for f in sys.path_importer_cache.values()
        if isinstance(f, zipimport.zipimporter) and f.archive == archive
    ]


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip holding ``PKG`` and ``PKG.sub`` on ``sys.path``, with
    ``PKG.sub.a`` imported so the archive, package and sub-package
    importers all exist; ``zipimport._read_directory`` calls counted."""
    path = str(tmp_path / "lib.zip")
    _write_zip(path)
    monkeypatch.syspath_prepend(path)
    importlib.import_module(f"{PKG}.sub.a")
    reads: list[str] = []
    stock_read = zipimport._read_directory

    def counting_read(p):
        reads.append(p)
        return stock_read(p)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    assert zipimport.zipimporter.invalidate_caches is gw.invalidate_caches
    importlib.invalidate_caches()  # first call reads and stamps
    reads.clear()
    yield path, reads
    for name in [m for m in sys.modules if m.split(".")[0] == PKG]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(path, None)
    gw._read_stamps.pop(path, None)


def test_unchanged_archive_is_not_reread(archive):
    path, reads = archive
    assert len(_importers(path)) >= 3  # archive root, PKG/, PKG/sub/
    importlib.invalidate_caches()
    assert reads == []
    for imp in _importers(path):
        assert imp._files is zipimport._zip_directory_cache[path]


def test_rewritten_archive_reaches_every_importer(archive):
    path, reads = archive
    _write_zip(
        path,
        {f"{PKG}/b.py": "VALUE = 'b'\n", f"{PKG}/sub/c.py": "VALUE = 'c'\n"},
    )
    importlib.invalidate_caches()
    assert reads == [path]  # one read, shared by every importer
    # PKG.b resolves through the package importer, PKG.sub.c through
    # the sub-package importer
    assert importlib.import_module(f"{PKG}.b").VALUE == "b"
    assert importlib.import_module(f"{PKG}.sub.c").VALUE == "c"


def test_deleted_archive_matches_stock(archive):
    path, _ = archive
    os.remove(path)
    importlib.invalidate_caches()

    def state():
        cached = path in zipimport._zip_directory_cache
        return [(imp._files, cached) for imp in _importers(path)]

    patched = state()
    for imp in _importers(path):
        gw._stock_invalidate_caches(imp)
    stock = state()
    assert patched == stock
    assert all(files == {} for files, _ in patched)
    assert path not in gw._read_stamps
    with pytest.raises(ImportError):
        importlib.import_module(f"{PKG}.sub.gone")
    # a re-created archive is read again
    _write_zip(path, {f"{PKG}/sub/back.py": "VALUE = 'back'\n"})
    importlib.invalidate_caches()
    assert importlib.import_module(f"{PKG}.sub.back").VALUE == "back"


def test_spark_workers_run_the_worker_module(spark):
    """Tasks of a ``get_spark`` session run in workers that imported
    ``pyspark_graft_worker``, still forked by ``pyspark.daemon`` (the
    benchmark finds Python workers by that command line)."""

    def probe(batches):
        import zipimport

        with open("/proc/self/cmdline", "rb") as f:
            cmd = f.read().replace(b"\0", b" ").decode()
        for _ in batches:
            pass
        yield pd.DataFrame(
            {
                "module": [zipimport.zipimporter.invalidate_caches.__module__],
                "cmd": [cmd],
            }
        )

    df = spark.range(2, numPartitions=2)
    rows = df.mapInPandas(probe, "module string, cmd string").collect()
    assert rows
    for row in rows:
        assert row.module == "pyspark_graft_worker"
        assert "pyspark.daemon" in row.cmd

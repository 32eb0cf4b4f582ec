"""The stat-guarded zipimport cache colcrush installs on import
(colcrush/_pyworker.py): unchanged archives are not re-read, rewritten
ones are, in-process and inside a reused Spark Python worker."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

import colcrush  # noqa: F401  (installs the guard)
from colcrush import _pyworker

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="CPython 3.12+ re-reads zip directories lazily"
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip holding module ``_ccz_a`` on sys.path and imported, plus a
    list that records every ``zipimport._read_directory`` of it."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["_ccz_a"])
    reads = []
    stock = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return stock(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    saved_path = list(sys.path)
    saved_cache = dict(sys.path_importer_cache)
    saved_modules = dict(sys.modules)
    sys.path.insert(0, archive)
    try:
        assert importlib.import_module("_ccz_a").NAME == "_ccz_a"
        yield archive, reads
    finally:
        sys.path[:] = saved_path
        for key in set(sys.path_importer_cache) - set(saved_cache):
            del sys.path_importer_cache[key]
        for name in set(sys.modules) - set(saved_modules):
            del sys.modules[name]
        zipimport._zip_directory_cache.pop(archive, None)


def test_unchanged_archive_is_not_reread(zip_on_path):
    _, reads = zip_on_path
    importlib.invalidate_caches()  # the first re-read records the stamp
    del reads[:]
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []


def test_rewritten_archive_is_reread(zip_on_path):
    archive, reads = zip_on_path
    importlib.invalidate_caches()
    _write_zip(archive, ["_ccz_a", "_ccz_b"])
    del reads[:]
    importlib.invalidate_caches()
    assert reads == [archive]
    assert importlib.import_module("_ccz_b").NAME == "_ccz_b"


def test_install_is_idempotent():
    guarded = zipimport.zipimporter.invalidate_caches
    assert guarded._colcrush_stat_guard
    _pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is guarded


def test_reused_spark_worker_skips_zip_rereads(spark):
    """Inside a Spark Python worker, once colcrush is imported, a
    repeated ``importlib.invalidate_caches()`` (what pyspark's
    ``setup_spark_files`` runs before every task) re-reads no zip
    directory. Without the guard every zipimporter re-reads its
    archive on each call."""
    import pyarrow as pa

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import colcrush  # noqa: F401

        reads = []
        stock = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return stock(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
            del reads[:]
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock
        importers = sum(
            isinstance(v, zipimport.zipimporter) for v in sys.path_importer_cache.values()
        )
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"reads": [len(reads)], "importers": [importers]})

    df = spark.range(0, 1, numPartitions=1)
    row = df.mapInArrow(probe, "reads long, importers long").collect()[0]
    if row["importers"] == 0:
        pytest.skip("the Python workers import pyspark from no zip archive")
    assert row["reads"] == 0

"""The per-task import-cache guard (wormpy_spark/_pyworker.py).

Pure-Python checks run on a temporary zip archive with
``zipimport._read_directory`` wrapped in a counter: an unchanged
archive is not re-read, a rewritten one is, and a deleted one behaves
as stock. The Spark check counts the directory reads PySpark's
per-task ``importlib.invalidate_caches()`` causes in the workers.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport
from collections import Counter

import pytest

from wormpy_spark import _pyworker

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython >= 3.13 re-reads zip directories lazily; no guard",
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on sys.path holding one module, imported once; yields
    (path, per-archive read counter). Restores every import cache."""
    _pyworker.install()
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"wpw_mod_a": "X = 1\n"})
    reads: Counter = Counter()
    stock_read = zipimport._read_directory

    def counted(a):
        reads[a] += 1
        return stock_read(a)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    sys.path.insert(0, path)
    try:
        assert importlib.import_module("wpw_mod_a").X == 1
        yield path, reads
    finally:
        sys.path.remove(path)
        for name in ("wpw_mod_a", "wpw_mod_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(path, None)
        zipimport._zip_directory_cache.pop(path, None)
        _pyworker._stamps.pop(path, None)


def test_unchanged_archive_is_not_reread(archive):
    path, reads = archive
    importlib.invalidate_caches()  # stamps the archive (at most one read)
    assert reads[path] <= 2  # import + stamping read
    reads.clear()
    for _ in range(50):
        importlib.invalidate_caches()
    assert reads[path] == 0
    assert sys.path_importer_cache[path]._files is (
        zipimport._zip_directory_cache[path]
    )


def test_rewritten_archive_is_reread(archive):
    path, reads = archive
    importlib.invalidate_caches()
    # rewritten in place: same inode, new size and mtime
    _write_zip(path, {"wpw_mod_a": "X = 1\n", "wpw_mod_b": "Y = 2\n"})
    reads.clear()
    importlib.invalidate_caches()
    assert reads[path] == 1
    assert importlib.import_module("wpw_mod_b").Y == 2


def test_deleted_archive_keeps_stock_behaviour(archive):
    path, _ = archive
    importlib.invalidate_caches()
    os.remove(path)
    importlib.invalidate_caches()  # must not raise
    assert sys.path_importer_cache[path]._files == {}
    assert path not in zipimport._zip_directory_cache
    assert path not in _pyworker._stamps


def test_install_twice_is_noop():
    _pyworker.install()
    _pyworker.install()
    guard = zipimport.zipimporter.invalidate_caches
    assert guard is _pyworker._invalidate_caches
    assert _pyworker._stock_invalidate_caches is not guard


def test_workers_skip_zip_rereads(spark):
    """A worker that ran a package task keeps the guard: later tasks'
    per-task invalidate_caches() reads no zip directory. Each task
    reports the reads since the same worker's previous probe task (-1
    on a worker's first probe)."""
    from wormpy_spark.functions.urlnorm import normalize_url

    def probe(batches):
        import zipimport as _zi

        import pyarrow as pa

        normalize_url  # unpickling this function imports the package
        rd = _zi._read_directory
        if not hasattr(rd, "reads"):
            stock_read = rd

            def rd(a):
                rd.reads += 1
                return stock_read(a)

            rd.reads = 0
            _zi._read_directory = rd
            since = -1
        else:
            since = rd.reads - _zi._wpw_last
        _zi._wpw_last = rd.reads
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"reads": [since]})

    df = spark.range(16).repartition(8)
    for _ in range(3):
        reports = df.mapInArrow(probe, "reads long").collect()
    probed = [r["reads"] for r in reports if r["reads"] >= 0]
    assert probed, "no worker ran two probe tasks"
    assert probed == [0] * len(probed)

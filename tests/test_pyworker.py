"""The Python-worker daemon's zip-directory guard (``pyworker``).

A guarded ``importlib.invalidate_caches()`` re-reads an archive only
after it changed, and the engine's session runs its workers under that
guard.
"""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from transitdata_omm_cancellation_source_spark import pyworker

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13 defers the re-read, so the stock method is kept",
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def guarded_zip(tmp_path, monkeypatch):
    """An importable zip on ``sys.path`` under the guard, and the list of
    archives ``zipimport`` reads a directory from."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["zmod_a"])
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", pyworker.invalidate_caches)
    monkeypatch.syspath_prepend(archive)
    yield archive, reads
    for name in ("zmod_a", "zmod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)
    pyworker._directories.pop(archive, None)


def test_guard_rereads_an_archive_only_after_it_changed(guarded_zip):
    archive, reads = guarded_zip
    assert importlib.import_module("zmod_a").NAME == "zmod_a"
    importer = sys.path_importer_cache[archive]
    assert isinstance(importer, zipimport.zipimporter)

    importlib.invalidate_caches()  # the first invalidation stamps the archive
    assert reads.count(archive) == 2
    files = importer._files
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(archive) == 2
    assert importer._files is files

    # one more module: a new size and a new mtime
    st = os.stat(archive)
    _write_zip(archive, ["zmod_a", "zmod_b"])
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    importlib.invalidate_caches()
    assert reads.count(archive) == 3
    assert importer._files is not files
    assert importlib.import_module("zmod_b").NAME == "zmod_b"


def test_session_workers_run_under_the_guard(spark):
    def guard_module(batches):
        import zipimport

        import pandas as pd

        for _ in batches:
            yield pd.DataFrame({"m": [zipimport.zipimporter.invalidate_caches.__module__]})

    rows = spark.range(1, numPartitions=1).mapInPandas(guard_module, "m string").collect()
    assert [r.m for r in rows] == [pyworker.__name__]

"""The stat-checked zip-directory guard of the engine's Python workers."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from web_content_extractor_spark import pyworker

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13 invalidates zipimporter caches lazily; no guard",
)

STAMP = (2020, 1, 1, 0, 0, 0)  # fixed entry times: equal content, equal size


def write_zip(path, modules: dict[str, str]) -> None:
    """(Re)write ``path`` in place (same inode) with stored entries."""
    with zipfile.ZipFile(path, "w", zipfile.ZIP_STORED) as z:
        for name, src in modules.items():
            z.writestr(zipfile.ZipInfo(name, STAMP), src)


@pytest.fixture
def guard(monkeypatch):
    """The guard installed for one test; the stdlib method comes back
    at teardown."""
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    pyworker.install()
    pyworker.install()  # idempotent
    assert zipimport.zipimporter.invalidate_caches is pyworker._stat_checked_invalidate


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """``put(modules)``: write a zip archive and put it on sys.path.  Its
    importers and ``wce_*`` modules are dropped at teardown."""
    path = str(tmp_path / "mods.zip")

    def put(modules: dict[str, str]) -> str:
        write_zip(path, modules)
        monkeypatch.syspath_prepend(path)
        return path

    yield put
    for name in [n for n in sys.modules if n.startswith("wce_")]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(path, None)


@pytest.fixture
def read_counter(monkeypatch):
    """Archive paths passed to ``zipimport._read_directory``, in order."""
    calls = []
    real = zipimport._read_directory

    def counted(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    return calls


def test_rewrite_at_a_new_size_is_seen(guard, zip_on_path):
    path = zip_on_path({"wce_size_a.py": "V = 1\n"})
    assert importlib.import_module("wce_size_a").V == 1
    importlib.invalidate_caches()  # records the stamp
    st = os.stat(path)
    write_zip(path, {"wce_size_a.py": "V = 1\n", "wce_size_b.py": "V = 2\n"})
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns))  # only the size moves
    new = os.stat(path)
    assert (new.st_mtime_ns, new.st_ino) == (st.st_mtime_ns, st.st_ino)
    assert new.st_size != st.st_size
    importlib.invalidate_caches()
    assert importlib.import_module("wce_size_b").V == 2


def test_rewrite_at_the_same_size_with_a_new_mtime_is_seen(guard, zip_on_path):
    path = zip_on_path({"wce_mtime_a.py": "V = 1\n", "wce_mtime_x.py": "V = 8\n"})
    assert importlib.import_module("wce_mtime_a").V == 1
    importlib.invalidate_caches()  # records the stamp
    st = os.stat(path)
    write_zip(path, {"wce_mtime_a.py": "V = 1\n", "wce_mtime_y.py": "V = 9\n"})
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    new = os.stat(path)
    assert (new.st_size, new.st_ino) == (st.st_size, st.st_ino)
    importlib.invalidate_caches()
    assert importlib.import_module("wce_mtime_y").V == 9
    with pytest.raises(ImportError):
        importlib.import_module("wce_mtime_x")


def test_unchanged_archive_is_not_reread(zip_on_path, read_counter, monkeypatch):
    path = zip_on_path(
        {
            "wce_pkg/__init__.py": "",
            "wce_pkg/sub/__init__.py": "",
            "wce_pkg/sub/mod.py": "V = 3\n",
        },
    )
    assert importlib.import_module("wce_pkg.sub.mod").V == 3
    importers = [
        v
        for v in sys.path_importer_cache.values()
        if isinstance(v, zipimport.zipimporter) and v.archive == path
    ]
    assert len(importers) >= 3  # the archive, wce_pkg/ and wce_pkg/sub/

    def reads() -> int:
        n = read_counter.count(path)
        read_counter.clear()
        return n

    read_counter.clear()
    importlib.invalidate_caches()  # stdlib: one re-read per importer
    assert reads() == len(importers)
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    pyworker.install()
    importlib.invalidate_caches()  # first guarded round: one read, stamped
    assert reads() == 1
    for _ in range(3):
        importlib.invalidate_caches()
        assert reads() == 0
    assert importlib.import_module("wce_pkg.sub.mod").V == 3


def test_spark_worker_runs_with_the_guard(spark):
    def body(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        import web_content_extractor_spark  # noqa: F401  (installs the guard)

        importlib.invalidate_caches()  # a fresh worker's first guarded round
        calls = []
        real = zipimport._read_directory

        def counted(archive):
            calls.append(archive)
            return real(archive)

        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        importers = sum(
            isinstance(v, zipimport.zipimporter)
            for v in sys.path_importer_cache.values()
        )
        for _ in batches:
            pass
        yield pd.DataFrame({"reads": [len(calls)], "importers": [importers]})

    rows = (
        spark.range(0, 8, 1, 4)
        .mapInPandas(body, "reads long, importers long")
        .collect()
    )
    assert len(rows) == 4
    assert all(r.importers > 0 for r in rows)  # pyspark.zip and friends
    assert [r.reads for r in rows] == [0, 0, 0, 0]
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"

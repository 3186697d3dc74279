"""The worker-side zip-cache guard and the package shipping of
``ballet_spark.session``.

The contract tests call the installer directly (no Spark) and put the
stdlib method back afterwards; the worker test checks that a Python
worker running an engine kernel has the guard and the driver does not.
The shipping test drives ``ship_package`` with a stub session.
"""

import importlib
import os
import sys
import types
import zipfile
import zipimport

import pyarrow as pa
import pytest

from ballet_spark import session

needs_eager_invalidate = pytest.mark.skipif(
    sys.version_info >= (3, 13)
    or not hasattr(zipimport.zipimporter, "invalidate_caches"),
    reason="zipimporter.invalidate_caches is already lazy or absent",
)


def test_ship_package_zips_sources_and_removes_zip_at_exit(tmp_path, monkeypatch):
    added, hooks = [], []
    monkeypatch.setattr(session.tempfile, "gettempdir", lambda: str(tmp_path))
    monkeypatch.setattr(
        session.atexit, "register", lambda fn, *a: hooks.append((fn, a))
    )
    stub = types.SimpleNamespace(
        sparkContext=types.SimpleNamespace(addPyFile=added.append)
    )
    session.ship_package(stub)
    session.ship_package(stub)  # second session: same zip, no rebuild
    zip_path = str(tmp_path / f"ballet_spark_pyfiles_{os.getpid()}.zip")
    assert added == [zip_path, zip_path]
    with zipfile.ZipFile(zip_path) as zf:
        names = zf.namelist()
    assert "ballet_spark/__init__.py" in names
    assert "ballet_spark/operators/dedup.py" in names
    assert all(n.endswith(".py") and "__pycache__" not in n for n in names), names
    assert len(hooks) == 1
    fn, args = hooks[0]
    fn(*args)
    assert not os.path.exists(zip_path)
    fn(*args)  # an already-removed zip is not an error


def _is_stdlib(method) -> bool:
    return method.__module__ == "zipimport" and not hasattr(method, "_stat_keyed")


@pytest.fixture
def guard():
    stdlib = zipimport.zipimporter.invalidate_caches
    assert _is_stdlib(stdlib)
    session._install_zip_cache_guard()
    yield
    zipimport.zipimporter.invalidate_caches = stdlib


@pytest.fixture
def reads(monkeypatch):
    """Archive paths passed to ``zipimport._read_directory``."""
    seen = []
    read = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


@pytest.fixture
def archive(tmp_path, monkeypatch):
    path = str(tmp_path / "zc_pkg.zip")
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("zc_mod_a.py", "X = 1\n")
    monkeypatch.syspath_prepend(path)
    yield path
    for name in ("zc_mod_a", "zc_mod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


@needs_eager_invalidate
def test_unchanged_archive_is_read_at_most_once(guard, archive, reads):
    assert importlib.import_module("zc_mod_a").X == 1
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(archive) <= 1


@needs_eager_invalidate
def test_rewritten_archive_is_reread(guard, archive, reads):
    importlib.import_module("zc_mod_a")
    importlib.invalidate_caches()
    with zipfile.ZipFile(archive, "w") as zf:  # same inode, new size
        zf.writestr("zc_mod_a.py", "X = 1\n")
        zf.writestr("zc_mod_b.py", "Y = 2\n")
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("zc_mod_b").Y == 2


@needs_eager_invalidate
def test_deleted_archive_falls_back_to_stdlib(guard, archive, reads, tmp_path):
    importlib.import_module("zc_mod_a")
    importlib.invalidate_caches()
    (tmp_path / "zc_pkg.zip").unlink()
    reads.clear()
    importlib.invalidate_caches()  # raises nothing
    importer = sys.path_importer_cache[archive]
    assert reads.count(archive) == 1  # the stdlib's failed re-read
    assert importer._files == {}
    assert archive not in zipimport._zip_directory_cache


@needs_eager_invalidate
def test_second_install_does_not_rewrap(guard):
    first = zipimport.zipimporter.invalidate_caches
    session._install_zip_cache_guard()
    assert zipimport.zipimporter.invalidate_caches is first


@needs_eager_invalidate
def test_workers_run_the_guard_and_the_driver_does_not(spark):
    # nested, so it pickles by value: workers cannot import this module
    def _worker_probe(batches):
        import importlib
        import zipimport

        import ballet_spark  # noqa: F401  (as an engine kernel's unpickle does)

        for _ in batches:
            pass
        method = zipimport.zipimporter.invalidate_caches
        read = zipimport._read_directory
        calls = []

        def counting(archive):
            calls.append(archive)
            return read(archive)

        importlib.invalidate_caches()  # records any archive not yet keyed
        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        yield pa.RecordBatch.from_pydict({
            "patched": [hasattr(method, "_stat_keyed")],
            "reads": [len(calls)],
        })

    n = spark.sparkContext.defaultParallelism
    out = (
        spark.range(0, n, 1, numPartitions=n)
        .mapInArrow(_worker_probe, "patched boolean, reads long")
        .toArrow()
        .to_pylist()
    )
    assert len(out) == n
    assert all(r["patched"] for r in out), out
    assert all(r["reads"] == 0 for r in out), out
    assert _is_stdlib(zipimport.zipimporter.invalidate_caches)

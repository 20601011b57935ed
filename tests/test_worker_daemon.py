"""The worker daemon's stat-checked ``zipimporter.invalidate_caches``:
unit tests of the stat check (no Spark), then the worker path through
the session's own daemon."""

from __future__ import annotations

import importlib
import os
import sys
import uuid
import zipfile
import zipimport

import pytest

from weather_tools_spark import worker_daemon as WD

# importing the module installs the method; keep the pytest process on
# the stock one and call the daemon's method explicitly below
zipimport.zipimporter.invalidate_caches = WD._stock_invalidate_caches


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture
def reads(monkeypatch):
    """Count the archive directory reads zipimport makes."""
    calls = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def test_cpython_zipimport_internals_the_patch_relies_on(tmp_path):
    path = str(tmp_path / "internals.zip")
    _write_zip(path, {"internals_mod": "X = 1\n"})
    imp = zipimport.zipimporter(path)
    assert isinstance(zipimport._zip_directory_cache, dict)
    assert callable(zipimport._read_directory)
    assert WD._stock_invalidate_caches.__module__ == "zipimport"
    WD._stock_invalidate_caches(imp)
    # the stock method reads into ``_files`` and shares it through the cache
    assert imp.archive == path
    assert "internals_mod.py" in imp._files
    assert zipimport._zip_directory_cache[path] is imp._files


def test_unchanged_archive_is_not_reread(tmp_path, reads):
    path = str(tmp_path / "same.zip")
    _write_zip(path, {"same_mod": "X = 1\n"})
    imp = zipimport.zipimporter(path)
    WD.invalidate_caches(imp)  # no stamp recorded yet: a read
    reads.clear()
    other = zipimport.zipimporter(path)  # a second package path in the archive
    for _ in range(3):
        WD.invalidate_caches(imp)
        WD.invalidate_caches(other)
    assert reads == []
    assert imp._files is other._files is zipimport._zip_directory_cache[path]


@pytest.mark.parametrize("change", ["size", "mtime"])
def test_archive_rewritten_in_place_is_reread(tmp_path, reads, change):
    path = str(tmp_path / "rewritten.zip")
    _write_zip(path, {"old_mod": "X = 1\n"})
    imp = zipimport.zipimporter(path)
    WD.invalidate_caches(imp)
    reads.clear()
    before = os.stat(path)
    if change == "size":
        _write_zip(path, {"old_mod": "X = 1\n", "new_mod": "Y = 2\n"})
        assert os.stat(path).st_size != before.st_size
    else:
        os.utime(path, ns=(before.st_atime_ns, before.st_mtime_ns + 1_000_000_000))
    WD.invalidate_caches(imp)
    WD.invalidate_caches(imp)
    assert reads == [path]
    assert ("new_mod.py" in imp._files) == (change == "size")


def test_module_added_to_archive_imports_after_invalidate_caches(tmp_path, monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", WD.invalidate_caches)
    tag = uuid.uuid4().hex[:12]
    first, added = f"wd_first_{tag}", f"wd_added_{tag}"
    path = str(tmp_path / f"grow_{tag}.zip")
    _write_zip(path, {first: "X = 1\n"})
    monkeypatch.syspath_prepend(path)
    try:
        assert importlib.import_module(first).X == 1
        importlib.invalidate_caches()  # records the archive's stamp
        _write_zip(path, {first: "X = 1\n", added: "Y = 2\n"})
        importlib.invalidate_caches()
        assert importlib.import_module(added).Y == 2
    finally:
        sys.modules.pop(first, None)
        sys.modules.pop(added, None)
        sys.path_importer_cache.pop(path, None)


def test_deleted_archive_gives_the_stock_outcome(tmp_path):
    outcomes = []
    for method in (WD._stock_invalidate_caches, WD.invalidate_caches):
        path = str(tmp_path / f"gone_{len(outcomes)}.zip")
        _write_zip(path, {"gone_mod": "X = 1\n"})
        imp = zipimport.zipimporter(path)
        method(imp)
        os.remove(path)
        method(imp)
        outcomes.append((imp._files, path in zipimport._zip_directory_cache))
    assert outcomes == [({}, False), ({}, False)]


def test_reused_workers_run_the_package_method(spark):
    sc = spark.sparkContext
    n = max(8, 2 * sc.defaultParallelism)

    def probe(_):
        import os
        import zipimport

        yield os.getpid(), zipimport.zipimporter.invalidate_caches.__module__

    seen = [row for _ in range(2) for row in sc.parallelize(range(n), n).mapPartitions(probe).collect()]
    assert len(seen) == 2 * n
    assert {module for _, module in seen} == {"weather_tools_spark.worker_daemon"}
    pids = [pid for pid, _ in seen]
    assert len(set(pids)) < len(pids), "no Python worker ran a second task"


def test_zip_added_mid_session_imports_in_a_task(spark, tmp_path):
    sc = spark.sparkContext
    name = f"wd_pyfile_{uuid.uuid4().hex[:12]}"
    path = str(tmp_path / f"{name}.zip")
    _write_zip(path, {name: "VALUE = 42\n"})
    sc.addPyFile(path)

    def load(_):
        import importlib
        import zipimport

        yield importlib.import_module(name).VALUE, zipimport.zipimporter.invalidate_caches.__module__

    got = sc.parallelize(range(4), 4).mapPartitions(load).collect()
    assert got == [(42, "weather_tools_spark.worker_daemon")] * 4

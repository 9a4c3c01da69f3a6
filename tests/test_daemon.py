"""The engine's Python worker daemon: stat-checked zip archive caches, and
the session settings that select it."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from modlyn_spark import _daemon, session


def _write_zip(path, value: int) -> None:
    """An archive holding ``zmod_daemon_probe.py`` with ``VALUE = value``;
    fixed entry timestamps, so equal-width values give equal-size files."""
    info = zipfile.ZipInfo("zmod_daemon_probe.py", date_time=(2024, 1, 1, 0, 0, 0))
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(info, f"VALUE = {value}\n")


_REREAD = _daemon._reread


@pytest.fixture
def probe_zip(tmp_path, monkeypatch):
    path = str(tmp_path / "probe.zip")
    _write_zip(path, 1)
    reads = []

    def counting_reread(self):
        if self.archive == path:
            reads.append(path)
        _REREAD(self)

    monkeypatch.setattr(_daemon, "_reread", counting_reread)
    monkeypatch.setattr(_daemon, "_stamps", {})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", _daemon.invalidate_caches)
    monkeypatch.syspath_prepend(path)
    yield path, reads
    sys.modules.pop("zmod_daemon_probe", None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


def test_unchanged_archive_is_not_reread(probe_zip):
    path, reads = probe_zip
    assert importlib.import_module("zmod_daemon_probe").VALUE == 1
    importlib.invalidate_caches()  # first sight: read once and stamp
    assert reads == [path]
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == [path]


@pytest.mark.parametrize("change", ["size", "mtime"])
def test_rewritten_archive_is_reread(probe_zip, change):
    path, reads = probe_zip
    assert importlib.import_module("zmod_daemon_probe").VALUE == 1
    importlib.invalidate_caches()
    st = os.stat(path)
    if change == "size":
        _write_zip(path, 12345)
        expected = 12345
    else:
        _write_zip(path, 7)  # same size: only the mtime tells it apart
        assert os.stat(path).st_size == st.st_size
        expected = 7
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert reads == [path, path]
    sys.modules.pop("zmod_daemon_probe")
    assert importlib.import_module("zmod_daemon_probe").VALUE == expected


def test_workers_run_the_engine_daemon(spark):
    def probe(_):
        import zipimport

        f = zipimport.zipimporter.invalidate_caches
        yield f.__module__, f.__qualname__

    sc = spark.sparkContext
    assert sc.getConf().get("spark.python.daemon.module") == "modlyn_spark._daemon"
    got = set(sc.parallelize(range(4), 4).mapPartitions(probe).collect())
    assert got == {("modlyn_spark._daemon", "invalidate_caches")}


def test_python_worker_conf_by_master():
    root = session._PACKAGE_ROOT
    conf = session._python_worker_conf("local[4]", {})
    assert conf == {
        "spark.executorEnv.PYTHONPATH": root,
        "spark.python.daemon.module": "modlyn_spark._daemon",
    }
    # merged with a value already set, and an explicit daemon kept
    conf = session._python_worker_conf(
        "local[*]",
        {
            "spark.executorEnv.PYTHONPATH": "/data/libs",
            "spark.python.daemon.module": "pyspark.daemon",
        },
    )
    assert conf == {"spark.executorEnv.PYTHONPATH": os.pathsep.join(["/data/libs", root])}
    # cluster masters keep Spark's daemon: the nodes may hold the package
    # only through --py-files or --archives, which the daemon cannot import
    assert session._python_worker_conf("yarn", {}) == {}
    assert session._python_worker_conf("k8s://https://host:443", {}) == {}

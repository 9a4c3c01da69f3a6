"""Python worker daemon: ``pyspark.daemon`` with stat-checked zip caches.

``session.get_spark`` points ``spark.python.daemon.module`` here. Every
Python task starts with ``pyspark.worker_util.setup_spark_files``, which
calls ``importlib.invalidate_caches()``; on CPython 3.10+ that makes each
live ``zipimporter`` re-read its whole archive directory. A worker holds
one importer per package imported from a zip (a dozen into
``pyspark.zip`` alone), so an empty task spent ~0.25 s re-reading
archives that never change (measured on a 4-core host, CPython 3.11,
pyspark 4.1: an empty 32-task job on ``local[4]`` took 2.2-2.5 s, and
0.56-0.60 s with this daemon).

The patch keeps invalidation correct: an archive's directory is re-read
whenever its ``(mtime_ns, size)`` differs from the stamp taken before the
last read, so a rewritten archive is still picked up. It is installed in
the daemon before ``pyspark.daemon`` runs, and every forked worker
inherits it together with the stamps the daemon primed.

Run as ``python -m modlyn_spark._daemon [worker_module]``; the arguments
pass through to ``pyspark.daemon`` unchanged. Keep this module
import-light: the daemon starts inside session set-up.
"""

from __future__ import annotations

import importlib
import os
import runpy
import zipimport

_stamps: dict[str, tuple[int, int]] = {}
_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read the archive directory only if the archive changed on disk
    since the last read (or was never read through this patch)."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        # unchanged: share the directory another importer already re-read
        self._files = files
        return
    _reread(self)
    if stamp is None:
        _stamps.pop(self.archive, None)
    else:
        # the stamp taken BEFORE the read: a rewrite racing the read
        # leaves a stale stamp, so the next call reads again
        _stamps[self.archive] = stamp


def install() -> None:
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def main() -> None:
    install()
    # import the worker before forking and stamp every archive it came
    # from, so forked workers start with a warm, stamped zip cache
    importlib.import_module("pyspark.worker")
    importlib.invalidate_caches()
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)


if __name__ == "__main__":
    # run the copy imported under the package name, so the patch (and its
    # stamps) live in ``modlyn_spark._daemon``, not in ``__main__``
    from modlyn_spark._daemon import main as _main

    _main()

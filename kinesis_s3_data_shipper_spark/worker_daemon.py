"""Python worker daemon: ``pyspark.daemon`` with a per-worker zip
directory cache.

Every Python task starts in ``pyspark/worker_util.py::
setup_spark_files``, which calls ``importlib.invalidate_caches()`` so
that files added with ``addPyFile`` become importable. On CPython each
``zipimporter`` answers that by re-reading its archive's whole central
directory. A worker holds 16 of them (12 ``pyspark.zip`` subpackages,
2 for py4j and 2 for the spark-core jar), which cost 120-230 ms per
task on an idle 4-core VM, more than the splitter or the sink spend on
a small wave.

Before the daemon forks its workers, :func:`install` makes an importer
re-read its archive only when the archive's ``(st_ino, st_size,
st_mtime_ns)`` changed since it was last read, so an unchanged archive
costs one ``stat``. Forked workers inherit the patch, and
``invalidate_caches()`` still runs on every task, so new ``addPyFile``
paths and directory finders are still picked up.

``session.get_session`` names this module in
``spark.python.daemon.module``. It imports only the standard library and
``pyspark.daemon``, which Spark's worker ``PYTHONPATH`` provides.
"""

from __future__ import annotations

import os
import zipimport

#: CPython's own ``zipimporter.invalidate_caches``: re-read the archive.
_reread = zipimport.zipimporter.invalidate_caches

#: archive path -> ``(st_ino, st_size, st_mtime_ns)`` at its last read.
_stamps: dict[str, tuple[int, int, int]] = {}


def _stamp(archive: str) -> tuple[int, int, int]:
    st = os.stat(archive)
    return st.st_ino, st.st_size, st.st_mtime_ns


def _invalidate_caches(self) -> None:
    """Re-read ``self.archive`` only if it changed since its last read;
    otherwise adopt the directory that read left in
    ``zipimport._zip_directory_cache``."""
    try:
        stamp = _stamp(self.archive)
    except OSError:
        # Gone or unreadable: CPython's answer (an empty listing).
        _stamps.pop(self.archive, None)
        _reread(self)
        return
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _reread(self)
    _stamps[self.archive] = stamp


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` (idempotent). The archives
    already read in this process are stamped as they are now, so the
    importers created before the patch skip their re-read too."""
    for archive in zipimport._zip_directory_cache:
        try:
            _stamps.setdefault(archive, _stamp(archive))
        except OSError:
            pass
    zipimport.zipimporter.invalidate_caches = _invalidate_caches


if __name__ == "__main__":
    from pyspark import daemon

    install()
    daemon.manager()

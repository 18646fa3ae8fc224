"""Keep a zip's import directory while the zip is unchanged (Python < 3.12).

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark/worker_util.py:setup_spark_files``). With
``SPARK_HOME`` set, workers import pyspark from ``pyspark.zip`` (1,328
entries), and on Python 3.11 each of the dozen or so
``zipimport.zipimporter`` objects pointing into a zip re-reads the zip's
whole central directory on every invalidation: about 0.25 s of CPU per
task in a reused worker before the task reads a row. CPython 3.12 made
that re-read lazy (gh-103200), so there the guard is not installed.

:func:`install` wraps ``zipimporter.invalidate_caches``: while the
archive's ``(st_mtime_ns, st_size, st_ino)`` equals the stamp taken when
its directory was last read, the importer keeps that directory; when the
stamp differs, it re-reads exactly as before, so a zip replaced through
``addPyFile`` or ``--py-files`` is still reloaded. Every later read is
stamped (``zipimport._read_directory`` is wrapped, and the stat is taken
before the read); a directory read before the guard is installed is
stamped with the archive's stat at install time, so it is trusted as
current then. In a worker that holds: the task's own invalidation
re-read every zip just before the task body imported the package.

Importing :mod:`warcio_spark` installs it, so a worker that unpickles an
engine task body keeps its zip directories from its second task on.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport

_MARK = "_warcio_spark_zipguard"


def _stamp(archive: str):
    """The archive's identity, or None when it cannot be stat'ed."""
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def install() -> None:
    """Install the guard once; a no-op on Python 3.12+ or when installed."""
    if sys.version_info >= (3, 12):
        return
    importer = zipimport.zipimporter
    if getattr(importer.invalidate_caches, _MARK, False):
        return
    read = zipimport._read_directory
    reread = importer.invalidate_caches
    stamps = {archive: _stamp(archive)
              for archive in zipimport._zip_directory_cache}

    @functools.wraps(read)
    def read_directory(archive):
        stamp = _stamp(archive)
        files = read(archive)
        stamps[archive] = stamp
        return files

    @functools.wraps(reread)
    def invalidate_caches(self):
        files = zipimport._zip_directory_cache.get(self.archive)
        stamp = _stamp(self.archive)
        if (files is not None and stamp is not None
                and stamp == stamps.get(self.archive)):
            self._files = files
        else:
            reread(self)

    setattr(invalidate_caches, _MARK, True)
    zipimport._read_directory = read_directory
    importer.invalidate_caches = invalidate_caches

"""Stat-gated ``zipimporter.invalidate_caches`` for CPython < 3.12.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every Python task (``pyspark/worker_util.py:setup_spark_files``).  On
CPython 3.11 that makes every ``zipimporter`` in
``sys.path_importer_cache`` re-read its archive's whole central
directory: a worker holds ~16 of them (``pyspark.zip`` and its package
directories, the py4j zip, the spark-core jar on the worker path), about
27k entries, 0.23-0.27 s of every task on a 4-vCPU host.  CPython 3.12 made
the re-read lazy (gh-103200).

Here an importer re-reads its archive only when ``os.stat`` of the
archive differs from the stamp taken at its last read; an importer with
no stamp yet reads once.  An archive rewritten on disk is still
re-read.  Every engine UDF pickles a ``legal_ner_spark`` function by
reference, so a worker installs this the first time it runs an engine
task, and later tasks on the reused worker skip the re-reads.

A local session that ``session.get_spark`` launches runs its workers under
``legal_ner_spark.daemon``, which imports this package (and so installs
this) before it forks any worker and swaps the pyspark and py4j zips for
compiled directories: only the spark-core jar stays a zip on such a
worker's path.  Cluster workers start under the stock ``pyspark.daemon``
with every zip on their path, and still need this.
"""

from __future__ import annotations

import os
import sys
import zipimport


_reload = zipimport.zipimporter.invalidate_caches


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino, st.st_ctime_ns


def invalidate_caches(self):
    """Reload the file data of the archive path if it changed on disk
    since this importer last read it."""
    # stamp before reading: a rewrite racing the read leaves a stale
    # stamp, so the next call reads again
    stamp = _stamp(self.archive)
    if stamp is not None and stamp == getattr(self, "_stat_stamp", None):
        return
    _reload(self)
    self._stat_stamp = stamp


def install() -> None:
    """Replace ``zipimporter.invalidate_caches`` on CPython < 3.12."""
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = invalidate_caches

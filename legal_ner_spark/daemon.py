"""Python worker daemon that imports pyspark from compiled bytecode.

Spark starts each Python worker daemon with ``$SPARK_HOME/python/lib``'s
zips first on ``PYTHONPATH``.  ``pyspark.zip`` holds ~1,170 ``.py`` files
and no ``.pyc``, so every daemon compiles pyspark from source (``import
pyspark.daemon``: ~0.9 s from the zip, ~0.16 s from compiled files on a
4-vCPU host), and each forked worker compiles the ``pyspark.sql`` modules
that unpickling a UDF imports.

``build`` extracts every ``python/lib/*.zip`` into one directory of the
cache, ``py-<key>/<zip name>``, and compiles it with ``compileall``;
``<key>`` hashes each zip's real path, size and ``st_mtime_ns`` with the
interpreter's ``sys.implementation.cache_tag``.  It builds into a
temporary directory, writes the completion marker last and renames the
directory into place, then deletes the directories of other keys.

Run as ``python -m legal_ner_spark.daemon`` (``session.get_spark`` names
it in ``spark.python.daemon.module`` for the local sessions it launches),
the module recomputes the key from the zips on ``sys.path``, replaces each
zip entry with its compiled directory when that directory is complete,
and runs ``pyspark.daemon.manager()``; forked workers inherit the path and
the modules already loaded.  A missing or partial directory, another
interpreter or a changed zip leaves the stock zip path.

Standard library only: nothing may import pyspark before the swap (the
package ``__init__`` imports only ``zipcache``).
"""

from __future__ import annotations

import compileall
import glob
import hashlib
import os
import shutil
import sys
import tempfile
import time
import zipfile

_MARKER = "complete"
_PREFIX = "py-"
_STALE_BUILD_S = 3600


def cache_dir() -> str:
    """``$XDG_CACHE_HOME/legal_ner_spark`` (``~/.cache`` by default)."""
    return os.path.join(os.environ.get("XDG_CACHE_HOME")
                        or os.path.expanduser("~/.cache"), "legal_ner_spark")


def compiled_dir(lib_dir: str, cache: str) -> tuple[str, list[str]] | None:
    """The compiled directory for ``lib_dir``'s zips and those zips (real
    paths, sorted), or None when there are none or the interpreter keeps
    no bytecode."""
    tag = sys.implementation.cache_tag
    zips = sorted(os.path.realpath(z)
                  for z in glob.glob(os.path.join(lib_dir, "*.zip")))
    if tag is None or not zips:
        return None
    key = hashlib.sha256(tag.encode())
    try:
        for z in zips:
            st = os.stat(z)
            key.update(repr((z, st.st_size, st.st_mtime_ns)).encode())
    except OSError:
        return None
    return os.path.join(cache, _PREFIX + key.hexdigest()[:24]), zips


def _tree(root: str, zip_path: str) -> str:
    return os.path.join(root, os.path.basename(zip_path)[:-len(".zip")])


def complete(path: str) -> bool:
    return os.path.isfile(os.path.join(path, _MARKER))


def build(lib_dir: str, cache: str) -> str | None:
    """Build the compiled directory of ``lib_dir``'s zips unless it is
    complete already; returns it, or None when it cannot be built."""
    found = compiled_dir(lib_dir, cache)
    if found is None:
        return None
    target, zips = found
    if complete(target):
        return target
    try:
        os.makedirs(cache, exist_ok=True)
        tmp = tempfile.mkdtemp(prefix=".build-", dir=cache)
    except OSError:
        return None
    try:
        for z in zips:
            with zipfile.ZipFile(z) as zf:
                zf.extractall(_tree(tmp, z))
            compileall.compile_dir(_tree(tmp, z), ddir=_tree(target, z),
                                   quiet=2)
        open(os.path.join(tmp, _MARKER), "w").close()
        if not complete(target):
            shutil.rmtree(target, ignore_errors=True)
        os.rename(tmp, target)
    except (OSError, zipfile.BadZipFile):
        shutil.rmtree(tmp, ignore_errors=True)
        return target if complete(target) else None
    for old in glob.glob(os.path.join(cache, _PREFIX + "*")):
        if old != target:
            shutil.rmtree(old, ignore_errors=True)
    for old in glob.glob(os.path.join(cache, ".build-*")):
        try:
            stale = time.time() - os.stat(old).st_mtime > _STALE_BUILD_S
        except OSError:
            stale = False
        if stale:
            shutil.rmtree(old, ignore_errors=True)
    return target


def swap(path: list[str], cache: str) -> str | None:
    """Replace, in ``path``, each ``python/lib`` zip entry with its tree in
    the complete compiled directory and drop the zip's importers from
    ``sys.path_importer_cache``.  Returns the directory swapped in, or None
    (``path`` untouched)."""
    lib = next((os.path.dirname(os.path.realpath(p)) for p in path
                if os.path.basename(p) == "pyspark.zip"), None)
    found = None if lib is None else compiled_dir(lib, cache)
    if found is None or not complete(found[0]):
        return None
    target, zips = found
    for i, p in enumerate(path):
        real = os.path.realpath(p)
        if real in zips:
            path[i] = _tree(target, real)
            for k in list(sys.path_importer_cache):
                if k == p or k.startswith(p + os.sep):
                    del sys.path_importer_cache[k]
    return target


if __name__ == "__main__":
    swap(sys.path, cache_dir())
    from pyspark import daemon
    daemon.manager()

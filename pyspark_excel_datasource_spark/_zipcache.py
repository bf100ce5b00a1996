"""Stat-gated ``zipimporter.invalidate_caches`` for CPython < 3.13.

Every Python-worker invocation starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython 3.11/3.12 that
makes every cached ``zipimporter`` re-read its archive's whole central
directory; Spark puts ``pyspark.zip`` (1,328 entries) first on the
worker's ``sys.path`` and a worker holds 15 or more importers over it,
so each invocation spends ~50-80 ms re-reading an archive that has not
changed. CPython 3.13 made the re-read lazy, so the hook is not installed
there.

The replacement keeps the stock contract, keyed on the archive's
``(st_mtime_ns, st_size, st_ino)``:

- archive unchanged since this process last read it: the importer is
  pointed at the shared cached directory, nothing is re-read;
- archive rewritten (a re-added pyFile, say): re-read exactly as stock;
- archive gone: the stock method runs, and fails the stock way.

The package ``__init__`` imports this module, so the hook is live in every
Python worker that unpickles one of the package's data sources or UDFs,
and stays in force while Spark reuses that worker. Workers that never
import the package keep the stock behaviour.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport

#: archive path -> stat stamp taken just before its directory was last read
_STAMPS: dict[str, tuple[int, int, int]] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _make_hook(stock):
    @functools.wraps(stock)
    def invalidate_caches(self) -> None:
        archive = self.archive
        stamp = _stamp(archive)
        if stamp is not None and _STAMPS.get(archive) == stamp:
            cached = zipimport._zip_directory_cache.get(archive)
            if cached is not None:
                self._files = cached
                return
        # stamp BEFORE the read: a rewrite racing the read leaves an old
        # stamp, so the next call re-reads instead of trusting stale data
        stock(self)
        if stamp is not None and archive in zipimport._zip_directory_cache:
            _STAMPS[archive] = stamp
        else:
            _STAMPS.pop(archive, None)

    return invalidate_caches


def install() -> None:
    """Install the hook once per process (no-op on CPython >= 3.13)."""
    if sys.version_info >= (3, 13):
        return
    current = zipimport.zipimporter.invalidate_caches
    if hasattr(current, "__wrapped__"):
        return
    zipimport.zipimporter.invalidate_caches = _make_hook(current)

"""Python worker daemon for local sessions.

Spark forks every Python worker from one daemon process and, before each
task, calls ``importlib.invalidate_caches()`` (``worker_util.
setup_spark_files``). On CPython < 3.12 that makes every cached
``zipimporter`` re-read the whole central directory of its archive: a
worker holds one importer per package directory it imported from
``pyspark.zip`` (16 in a worker that has run a task), so each task
re-parses the 1,328-entry directory 16 times, a median 0.17 CPU-s per
task on CPython 3.11 (BASELINE.md "Python worker set-up"). CPython 3.12
made the method lazy (gh-103200).

This module is the daemon ``session.get_spark`` starts for ``local[...]``
masters (``spark.python.daemon.module``). On CPython < 3.12 it replaces
``zipimporter.invalidate_caches`` before the first fork with a version
that re-reads an archive only when its ``(st_mtime_ns, st_size)`` stamp
changed; one read is shared through ``zipimport._zip_directory_cache`` by
every importer of that archive, exactly as importers built after the read
share it. The stamps are taken in the daemon, so forked workers inherit
them. An archive that cannot be stat'ed goes to the stdlib method, which
drops it from the cache and leaves the importer empty. Then it runs
``pyspark.daemon.manager()``; on 3.12+ it is the plain pyspark daemon.

Run as ``python -m gmall_flink_yb_spark.worker_daemon`` (Spark passes the
worker module as the first argument, which ``pyspark.daemon`` reads).
"""

from __future__ import annotations

import os
import sys
import zipimport
from typing import Callable

STDLIB_INVALIDATE_CACHES = zipimport.zipimporter.invalidate_caches


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def stamped_invalidate_caches() -> Callable[[zipimport.zipimporter], None]:
    """A ``zipimporter.invalidate_caches`` that skips unchanged archives.

    Every archive already in ``zipimport._zip_directory_cache`` is stamped
    now; an archive first seen later is read once and stamped then."""
    cache = zipimport._zip_directory_cache
    stamps = {a: s for a in list(cache) if (s := _stamp(a)) is not None}

    def invalidate_caches(self: zipimport.zipimporter) -> None:
        archive = self.archive
        stamp = _stamp(archive)
        if stamp is None:
            stamps.pop(archive, None)
            STDLIB_INVALIDATE_CACHES(self)
            return
        files = cache.get(archive)
        if files is not None and stamps.get(archive) == stamp:
            self._files = files
            return
        # stamp taken before the read: a write racing the read leaves an
        # old stamp behind, so the next call reads again
        STDLIB_INVALIDATE_CACHES(self)
        if archive in cache:
            stamps[archive] = stamp
        else:
            stamps.pop(archive, None)

    return invalidate_caches


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` on CPython < 3.12."""
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = stamped_invalidate_caches()


def main() -> None:
    from pyspark import daemon  # fills the zip cache before the stamps

    install()
    daemon.manager()


if __name__ == "__main__":
    main()

"""Python worker daemon for the crawl engine (``spark.python.daemon.module``).

Spark forks every Python task's worker from this daemon. Before running
user code, each task calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython 3.11 that makes
every cached ``zipimporter`` re-read its archive's directory, and the
workers import pyspark from ``pyspark.zip`` (1,328 entries) plus the py4j
zip through 14-16 such importers: about 0.2 s per task before any UDF
row is touched (SCALE.md, "Python worker cost").

The archives already on ``sys.path`` when the daemon starts are Spark's
own, fixed for the life of the session, so their invalidation is made a
no-op. Archives that arrive later (``addPyFile`` / ``--py-files`` zips
under ``userFiles-*``) keep the normal invalidation. Everything else is
``pyspark.daemon.manager()`` unchanged.

Set by ``session.get_spark`` only for the ``local[...]`` masters it
launches itself: only then is the package on the daemon's PYTHONPATH.
"""

from __future__ import annotations

import os
import sys
import zipimport


def freeze_startup_archives() -> None:
    """Make ``invalidate_caches`` a no-op for the zip archives on sys.path now."""
    frozen = frozenset(os.path.abspath(p) for p in sys.path
                       if os.path.isfile(p))
    reload_directory = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        if os.path.abspath(self.archive) not in frozen:
            reload_directory(self)

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    freeze_startup_archives()
    from pyspark.daemon import manager
    manager()

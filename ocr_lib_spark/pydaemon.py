"""Python worker daemon whose workers do not re-read SPARK_HOME's zips.

``get_spark`` starts Spark's python daemon through this module
(``spark.python.daemon.module``). At the start of every task the stock
worker calls ``importlib.invalidate_caches()``, and on CPython 3.11
each ``zipimporter`` answers by re-parsing its archive's central
directory. Workers load pyspark from ``$SPARK_HOME/python/lib``, so a
warm worker held 15-16 zip importers (11-12 on the 1,328-entry
``pyspark.zip``, 2 on py4j, 2 on the 5,359-entry spark-core jar) and
re-parsed ~26.7k directory entries per task: 0.15-0.29 s of Python CPU
before the kernel ran, against 13-16 ms of JVM CPU for the task.

The archives on ``sys.path`` when the daemon starts never change while
it lives, so their importers are sealed: ``invalidate_caches`` becomes
a no-op for them, and forked workers inherit that. Archives added
later (``sc.addPyFile`` zips) keep the stock re-read.

The daemon imports this package through the worker's working directory
or ``PYTHONPATH`` — the same precondition every Arrow kernel in the
package already has. It starts before ``--py-files`` are added, so a
``spark-submit --py-files`` deployment cannot use it; such a deployment
needs the package installed on the executors.
"""

from __future__ import annotations

import os
import sys
import zipimport

import pyspark.daemon


class _SealedZipImporter(zipimport.zipimporter):
    """A zip importer for an archive that does not change underneath it."""

    def invalidate_caches(self) -> None:
        pass


def _seal_archives(archives: frozenset[str]) -> None:
    """Make every importer for ``archives``, cached or created later,
    a ``_SealedZipImporter``."""

    def seal(importer):
        if type(importer) is zipimport.zipimporter and importer.archive in archives:
            importer.__class__ = _SealedZipImporter
        return importer

    hook = sys.path_hooks.index(zipimport.zipimporter)
    sys.path_hooks[hook] = lambda path: seal(zipimport.zipimporter(path))
    for importer in sys.path_importer_cache.values():
        seal(importer)


if __name__ == "__main__":
    _seal_archives(frozenset(p for p in sys.path if os.path.isfile(p)))
    pyspark.daemon.manager()

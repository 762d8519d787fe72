"""Python worker daemon: ``pyspark.daemon`` minus the per-task archive re-reads.

Every Python task ends ``pyspark.worker_util.setup_spark_files`` with
``importlib.invalidate_caches()`` so that files shipped with ``addPyFile``
become importable. On CPython 3.11 that call makes every ``zipimporter`` in
``sys.path_importer_cache`` re-read its whole archive directory. A warm
worker holds 16 of them: 12 on ``$SPARK_HOME/python/lib/pyspark.zip``
(1,328 entries), 2 on the spark-core jar (5,359 entries) and 2 on py4j.
Measured inside workers on a 4-CPU host, that is 111-120 ms of CPU
per task, whatever the task's size.

This module wraps ``zipimport.zipimporter.invalidate_caches`` before the
daemon forks any worker. Archives that were already on ``sys.path`` when
the daemon started (the PYTHONPATH the JVM launched it with: Spark's
``pyspark.zip``, py4j and the spark-core jar) are no longer re-read; they
cannot change while the JVM that put them there runs. Every other archive
is re-read exactly as before. That includes every ``addPyFile`` and
``spark.submit.pyFiles`` shipment: the worker puts those on ``sys.path``
under ``SparkFiles.getRootDirectory()`` per task, after the daemon started.

``session.DEFAULT_CONF`` selects it with ``spark.python.daemon.module``
and puts the package's parent directory on the workers' PYTHONPATH.
"""

from __future__ import annotations

import sys
import zipimport


def skip_launch_archives() -> None:
    """Wrap ``zipimporter.invalidate_caches`` so that it no longer re-reads
    the archives on the current ``sys.path``. Archives added to the path
    later are re-read as before."""
    reread = zipimport.zipimporter.invalidate_caches
    launch_path = frozenset(sys.path)

    def invalidate_caches(self: zipimport.zipimporter) -> None:
        if self.archive not in launch_path:
            reread(self)

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    skip_launch_archives()  # before the daemon forks its first worker

    from pyspark import daemon

    daemon.manager()

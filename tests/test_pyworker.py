"""Python workers run the package's daemon module (``pyworker.py``).

All tests use the shared session, so they check the configuration every
other test runs under. None of them times anything: each checks the state
that a task sees inside its worker.
"""

from __future__ import annotations

import os
import uuid
import zipfile

import telemetry_parquet_spark
from telemetry_parquet_spark.session import PACKAGE_PARENT

PYWORKER = os.path.join(os.path.dirname(telemetry_parquet_spark.__file__), "pyworker.py")


def _one_task(spark, fn):
    """Run ``fn()`` as one Python task and return its result. The task
    drains its input: a worker that leaves input unread exits instead of
    going back to the daemon for reuse."""
    rdd = spark.sparkContext.parallelize([0], 1)
    return rdd.mapPartitions(lambda rows: [fn() for _ in rows]).collect()[0]


def test_workers_import_the_package_from_its_parent_dir(spark):
    def probe():
        import os
        import sys

        return sys.path, os.environ.get("PYTHONPATH", "").split(os.pathsep)

    sys_path, py_path = _one_task(spark, probe)
    assert PACKAGE_PARENT in sys_path
    # from the conf, not from the JVM's cwd
    assert PACKAGE_PARENT in py_path


def test_invalidate_caches_is_the_package_wrapper(spark):
    def probe():
        import zipimport

        fn = zipimport.zipimporter.invalidate_caches
        return fn.__name__, fn.__code__.co_filename

    name, filename = _one_task(spark, probe)
    assert name == "invalidate_caches"
    assert os.path.realpath(filename) == os.path.realpath(PYWORKER)


def test_spark_archives_are_not_reread_between_tasks(spark):
    """Importers of one archive share the directory object that the first
    of them read, until something re-reads the archive. So one shared
    object in a task means that no invalidation since the daemon imported
    pyspark re-read it, including the one that set up this task."""

    def probe():
        import importlib
        import os
        import sys
        import zipimport

        zips = [
            z for z in sys.path_importer_cache.values()
            if isinstance(z, zipimport.zipimporter)
            and os.path.basename(z.archive) == "pyspark.zip"
        ]
        shared = {id(z._files) for z in zips}
        before = zips[0]._files if zips else None
        importlib.invalidate_caches()
        return len(zips), len(shared), all(z._files is before for z in zips)

    for _ in range(2):  # the second task may reuse the first one's worker
        n_zips, n_shared, kept = _one_task(spark, probe)
        assert n_zips > 1
        assert n_shared == 1
        assert kept


def test_shipped_py_and_zip_import_after_a_warm_task(spark, tmp_path):
    sc = spark.sparkContext
    _one_task(spark, lambda: None)  # a worker has run a task already
    tag = uuid.uuid4().hex[:12]
    mod, pkg = f"shipped_mod_{tag}", f"shipped_pkg_{tag}"
    py_file = tmp_path / f"{mod}.py"
    py_file.write_text("VALUE = 7\n")
    zip_file = tmp_path / f"{pkg}.zip"
    with zipfile.ZipFile(zip_file, "w") as zf:
        zf.writestr(f"{pkg}/__init__.py", "VALUE = 11\n")
    sc.addPyFile(str(py_file))
    sc.addPyFile(str(zip_file))

    def probe():
        import importlib

        return (importlib.import_module(mod).VALUE, importlib.import_module(pkg).VALUE)

    assert _one_task(spark, probe) == (7, 11)

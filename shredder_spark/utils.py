"""Executor-side plumbing helpers."""

from __future__ import annotations

import os
import sys
import tempfile
import zipfile
import zipimport

from pyspark.sql import SparkSession

_SHIPPED: set[str] = set()


def ensure_package_on_executors(spark: SparkSession) -> None:
    """Make ``shredder_spark`` importable in Python workers.

    Any operator that crosses the Python boundary (pandas_udf,
    mapInArrow, applyInPandas) closes over this package; cloudpickle
    serializes those closures *by reference*, so the workers must be
    able to import the module — regardless of the driver process cwd,
    and on a real cluster regardless of what's deployed on executor
    nodes. Ship the package once per session as a zip via addPyFile
    (the standard dependency-shipping path; SparkFiles handles
    distribution at 1000-executor scale).
    """
    app_id = spark.sparkContext.applicationId
    if app_id in _SHIPPED:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(tempfile.gettempdir(),
                            f"shredder_spark_pkg_{os.getpid()}.zip")
    if not os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                if "__pycache__" in root:
                    continue
                for fn in files:
                    if not fn.endswith(".py"):
                        continue
                    full = os.path.join(root, fn)
                    rel = os.path.join("shredder_spark",
                                       os.path.relpath(full, pkg_dir))
                    zf.write(full, rel)
    spark.sparkContext.addPyFile(zip_path)
    _SHIPPED.add(app_id)


def skip_unchanged_zip_rereads() -> None:
    """PySpark's worker calls ``importlib.invalidate_caches()`` before
    every task; on CPython < 3.12 that re-reads the directory of every
    zip on ``sys.path`` (~0.3 s of CPU per task). Make each importer
    re-read only when its archive's ``(st_ino, st_size, st_mtime_ns)``
    differs from its last read, or it has none. Idempotent."""
    cls = zipimport.zipimporter
    if sys.version_info >= (3, 12) or hasattr(cls, "_stock_invalidate"):
        return
    stock = cls.invalidate_caches

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_dir_stamp", None):
            stock(self)
            self._dir_stamp = stamp

    cls._stock_invalidate = stock
    cls.invalidate_caches = invalidate_caches

"""Python worker daemon for local sessions: ``pyspark.daemon`` with pyspark
imported from the installed package's bytecode, not from Spark's source zip.

The JVM starts the daemon as ``python -m <this module> pyspark.worker``
with ``$SPARK_HOME/python/lib/pyspark.zip`` and the ``spark-core`` jar on
``PYTHONPATH``. The zip holds sources only, so every daemon compiles what
it imports, and every ``importlib.invalidate_caches()`` (one per task, in
``pyspark.worker_util.setup_spark_files``) re-reads each zip importer's
directory, the jar's included. When the zip's ``pyspark/version.py`` is
byte-identical to that of the pyspark the rest of ``sys.path`` finds, the
zip and ``$SPARK_HOME/jars/*.jar`` leave ``sys.path`` and
``sys.path_importer_cache`` before anything imports pyspark; ``py4j`` and
every other entry stay. Otherwise nothing changes. Either way
``pyspark.daemon`` then runs as ``__main__`` and the workers fork from it.
Nothing here writes to stdout (the JVM reads the daemon's port there) or
imports pyspark, and neither does the package's ``__init__``.
"""

from __future__ import annotations

import os
import runpy
import sys
import zipimport
from importlib.machinery import PathFinder


def _prune_spark_archives(path: list[str], cache: dict, spark_home: str) -> bool:
    """Drop Spark's pyspark zip and jars from ``path`` and ``cache`` if the
    zip holds the same pyspark release as the rest of ``path``; return
    whether it did."""
    if not spark_home:
        return False
    home = os.path.realpath(spark_home)
    shipped_zip = os.path.join(home, "python", "lib", "pyspark.zip")
    jars = os.path.join(home, "jars")
    real = {p: os.path.realpath(p) for p in path}
    if shipped_zip not in real.values():
        return False
    spark = [
        p for p in path
        if real[p] == shipped_zip or (os.path.dirname(real[p]) == jars and real[p].endswith(".jar"))
    ]
    rest = [p for p in path if p not in spark]
    spec = PathFinder.find_spec("pyspark", rest)
    if spec is None or not spec.submodule_search_locations:
        return False
    try:
        with open(os.path.join(spec.submodule_search_locations[0], "version.py"), "rb") as fh:
            installed = fh.read()
        shipped = zipimport.zipimporter(shipped_zip).get_data("pyspark/version.py")
    except (OSError, ImportError):
        return False
    if installed != shipped:
        return False
    path[:] = rest
    for key in list(cache):
        if any(key == p or key.startswith(p + os.sep) for p in spark):
            del cache[key]
    return True


if __name__ == "__main__":
    _prune_spark_archives(sys.path, sys.path_importer_cache, os.environ.get("SPARK_HOME", ""))
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)

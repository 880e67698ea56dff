"""PySpark daemon that imports pyspark from ``$SPARK_HOME/python``.

``build_spark`` names this module as ``spark.python.daemon.module``. Spark
puts ``python/lib/pyspark.zip`` and its own ``spark-core`` jar on the
workers' ``PYTHONPATH``, and PySpark's worker calls
``importlib.invalidate_caches()`` on every task. On Python 3.11 that makes
every cached ``zipimporter`` re-read its archive's central directory: about
0.35 CPU-s per task for the 1,328-entry zip and the 5,359-entry jar. The
unzipped tree beside the zip holds the same pyspark, and Spark's own jars hold
no Python, so only the small py4j zip is left to re-read.

It lives at the repo root, outside the package, because the package imports
pyspark and this must run before anything does.
"""

from __future__ import annotations

import os
import sys


def rewrite_path(path: list, importer_cache: dict, spark_home: str | None) -> None:
    """Put ``$SPARK_HOME/python`` first on ``path`` in place of Spark's
    ``pyspark.zip``, drop the entries under ``$SPARK_HOME/jars`` and forget
    the importers already cached for the dropped entries. Spark records its
    jar by resolved path and the zip by ``$SPARK_HOME``, so both compare by
    ``realpath``. Leaves ``path`` alone when the tree is absent."""
    if not spark_home:
        return
    tree = os.path.join(spark_home, "python")
    if not os.path.isfile(os.path.join(tree, "pyspark", "__init__.py")):
        return
    zip_path = os.path.realpath(os.path.join(tree, "lib", "pyspark.zip"))
    jars = os.path.join(os.path.realpath(os.path.join(spark_home, "jars")), "")
    dropped = {
        p for p in path
        if (real := os.path.realpath(p)) == zip_path or real.startswith(jars)
    }
    path[:] = [tree] + [p for p in path if p not in dropped]
    for p in dropped:
        importer_cache.pop(p, None)


if __name__ == "__main__":
    rewrite_path(sys.path, sys.path_importer_cache, os.environ.get("SPARK_HOME"))
    # Compile in memory as the zip import did, rather than write
    # __pycache__ into the Spark install.
    sys.dont_write_bytecode = True
    from pyspark.daemon import manager

    manager()

"""The Python daemon's ``sys.path`` rewrite (``spark_worker_daemon``): a
Spark-free check of the rewrite itself, and a check from inside a worker of
the shared test session that pyspark comes from ``$SPARK_HOME/python``."""

from __future__ import annotations

import os

import pytest

import spark_worker_daemon


def _fake_spark_home(tmp_path, with_tree=True):
    """A versioned install reached through a ``spark`` symlink, laid out as
    Spark ships it."""
    real = tmp_path / "spark-4.1.2-bin-hadoop3"
    for rel in (
        "python/lib/pyspark.zip",
        "python/lib/py4j-0.10.9.9-src.zip",
        "jars/spark-core_x.jar",
    ):
        (real / rel).parent.mkdir(parents=True, exist_ok=True)
        (real / rel).write_bytes(b"")
    if with_tree:
        (real / "python/pyspark").mkdir()
        (real / "python/pyspark/__init__.py").write_text("")
    home = tmp_path / "spark"
    home.symlink_to(real)
    return str(home), str(real)


def _worker_path(tmp_path, home, real):
    """``sys.path`` as the daemon starts: Spark's zips under ``$SPARK_HOME``,
    its jar by resolved path, then a user jar and a staging dir from
    ``$PYTHONPATH``."""
    return [
        str(tmp_path / "cwd"),
        os.path.join(home, "python/lib/pyspark.zip"),
        os.path.join(home, "python/lib/py4j-0.10.9.9-src.zip"),
        os.path.join(real, "jars/spark-core_x.jar"),
        str(tmp_path / "user/udfs.jar"),
        str(tmp_path / "bdts-protobuf-stage"),
        "/site-packages",
    ]


def test_rewrite_replaces_zip_and_drops_spark_jars(tmp_path):
    home, real = _fake_spark_home(tmp_path)
    path = _worker_path(tmp_path, home, real)
    cache = {p: object() for p in path}
    spark_zip, spark_jar = path[1], path[3]
    kept = {p: v for p, v in cache.items() if p not in (spark_zip, spark_jar)}

    spark_worker_daemon.rewrite_path(path, cache, home)

    assert path == [
        os.path.join(home, "python"),
        str(tmp_path / "cwd"),
        os.path.join(home, "python/lib/py4j-0.10.9.9-src.zip"),
        str(tmp_path / "user/udfs.jar"),
        str(tmp_path / "bdts-protobuf-stage"),
        "/site-packages",
    ]
    assert cache == kept


@pytest.mark.parametrize("case", ["no-tree", "no-spark-home"])
def test_rewrite_leaves_path_alone_without_tree(tmp_path, case):
    home, real = _fake_spark_home(tmp_path, with_tree=False)
    path = _worker_path(tmp_path, home, real)
    cache = {p: object() for p in path}
    before_path, before_cache = list(path), dict(cache)

    spark_worker_daemon.rewrite_path(
        path, cache, home if case == "no-tree" else None
    )

    assert path == before_path
    assert cache == before_cache


def test_workers_import_pyspark_from_spark_home_tree(spark):
    spark_home = os.environ.get("SPARK_HOME")
    tree = os.path.join(spark_home or "", "python")
    if not os.path.isfile(os.path.join(tree, "pyspark", "__init__.py")):
        pytest.skip("no unzipped pyspark under $SPARK_HOME/python")

    def probe(batches):
        import sys
        import zipimport

        import pandas as pd
        import pyspark

        for _ in batches:
            pass
        zips = [
            key for key, importer in sys.path_importer_cache.items()
            if isinstance(importer, zipimport.zipimporter)
        ]
        yield pd.DataFrame({"file": [pyspark.__file__], "zips": [zips]})

    row = (
        spark.range(1, numPartitions=1)
        .mapInPandas(probe, "file string, zips array<string>")
        .collect()[0]
    )

    real = os.path.realpath
    assert real(row.file) == real(os.path.join(tree, "pyspark", "__init__.py"))
    spark_zip = real(os.path.join(tree, "lib", "pyspark.zip"))
    spark_jars = os.path.join(real(os.path.join(spark_home, "jars")), "")
    stale = [
        key for key in row.zips
        if real(key).startswith(spark_zip) or real(key).startswith(spark_jars)
    ]
    assert not stale, stale

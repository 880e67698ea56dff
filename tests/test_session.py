"""What ``build_spark`` sets up, checked on the shared test session.

The Python daemon's ``sys.path`` rewrite (``spark_worker_daemon``): a
Spark-free check of the rewrite itself, and a check from inside a worker
that pyspark comes from ``$SPARK_HOME/python``. The shuffle and state
partitions: sized from the session's cores, and pinned per checkpoint for a
stream started before that sizing. The checkpoint manager: the FileSystem
one on a local master, Spark's default on any other, still refusing to
overwrite, and able to resume a checkpoint the default one started. The
driver JVM's CDS archive: its claim, key, size check and promotion as
plain functions over a fake JDK and Spark install, then one session that
dumps it and one that maps it. The NIO local file system: no ``chmod``
process for a partitioned write or a checkpointed stream, the same file
modes as the stock file system, and which launches get its jar (plain
functions over a fake ``javac``)."""

from __future__ import annotations

import json
import os
import stat
import subprocess
import sys
import zipfile
from types import SimpleNamespace

import pytest
from py4j.protocol import Py4JJavaError

import spark_worker_daemon
from big_data_toolkit_spark import session
from big_data_toolkit_spark.catalog import load_table
from big_data_toolkit_spark.streaming import trending, windows
from tests.conftest import SF_SMOKE, count_process_starts


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


def _event_half_writer(spark, src):
    """The smoke corpus's events in time order, cut in two. Returns their
    schema and ``write(i)``, which writes half ``i`` as the ``i``-th file
    under ``src``: one file per micro-batch."""
    events = load_table(spark, SF_SMOKE, "events").orderBy("ts")
    rows = events.collect()
    halves = (rows[: len(rows) // 2], rows[len(rows) // 2 :])

    def write(i):
        spark.createDataFrame(halves[i], events.schema).coalesce(1).write.parquet(
            os.path.join(src, f"batch_{i:04d}")
        )

    return events.schema, write


def _replay_trending(spark, schema, src, out):
    """Run ``stream_trending`` over every file under ``src`` not yet in the
    checkpoint under ``out``, one file per micro-batch, appending to the
    parquet sink in ``out``. A file sink, unlike the memory sink, can
    restart from its checkpoint."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(src, "batch_*"))
    )
    query = (
        trending.stream_trending(stream)
        .writeStream.format("parquet")
        .outputMode("append")
        .option("path", os.path.join(out, "rows"))
        .option("checkpointLocation", os.path.join(out, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(300)
    assert query.exception() is None
    return [json.loads(p.json) for p in query.recentProgress]


def _final_trend_rows(spark, out):
    """The last update per (key, window) in the sink under ``out``."""
    final: dict = {}
    for r in spark.read.parquet(os.path.join(out, "rows")).collect():
        k = (r["event_type"], r["window_start"])
        if k not in final or r["cnt"] > final[k]["cnt"]:
            final[k] = r
    return {
        (k[0], k[1], v["cnt"], v["prev_cnt"], v["trending"])
        for k, v in final.items()
    }


def _batch_trend_rows(spark):
    """``_final_trend_rows``'s shape from the batch twin."""
    return {
        (r["event_type"], r["window_start"], r["cnt"], r["prev_cnt"], r["trending"])
        for r in windows.trending_events(spark, SF_SMOKE).collect()
    }


def test_shuffle_and_state_partitions_are_twice_the_local_cores(
    spark, tmp_path
):
    assert spark.sparkContext.defaultParallelism == 4
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"

    src = str(tmp_path / "src")
    schema, write = _event_half_writer(spark, src)
    write(0)
    write(1)
    progress = _replay_trending(spark, schema, src, str(tmp_path / "out"))

    assert len(progress) == 2
    for p in progress:
        assert p["stateOperators"][0]["numShufflePartitions"] == 8


def test_checkpoint_keeps_the_partition_count_it_started_with(
    spark, tmp_path
):
    """A stream whose checkpoint was written with 32 state partitions
    restarts on the sized default with its own 32: its keys stay in the
    state partitions that hold them, so the state carries over."""
    key = "spark.sql.shuffle.partitions"
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    schema, write = _event_half_writer(spark, src)
    write(0)
    default = spark.conf.get(key)
    spark.conf.set(key, "32")
    try:
        first = _replay_trending(spark, schema, src, out)
    finally:
        spark.conf.set(key, default)
    assert [p["stateOperators"][0]["numShufflePartitions"] for p in first] == [32]

    write(1)
    assert spark.conf.get(key) == "8"
    second = _replay_trending(spark, schema, src, out)

    assert [p["batchId"] for p in second] == [1]
    assert second[-1]["stateOperators"][0]["numShufflePartitions"] == 32
    assert _final_trend_rows(spark, out) == _batch_trend_rows(spark)


_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
_FILE_CONTEXT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileContextBasedCheckpointFileManager"
)


def _checkpoint_manager(spark, path):
    """The manager Spark's streaming layer creates for ``path`` under the
    session's current conf."""
    jvm = spark._jvm
    return jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(path),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )


def test_local_session_checkpoints_through_the_filesystem_manager(
    spark, tmp_path
):
    assert spark.conf.get(_MANAGER_KEY) == session._LOCAL_CHECKPOINT_MANAGER
    manager = _checkpoint_manager(spark, str(tmp_path))
    assert manager.getClass().getName() == session._LOCAL_CHECKPOINT_MANAGER


@pytest.mark.parametrize(
    "master, extra, expected",
    [
        ("local[4]", None, session._LOCAL_CHECKPOINT_MANAGER),
        ("local", None, session._LOCAL_CHECKPOINT_MANAGER),
        ("spark://h:7077", None, None),
        ("local[4]", {_MANAGER_KEY: _FILE_CONTEXT_MANAGER}, None),
    ],
    ids=["local-n", "local", "standalone", "extra-conf-wins"],
)
def test_checkpoint_manager_set_only_on_a_local_master(master, extra, expected):
    """Any other master keeps Spark's default, and ``extra_conf`` wins (its
    value reaches the session through the builder, so nothing is set
    after ``getOrCreate``)."""
    sc = SimpleNamespace(master=master, defaultParallelism=4)
    assert session._session_conf(sc, extra).get(_MANAGER_KEY) == expected


def test_checkpoint_manager_refuses_to_overwrite(spark, tmp_path):
    manager = _checkpoint_manager(spark, str(tmp_path))
    target = spark._jvm.org.apache.hadoop.fs.Path(str(tmp_path / "0"))
    first = manager.createAtomic(target, False)
    first.write(1)
    first.close()

    again = manager.createAtomic(target, False)
    again.write(2)
    with pytest.raises(Py4JJavaError, match="FileAlreadyExists|already exists"):
        again.close()
    assert (tmp_path / "0").read_bytes() == bytes([1])


def test_checkpoint_from_the_default_manager_resumes(spark, tmp_path):
    """Half the events checkpointed under Spark's FileContext manager, the
    rest after a restart on the engine's: the state carries over and the
    final rows are the batch answer."""
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    schema, write = _event_half_writer(spark, src)
    write(0)
    spark.conf.unset(_MANAGER_KEY)
    try:
        manager = _checkpoint_manager(spark, str(tmp_path))
        assert manager.getClass().getName() == _FILE_CONTEXT_MANAGER
        first = _replay_trending(spark, schema, src, out)
    finally:
        spark.conf.set(_MANAGER_KEY, session._LOCAL_CHECKPOINT_MANAGER)
    assert [p["batchId"] for p in first] == [0]

    write(1)
    second = _replay_trending(spark, schema, src, out)

    assert [p["batchId"] for p in second] == [1]
    assert _final_trend_rows(spark, out) == _batch_trend_rows(spark)


# --- Driver JVM class-data-sharing archive ------------------------------


@pytest.fixture
def cds_env(tmp_path, monkeypatch):
    """A fake JDK and Spark install and a cache, all under ``tmp_path``, so
    no test reads or deletes a real archive. Returns the cds directory."""
    java_home, spark_home = tmp_path / "jdk", tmp_path / "spark"
    for rel in ("bin/java", "lib/server/libjvm.so"):
        (java_home / rel).parent.mkdir(parents=True, exist_ok=True)
        (java_home / rel).write_bytes(b"jvm")
    (spark_home / "jars").mkdir(parents=True)
    (spark_home / "jars/spark-core.jar").write_bytes(b"jar")
    (spark_home / "conf").mkdir()
    (spark_home / "conf/spark-defaults.conf.template").write_text("")
    monkeypatch.setenv("JAVA_HOME", str(java_home))
    monkeypatch.setenv("SPARK_HOME", str(spark_home))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    for name in ("SPARK_CONF_DIR", "PYSPARK_SUBMIT_ARGS", *session._CLASSPATH_ENV):
        monkeypatch.delenv(name, raising=False)
    return tmp_path / "cache/big_data_toolkit_spark/cds"


def _dump_and_promote(returncode=0, size=64):
    """One dumping launch: claim, a ``.part`` of ``size`` bytes, exit."""
    archive = session._driver_archive("local[4]", None)
    assert archive.part is not None
    with open(archive.part, "wb") as fh:
        fh.write(b"\0" * size)
    session._promote(archive, returncode)
    return archive


def _files(cds):
    return sorted(p.name for p in cds.iterdir() if p.name != "conf")


def test_missing_archive_gives_one_claimant_the_dump(cds_env):
    first = session._driver_archive("local[4]", None)

    assert first.part is not None and first.claim is not None
    assert f"-XX:ArchiveClassesAtExit={first.part}" in first.java_options
    assert "-Xlog:cds=off -Xlog:cds+dynamic=off" in first.java_options
    assert first.conf_dir == str(cds_env / "conf")
    assert os.listdir(first.conf_dir) == []
    # The claimant is alive (this process): nobody else dumps.
    assert session._driver_archive("local[4]", None) is None


def test_live_claim_makes_a_second_caller_start_stock(cds_env):
    first = session._driver_archive("local[4]", None)
    with open(first.claim, "w") as fh:
        fh.write(str(os.getppid()))

    assert session._driver_archive("local[4]", None) is None


def test_dead_owners_claim_is_reclaimed(cds_env):
    first = session._driver_archive("local[4]", None)
    gone = subprocess.Popen(["true"])
    gone.wait()
    with open(first.claim, "w") as fh:
        fh.write(str(gone.pid))

    again = session._driver_archive("local[4]", None)

    assert again is not None and again.claim == first.claim
    with open(again.claim) as fh:
        assert fh.read() == str(os.getpid())


def test_promoted_archive_is_mapped_and_a_new_jar_set_replaces_it(cds_env):
    old = _dump_and_promote(size=64)
    old_key = os.path.basename(old.part).split(".")[0]
    assert _files(cds_env) == [f"{old_key}-64.jsa"]

    mapped = session._driver_archive("local[4]", None)
    archive = cds_env / f"{old_key}-64.jsa"
    assert mapped.part is None and mapped.claim is None
    assert f"-XX:SharedArchiveFile={archive} -Xshare:auto" in mapped.java_options
    assert "-Xlog:cds=off" in mapped.java_options

    jar = cds_env.parents[2] / "spark/jars/spark-sql.jar"
    jar.write_bytes(b"new jar")
    new = _dump_and_promote(size=96)
    new_key = os.path.basename(new.part).split(".")[0]

    assert new_key != old_key
    assert _files(cds_env) == [f"{new_key}-96.jsa"]


@pytest.mark.parametrize("actual", [10, 0, 128], ids=["truncated", "empty", "longer"])
def test_archive_whose_size_does_not_match_is_deleted_not_mapped(cds_env, actual):
    key = os.path.basename(_dump_and_promote(size=64).part).split(".")[0]
    archive = cds_env / f"{key}-64.jsa"
    archive.write_bytes(b"\0" * actual)

    again = session._driver_archive("local[4]", None)

    assert not archive.exists()
    assert again.part is not None  # no archive: this session dumps
    assert "SharedArchiveFile" not in again.java_options


def test_non_zero_jvm_exit_promotes_nothing(cds_env):
    _dump_and_promote(returncode=1)
    assert _files(cds_env) == []


@pytest.mark.parametrize(
    "master, extra, env",
    [
        ("spark://h:7077", None, {}),
        ("yarn", None, {}),
        ("local[4]", {session._JAVA_OPTIONS_KEY: "-Xss4m"}, {}),
        ("local[4]", {session._CLASSPATH_KEY: "/x.jar"}, {}),
        ("local[4]", None, {"PYSPARK_SUBMIT_ARGS": "--driver-java-options -Xss4m pyspark-shell"}),
        ("local[4]", None, {"HADOOP_CONF_DIR": "/etc/hadoop"}),
    ],
    ids=["standalone", "yarn", "java-options", "class-path", "submit-args", "hadoop-conf"],
)
def test_archive_only_for_a_stock_local_launch(cds_env, monkeypatch, master, extra, env):
    for name, value in env.items():
        monkeypatch.setenv(name, value)
    assert session._driver_archive(master, extra) is None
    assert not cds_env.exists() or _files(cds_env) == []


def test_conf_dir_with_a_user_file_gives_no_archive(cds_env, tmp_path, monkeypatch):
    user_conf = tmp_path / "user-conf"
    user_conf.mkdir()
    (user_conf / "log4j2.properties.template").write_text("")
    monkeypatch.setenv("SPARK_CONF_DIR", str(user_conf))
    assert session._driver_archive("local[4]", None) is not None
    session._remove(str(next(cds_env.glob("*.claim"))))

    (user_conf / "spark-defaults.conf").write_text("spark.ui.enabled false\n")
    assert session._driver_archive("local[4]", None) is None


def test_conf_dir_is_swapped_only_for_the_launch(monkeypatch):
    monkeypatch.setenv("SPARK_CONF_DIR", "/user/conf")
    with session._launch_env({"SPARK_CONF_DIR": "/cache/conf"}):
        assert os.environ["SPARK_CONF_DIR"] == "/cache/conf"
    assert os.environ["SPARK_CONF_DIR"] == "/user/conf"
    monkeypatch.delenv("SPARK_CONF_DIR")
    with session._launch_env({"SPARK_CONF_DIR": "/cache/conf"}):
        pass
    assert "SPARK_CONF_DIR" not in os.environ


def test_uncreatable_cache_gives_no_archive(cds_env, tmp_path, monkeypatch):
    (tmp_path / "not-a-dir").write_text("")
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "not-a-dir"))
    assert session._driver_archive("local[4]", None) is None


_CDS_SESSION = """
import json, os
from pyspark import SparkContext
from big_data_toolkit_spark.session import build_spark

spark = build_spark(app_name="cds-test", master="local[1]")
count = spark.range(1).count()
cache = os.environ["XDG_CACHE_HOME"]
with open(f"/proc/{SparkContext._gateway.proc.pid}/maps") as fh:
    mapped = sorted({
        line.split()[-1] for line in fh
        if line.split()[-1].startswith(cache) and line.rstrip().endswith(".jsa")
    })
jvm = spark._jvm
FileSystem = jvm.org.apache.hadoop.fs.FileSystem
fs = FileSystem.get(
    jvm.java.net.URI("file:///"), spark.sparkContext._jsc.hadoopConfiguration()
).getClass().getName()
stock = FileSystem.getFileSystemClass("file", jvm.org.apache.hadoop.conf.Configuration()).getName()
print(json.dumps({"count": count, "mapped": mapped, "fs": fs, "stock_fs": stock}))
"""


def test_first_session_dumps_the_archive_and_the_next_maps_it(tmp_path):
    """Two real sessions on a fresh cache. The first dumps: it exits
    without stopping, the ``atexit`` hook waits for its JVM, and the
    archive is promoted; its stdout holds only the script's own line; it
    runs the file system Hadoop picks without ``fs.file.impl`` (with the
    Hive jars of a stock Spark build, Hive's ``ProxyLocalFileSystem``). The
    second compiles the NIO file system's
    jar, appends it to its class path, still maps that archive (a jar
    ahead of the dumped class path would make the JDK reject it) and runs
    a job."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, XDG_CACHE_HOME=str(tmp_path), PYTHONPATH=root)
    cds = tmp_path / "big_data_toolkit_spark/cds"

    def run():
        out = subprocess.run(
            [sys.executable, "-c", _CDS_SESSION], cwd=root, env=env,
            capture_output=True, text=True, timeout=240,
        )
        assert out.returncode == 0, out.stderr[-2000:]
        lines = out.stdout.splitlines()
        assert len(lines) == 1, lines[:5]
        return json.loads(lines[0])

    try:
        first = run()
        archives = list(cds.glob("*.jsa"))
        assert (first["count"], first["mapped"]) == (1, [])
        assert first["fs"] == first["stock_fs"] != session._NIO_FS_CLASS
        assert len(archives) == 1
        assert _files(cds) == [archives[0].name]  # no claim, no .part
        size = int(archives[0].stem.rsplit("-", 1)[1])
        assert archives[0].stat().st_size == size

        assert run() == {
            "count": 1, "mapped": [str(archives[0])],
            "fs": session._NIO_FS_CLASS, "stock_fs": first["stock_fs"],
        }
    finally:
        for path in cds.glob("*"):
            if path.is_file():
                path.unlink()


# --- Local file system without chmod forks ------------------------------

_STOCK_FS = "org.apache.hadoop.fs.LocalFileSystem"


@pytest.fixture
def nio_spark(spark):
    """The shared session, which runs ``bdts.NioLocalFileSystem``. The one
    exception is the launch that dumped the CDS archive (the first session
    on a machine), which runs the stock file system by design."""
    if spark.sparkContext._jsc.hadoopConfiguration().get("fs.file.impl") is None:
        options = spark.sparkContext.getConf().get(session._JAVA_OPTIONS_KEY, "")
        assert "-XX:ArchiveClassesAtExit" in options, "stock FS without a dump"
        pytest.skip("the shared session dumps the CDS archive: stock file system")
    return spark


def _local_fs(spark):
    jvm = spark._jvm
    return jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI("file:///"), spark.sparkContext._jsc.hadoopConfiguration()
    )


def _modes(root):
    """Permission bits of ``root`` and everything under it, by relative path."""
    return {
        str(path.relative_to(root)): stat.S_IMODE(path.stat().st_mode)
        for path in (root, *root.rglob("*"))
    }


def _assert_default_modes(root):
    """Files 644 and directories 755: Hadoop's default umask, 022."""
    for rel, mode in _modes(root).items():
        assert mode == (0o755 if (root / rel).is_dir() else 0o644), rel


def test_partitioned_write_starts_no_chmod(nio_spark, tmp_path):
    table = tmp_path / "table"
    rows = nio_spark.range(500).selectExpr("id", "id % 16 AS cell")

    with count_process_starts(nio_spark, "chmod ") as starts:
        rows.write.partitionBy("cell").parquet(str(table))

    assert starts.count == 0
    assert len(list(table.glob("cell=*"))) == 16
    assert nio_spark.read.parquet(str(table)).count() == 500
    _assert_default_modes(table)


def test_checkpointed_stateful_stream_starts_no_chmod(nio_spark, tmp_path):
    src, out = str(tmp_path / "src"), tmp_path / "out"
    schema, write = _event_half_writer(nio_spark, src)
    write(0)
    write(1)

    with count_process_starts(nio_spark, "chmod ") as starts:
        progress = _replay_trending(nio_spark, schema, src, str(out))

    assert [p["batchId"] for p in progress] == [0, 1]
    assert starts.count == 0
    _assert_default_modes(out / "ckpt")


def test_nio_and_stock_file_systems_create_the_same_modes(nio_spark, tmp_path):
    """The same directories and file, checksum included, through the
    session's file system and a stock ``LocalFileSystem`` in the same JVM:
    the same modes, and only the stock one starts ``chmod`` (so the count
    is not blind)."""
    jvm = nio_spark._jvm
    nio = _local_fs(nio_spark)
    stock = jvm.org.apache.hadoop.fs.LocalFileSystem()
    stock.initialize(nio.getUri(), nio.getConf())
    assert nio.getClass().getName() == session._NIO_FS_CLASS

    modes, chmods = {}, {}
    for name, fs in (("nio", nio), ("stock", stock)):
        root = tmp_path / name
        with count_process_starts(nio_spark, "chmod ") as starts:
            fs.mkdirs(jvm.org.apache.hadoop.fs.Path(str(root / "a/b")))
            fs.create(jvm.org.apache.hadoop.fs.Path(str(root / "a/b/f"))).close()
        modes[name], chmods[name] = _modes(root), starts.count

    assert chmods["nio"] == 0 and chmods["stock"] >= 1
    assert modes["nio"] == modes["stock"]
    assert modes["nio"] == {
        ".": 0o755, "a": 0o755, "a/b": 0o755, "a/b/f": 0o644, "a/b/.f.crc": 0o644,
    }


def test_atomic_create_that_may_overwrite_replaces_the_file(nio_spark, tmp_path):
    """Spark writes state-store deltas and snapshots with
    ``overwriteIfPossible``, and the rename behind it replaces an existing
    file, as on Hadoop's ``LocalFileSystem``. (Hive's
    ``ProxyLocalFileSystem``, which Hadoop otherwise resolves ``file:`` to
    on a Spark build with the Hive jars, keeps the old file and leaves the
    temporary one behind.)"""
    manager = _checkpoint_manager(nio_spark, str(tmp_path))
    target = nio_spark._jvm.org.apache.hadoop.fs.Path(str(tmp_path / "1.delta"))
    for byte in (1, 2):
        out = manager.createAtomic(target, True)
        out.write(byte)
        out.close()

    assert (tmp_path / "1.delta").read_bytes() == bytes([2])
    assert sorted(os.listdir(tmp_path)) == [".1.delta.crc", "1.delta"]


def test_sticky_permission_still_sets_the_sticky_bit(nio_spark, tmp_path):
    jvm = nio_spark._jvm
    shared = tmp_path / "shared"
    shared.mkdir()

    _local_fs(nio_spark).setPermission(
        jvm.org.apache.hadoop.fs.Path(str(shared)),
        jvm.org.apache.hadoop.fs.permission.FsPermission("1777"),
    )

    assert stat.S_IMODE(shared.stat().st_mode) == 0o1777


# A javac that prints, as javac does, and writes the two class files.
_FAKE_JAVAC = """#!/bin/sh
echo "Note: compiling"
while [ "$1" != "-d" ]; do shift; done
mkdir -p "$2/bdts"
printf 'class' > "$2/bdts/NioLocalFileSystem.class"
printf 'class' > "$2/bdts/NioLocalFileSystem\\$Raw.class"
"""


@pytest.fixture
def nio_env(cds_env, monkeypatch):
    """``cds_env`` with a promoted archive, a fake ``javac`` next to its
    ``java``, and no JVM running, as before a launch. Returns the jar
    cache directory."""
    _dump_and_promote()
    javac = cds_env.parents[2] / "jdk/bin/javac"
    javac.write_text(_FAKE_JAVAC)
    javac.chmod(0o755)
    monkeypatch.setattr(session.SparkContext, "_gateway", None)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    return cds_env.parent / "jvm"


def test_local_launch_appends_the_compiled_jar_and_maps_the_archive(nio_env, capfd):
    launch = session._launch("local[4]", None)

    jars = list(nio_env.iterdir())  # the temporary build directory is gone
    assert [p.suffix for p in jars] == [".jar"]
    with zipfile.ZipFile(jars[0]) as zf:
        assert sorted(zf.namelist()) == [
            "bdts/NioLocalFileSystem$Raw.class", "bdts/NioLocalFileSystem.class",
        ]
    assert launch.conf[session._FS_IMPL_KEY] == session._NIO_FS_CLASS
    assert launch.env[session._DIST_CLASSPATH_ENV] == str(jars[0])
    assert "-XX:SharedArchiveFile=" in launch.conf[session._JAVA_OPTIONS_KEY]
    assert capfd.readouterr().out == ""

    (nio_env.parents[2] / "jdk/bin/javac").unlink()
    assert session._launch("local[4]", None) == launch  # compiled once


@pytest.mark.parametrize(
    "case",
    [
        "no-javac", "failed-compile", "uncreatable-cache", "standalone",
        "running-gateway", "gateway-port", "extra-conf", "dumping",
    ],
)
def test_stock_file_system_when_the_jar_cannot_join_the_launch(nio_env, monkeypatch, capfd, case):
    master, extra = "local[4]", None
    javac = nio_env.parents[2] / "jdk/bin/javac"
    if case == "no-javac":
        javac.unlink()
    elif case == "failed-compile":
        javac.write_text("#!/bin/sh\necho 'error: bad source'\necho 'error' >&2\nexit 1\n")
    elif case == "uncreatable-cache":
        nio_env.write_text("")
    elif case == "standalone":
        master = "spark://h:7077"
    elif case == "running-gateway":
        monkeypatch.setattr(session.SparkContext, "_gateway", object())
    elif case == "gateway-port":
        monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "1")
    elif case == "extra-conf":
        extra = {session._FS_IMPL_KEY: _STOCK_FS}
    elif case == "dumping":
        for archive in nio_env.parent.glob("cds/*.jsa"):
            archive.unlink()

    launch = session._launch(master, extra)

    assert session._FS_IMPL_KEY not in launch.conf
    assert session._DIST_CLASSPATH_ENV not in launch.env
    assert not nio_env.is_dir() or not list(nio_env.glob("*.jar"))
    assert capfd.readouterr().out == ""
    if case == "dumping":
        assert launch.archive.part is not None


def test_user_dist_classpath_gets_the_jar_appended_for_the_launch_only(nio_env, monkeypatch):
    monkeypatch.setenv(session._DIST_CLASSPATH_ENV, "/user/a.jar")
    seen = {}

    class Builder:
        def config(self, key, value):
            seen[key] = value
            return self

        def getOrCreate(self):
            seen["launch classpath"] = os.environ[session._DIST_CLASSPATH_ENV]
            return "spark"

    assert session._get_or_create(Builder(), "local[4]", None) == "spark"

    (jar,) = nio_env.glob("*.jar")
    # The user's entry already rules out the archive; the jar goes after it.
    assert seen == {
        session._FS_IMPL_KEY: session._NIO_FS_CLASS,
        "launch classpath": f"/user/a.jar{os.pathsep}{jar}",
    }
    assert os.environ[session._DIST_CLASSPATH_ENV] == "/user/a.jar"

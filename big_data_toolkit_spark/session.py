"""SparkSession bootstrap tuned for both local testing and large clusters.

The reference (devp12345/big-data-toolkit) hand-builds a SparkContext per
program (e.g. ``a6/Q1.scala:44-46``, ``a0/WordCountSimple.java:121-129``) and
hand-codes every physical decision. Here a single session factory enables the
Catalyst/AQE machinery that replaces all of that:

* AQE (adaptive query execution): runtime broadcast-join conversion, skew-join
  splitting, and shuffle-partition coalescing — replaces the reference's
  hard-coded ``collectAsMap``+broadcast (``a6/Q3.scala:49-57``) and custom
  partitioners (``a2/ComputeBigramRelativeFrequencyPairs.scala:24-30``).
* Arrow for the few pandas-UDF paths (sequential SGD, multimodal decode).

``spark.sql.shuffle.partitions`` is sized from what the session observes,
not hand-set: on a ``local[N]`` master it is 2 × the session's
``defaultParallelism`` (8 on ``local[4]``). Batch barely depends on it, since
AQE coalesces every exchange to map-output sizes. Streaming does: AQE is off
there, a stateful stream runs one task per state partition on every
micro-batch and each commits a state-store version, empty or not. Spark
pins the count in each checkpoint's offset log, so a restarted stream keeps
the count it was started with. A non-local master gets a fixed pre-AQE
bound instead; at 100 TB you would raise it
(``spark.sql.shuffle.partitions=2000+``) and let AQE coalesce down.

A local master also writes streaming checkpoints (offset and commit logs,
state-store deltas and snapshots, file-source and file-sink logs) through
Spark's ``FileSystemBasedCheckpointFileManager`` instead of its default
``FileContextBasedCheckpointFileManager``. Without Hadoop's native library,
``RawLocalFileSystem.getFileLinkStatus`` forks ``readlink``, and the
FileContext manager's rename calls it several times per file: a JFR
recording of 16 ``stream_trending`` micro-batches on ``local[4]`` counted
2,624 ``readlink`` processes started by the driver JVM, about 160 per
micro-batch, and the state commit took ~430 ms per micro-batch for files
of a few hundred bytes (~110 ms without them). On ``file:`` both managers
do the same thing: a rename without overwrite checks the destination,
then calls ``rename(2)``; both raise when an atomic create would replace
an existing file; both write the same file names, ``.crc`` files and
Spark's checkpoint checksums included, so a checkpoint started under one
resumes under the other. The FileSystem manager creates files through the
session's local FileSystem, which sets permissions without ``chmod``
(below); the FileContext manager goes through Hadoop's own ``LocalFs``,
which still forks it. On HDFS the FileContext rename is one atomic RPC, which is why any other master
keeps Spark's default. A local session that checkpoints to HDFS should pass
``org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager``
for ``spark.sql.streaming.checkpointFileManagerClass`` in ``extra_conf``.

A local master also starts its driver JVM from an application
class-data-sharing (CDS) archive: the JDK maps the classes that a session
loads, already parsed and verified, instead of loading them from
``$SPARK_HOME/jars``. On 4 cores with JDK 17, process start to a session
that has run one job falls from about 12 s to about 6 s. The archive lives
in ``${XDG_CACHE_HOME:-~/.cache}/big_data_toolkit_spark/cds/``, outside any
checkout, so one archive serves every later session on the machine;
deleting that directory resets it. Its name carries a key and its size:

* The key hashes the JDK that ``spark-class`` runs (``$JAVA_HOME/bin/java``,
  else ``java`` on ``PATH``, plus its ``lib/server/libjvm.so``) and every
  ``$SPARK_HOME/jars`` file, each by path, size and mtime. A new JDK or jar
  set gets a new key, and promoting its archive deletes the old one.
* The first session for a key dumps the archive when its JVM exits
  (``-XX:ArchiveClassesAtExit``). That costs once: about 5 s more set-up,
  12-15 s more for the JVM to exit, and a 140-180 MB file. Exactly one
  process per key dumps. It claims the dump with an ``O_EXCL`` claim file
  holding its pid, a claim whose owner is gone is taken over, and every
  other session starts without an archive until one is promoted.
* The JVM writes the dump to a ``.part`` file. It is renamed into place,
  with its byte size in the name, only after that JVM exits with status 0:
  a daemon thread waits on the gateway process, and an ``atexit`` hook
  makes the JVM exit (with a bound) if Python exits first. A session maps
  only a file whose size matches its name and deletes any other, because
  the JDK crashes with SIGBUS on a truncated archive, where it skips a
  malformed one.
* ``-Xlog:cds=off -Xlog:cds+dynamic=off`` keep the JDK's CDS warnings off
  the driver's stdout, which a dumping JVM otherwise fills with hundreds.
* JDK 17 refuses to dump with a non-empty directory on the classpath, and
  Spark puts its conf dir there. When that dir (``$SPARK_CONF_DIR`` or
  ``$SPARK_HOME/conf``) holds only ``*.template`` files, the JVM is
  launched with ``SPARK_CONF_DIR`` set to an empty directory in the cache;
  the caller's environment is restored afterwards.

The session starts without an archive, as Spark would start it, on a
non-local master, when a JVM is already running (a SparkContext, or a
gateway given through ``PYSPARK_GATEWAY_PORT``), when ``extra_conf`` or
``PYSPARK_SUBMIT_ARGS`` sets the driver's Java options or class path, when
the environment adds to the launcher's class path, when the conf dir holds
a real file (a user's ``spark-defaults.conf``, ``spark-env.sh`` or
``log4j2.properties`` is never hidden), when the cache directory cannot be
created, and while another process holds the dump claim.

A local master also writes files without forking ``chmod``. Without
Hadoop's native library, ``RawLocalFileSystem.setPermission`` forks one
``chmod`` for every file and directory that a parquet write or a streaming
checkpoint creates. JFR ``jdk.ProcessStart`` in the driver JVM on
``local[4]`` counted 202 for one 16-cell ``partitionBy`` write of 500 rows
and 495 over one ``perfbench`` ``stream_replay`` run (five two-micro-batch
replays, each from a fresh checkpoint); with the class below, none.
``bdts.NioLocalFileSystem`` (``NioLocalFileSystem.java`` next to this
module) is Hadoop's checksummed ``LocalFileSystem`` over a
``RawLocalFileSystem`` whose ``setPermission`` sets the same mode bits
(``rwxr-xr-x`` where ``chmod`` gets ``0755``) with
``java.nio.file.Files.setPosixFilePermissions``; a permission with the
sticky bit, which NIO cannot set, still goes to ``chmod``. Everything else
is Hadoop's ``LocalFileSystem``. Without ``fs.file.impl``, a Spark build
that ships the Hive jars resolves ``file:`` to Hive's
``ProxyLocalFileSystem`` instead, whose one override makes a rename onto an
existing file return false: an atomic create that Spark lets overwrite
(state-store deltas and snapshots) then keeps the old file and leaves its
temporary file behind, where this class replaces it. A driver JVM that
``build_spark`` launches on a local master gets the class on its class path
and ``spark.hadoop.fs.file.impl=bdts.NioLocalFileSystem``:

* The source is compiled once, with the ``javac`` next to the ``java`` that
  ``spark-class`` runs (so the class file version matches the runtime),
  against ``$SPARK_HOME/jars/*``: about 2 s on 4 cores. The jar is written
  to a temporary name and renamed to
  ``${XDG_CACHE_HOME:-~/.cache}/big_data_toolkit_spark/jvm/<key>.jar``; the
  key hashes the archive key and the source.
* The jar is appended to the launcher's class path through
  ``SPARK_DIST_CLASSPATH``, after any value the caller gave it, and the
  caller's environment is restored after the launch. It is never
  prepended (``spark.driver.extraClassPath``): the JDK maps a CDS archive
  only while the class path it was dumped with is a prefix of the current
  one, and a rejected archive costs about 5 s of set-up.
* The launch that dumps the archive runs on the stock file system. An
  archive dumped with the jar on its class path is rejected by a later
  launch whose jar lies elsewhere; one dumped without it is mapped with the
  jar appended. The jar is not part of the archive key either, so a
  checkout with this class and one without share one archive instead of
  each deleting the other's.
* ``fs.file.impl`` is set only when the jar is on the launched JVM's class
  path: Spark resolves ``file:`` before it loads ``spark.jars``, so the
  class cannot come that way. The session keeps the stock file system on a
  non-local master, when a JVM is already running, when ``extra_conf`` sets
  ``spark.hadoop.fs.file.impl``, in the dumping launch, and when there is
  no ``javac``, the compile fails or the cache directory cannot be created.
"""

from __future__ import annotations

import atexit
import contextlib
import glob
import hashlib
import os
import shlex
import shutil
import subprocess
import tempfile
import threading
import zipfile
from typing import NamedTuple

from pyspark import SparkContext
from pyspark.sql import SparkSession

# Shuffle and state partitions per core of a local master: two tasks per
# core absorb key skew, while the empty ones cost a task launch and a state
# commit (a delta file plus checksums) on every micro-batch of a stateful
# stream, where AQE cannot coalesce them. The count a stream starts with is
# written to its checkpoint and reused on restart.
_SHUFFLE_PARTITIONS_PER_LOCAL_CORE = 2
# Pre-AQE bound for any other master; AQE coalesces batch exchanges below it.
_NONLOCAL_SHUFFLE_PARTITIONS = 32

# Checkpoint manager of a local master: plain FileSystem calls, which on
# ``file:`` fork no ``readlink`` per rename (see the module docstring).
_CHECKPOINT_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
_LOCAL_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)

# Top-level module (repo root) that the Python daemon runs in place of
# ``pyspark.daemon``, so the workers import pyspark from the unzipped
# ``$SPARK_HOME/python`` tree; see its docstring for the per-task cost this
# removes.
_PYTHON_DAEMON_MODULE = "spark_worker_daemon"


# --- Driver JVM class-data-sharing archive (see the module docstring) ---
_JAVA_OPTIONS_KEY = "spark.driver.extraJavaOptions"
_CLASSPATH_KEY = "spark.driver.extraClassPath"
# Environment variables the Spark launcher adds to the driver's class path.
_CLASSPATH_ENV = (
    "SPARK_CLASSPATH", "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH",
)
# spark-submit arguments that set the driver's Java options or class path.
_SUBMIT_JVM_ARGS = (
    "--driver-java-options", "--driver-class-path", _JAVA_OPTIONS_KEY, _CLASSPATH_KEY,
)
_CDS_QUIET = "-Xlog:cds=off -Xlog:cds+dynamic=off"
# How long Python's exit waits for a dumping JVM (12-15 s on 4 cores)
# before it kills it and promotes nothing.
_DUMP_EXIT_WAIT_S = 120

# --- Local file system without ``chmod`` forks (see the module docstring) ---
_FS_IMPL_KEY = "spark.hadoop.fs.file.impl"
_NIO_FS_CLASS = "bdts.NioLocalFileSystem"
_NIO_FS_SOURCE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "NioLocalFileSystem.java"
)
# The launcher appends this variable's entries to the driver's class path.
_DIST_CLASSPATH_ENV = "SPARK_DIST_CLASSPATH"
# About 2 s on 4 cores; a javac that hangs leaves the session on the stock FS.
_COMPILE_TIMEOUT_S = 120


class _Archive(NamedTuple):
    """How one driver JVM launch uses the CDS archive: the Java options it
    adds, the empty conf dir it runs with, and for a dumping launch the
    ``.part`` file the JVM writes and the claim this process holds."""

    java_options: str
    conf_dir: str
    part: str | None = None
    claim: str | None = None


class _Launch(NamedTuple):
    """What ``getOrCreate`` adds to a driver JVM launch: builder confs,
    environment variables set for the launch only, and the CDS archive."""

    conf: dict[str, str]
    env: dict[str, str]
    archive: _Archive | None = None


def _is_local(master: str) -> bool:
    return master == "local" or master.startswith("local[")


def _ensure_workers_can_import_engine() -> None:
    """Python workers inherit $PYTHONPATH, NOT the driver's sys.path: a
    driver launched from any cwd other than the repo root can plan queries
    fine and then die in the first cloudpickled UDF with
    ``ModuleNotFoundError: big_data_toolkit_spark`` on the worker.  Put the
    repo root on PYTHONPATH before the JVM (and thus any worker) starts."""
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if repo_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + pp if pp else "")
        )


def build_spark(
    app_name: str = "big-data-toolkit-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with engine defaults applied."""
    _ensure_workers_can_import_engine()
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- Adaptive execution: the scale story -------------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- Scan sizing (shuffle sizing follows getOrCreate) ----------
        # Target split size for file scans; 128 MB is the classic sweet spot
        # (matches parquet row-group sizing at scale).
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # --- Python <-> JVM data path ------------------------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.daemon.module", _PYTHON_DAEMON_MODULE)
        # --- Timestamps: deterministic, TZ-independent semantics ---------
        .config("spark.sql.session.timeZone", "UTC")
        # Parquet filter pushdown is on by default; stated explicitly since
        # the whole design leans on it.
        .config("spark.sql.parquet.filterPushdown", "true")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = _get_or_create(builder, master, extra_conf)
    for key, value in _session_conf(spark.sparkContext, extra_conf).items():
        spark.conf.set(key, value)
    return spark


def _get_or_create(builder, master: str, extra_conf: dict[str, str] | None) -> SparkSession:
    """``builder.getOrCreate()`` with the confs and environment of
    ``_launch``; promote the archive after a dumping JVM exits."""
    launch = _launch(master, extra_conf)
    for key, value in launch.conf.items():
        builder = builder.config(key, value)
    dumps = launch.archive is not None and launch.archive.part is not None
    try:
        with _launch_env(launch.env):
            spark = builder.getOrCreate()
    except BaseException:
        if dumps:
            _promote(launch.archive, None)
        raise
    if dumps:
        _promote_when_jvm_exits(launch.archive, SparkContext._gateway.proc)
    return spark


def _launch(master: str, extra_conf: dict[str, str] | None) -> _Launch:
    """The CDS archive and the NIO file system for a driver JVM that
    ``getOrCreate`` is about to launch for ``master``; nothing when a JVM is
    already running (a SparkContext, or a gateway given through
    ``PYSPARK_GATEWAY_PORT``)."""
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return _Launch({}, {})
    conf, env = {}, {}
    archive = _driver_archive(master, extra_conf)
    if archive is not None:
        conf[_JAVA_OPTIONS_KEY] = archive.java_options
        env["SPARK_CONF_DIR"] = archive.conf_dir
    jar = _local_fs_jar(master, extra_conf, archive)
    if jar is not None:
        conf[_FS_IMPL_KEY] = _NIO_FS_CLASS
        user = os.environ.get(_DIST_CLASSPATH_ENV)
        env[_DIST_CLASSPATH_ENV] = f"{user}{os.pathsep}{jar}" if user else jar
    return _Launch(conf, env, archive)


def _session_conf(sc, extra_conf: dict[str, str] | None) -> dict[str, str]:
    """SQL confs sized from the running context, minus any key that
    ``extra_conf`` sets. A ``local``/``local[N]``/``local[*]`` master gets
    2 × its cores (``defaultParallelism``) shuffle partitions and the
    FileSystem checkpoint manager; any other master gets the fixed bound
    and keeps Spark's checkpoint manager."""
    local = _is_local(sc.master)
    conf = {
        "spark.sql.shuffle.partitions": str(
            _SHUFFLE_PARTITIONS_PER_LOCAL_CORE * sc.defaultParallelism
            if local
            else _NONLOCAL_SHUFFLE_PARTITIONS
        )
    }
    if local:
        conf[_CHECKPOINT_MANAGER_KEY] = _LOCAL_CHECKPOINT_MANAGER
    return {k: v for k, v in conf.items() if k not in (extra_conf or {})}


def _driver_archive(master: str, extra_conf: dict[str, str] | None) -> _Archive | None:
    """The archive a driver JVM about to launch for ``master`` uses, or
    None to start it without one (the cases the module docstring lists)."""
    env = os.environ
    if not _is_local(master):
        return None
    if {_JAVA_OPTIONS_KEY, _CLASSPATH_KEY} & set(extra_conf or {}):
        return None
    if any(env.get(name) for name in _CLASSPATH_ENV):
        return None
    submit_args = env.get("PYSPARK_SUBMIT_ARGS", "")
    if any(arg in submit_args for arg in _SUBMIT_JVM_ARGS):
        return None
    from pyspark.find_spark_home import _find_spark_home

    spark_home = _find_spark_home()
    conf_dir = env.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    if os.path.isdir(conf_dir) and any(
        not name.endswith(".template") for name in os.listdir(conf_dir)
    ):
        return None
    key = _archive_key(spark_home)
    if key is None:
        return None
    conf = _cache_dir("cds", "conf")
    if conf is None:
        return None
    return _archive_for(os.path.dirname(conf), key)


def _cache_dir(*parts: str) -> str | None:
    """``${XDG_CACHE_HOME:-~/.cache}/big_data_toolkit_spark/<parts>``,
    created; None when it cannot be."""
    path = os.path.join(
        os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"),
        "big_data_toolkit_spark",
        *parts,
    )
    try:
        os.makedirs(path, exist_ok=True)
    except OSError:
        return None
    return path


def _java() -> str | None:
    """The ``java`` that ``spark-class`` runs, resolved:
    ``$JAVA_HOME/bin/java``, else ``java`` on ``PATH``."""
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    return os.path.realpath(java) if java else None


def _archive_key(spark_home: str) -> str | None:
    """Hash of the JDK ``spark-class`` runs and of ``$SPARK_HOME/jars``,
    each file by path, size and mtime; None when the JDK is not found."""
    java = _java()
    if java is None:
        return None
    libjvm = os.path.join(
        os.path.dirname(os.path.dirname(java)), "lib", "server", "libjvm.so"
    )
    jars = sorted(glob.glob(os.path.join(spark_home, "jars", "*")))
    digest = hashlib.sha256()
    try:
        for path in (java, libjvm, *jars):
            st = os.stat(path)
            digest.update(f"{path}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    except OSError:
        return None
    return digest.hexdigest()[:16]


def _archive_for(cache: str, key: str) -> _Archive | None:
    """Map the key's promoted archive; else claim the dump; else None, as
    another live process is dumping."""
    conf_dir = os.path.join(cache, "conf")
    archive = _promoted_archive(cache, key)
    if archive is None:
        claim = _claim_dump(os.path.join(cache, f"{key}.claim"))
        if claim is None:
            return None
        # Another process may have promoted between the look and the claim.
        archive = _promoted_archive(cache, key)
        if archive is None:
            part = os.path.join(cache, f"{key}.{os.getpid()}.part")
            options = f"-XX:ArchiveClassesAtExit={shlex.quote(part)} {_CDS_QUIET}"
            return _Archive(options, conf_dir, part, claim)
        _remove(claim)
    options = f"-XX:SharedArchiveFile={shlex.quote(archive)} -Xshare:auto {_CDS_QUIET}"
    return _Archive(options, conf_dir)


def _promoted_archive(cache: str, key: str) -> str | None:
    """The key's ``<key>-<size>.jsa`` whose size matches its name. Any other
    file of that key is deleted: the JDK crashes on a truncated archive."""
    found = None
    for path in glob.glob(os.path.join(cache, f"{key}-*.jsa")):
        recorded = os.path.basename(path)[len(key) + 1 : -len(".jsa")]
        try:
            intact = found is None and os.path.getsize(path) == int(recorded)
        except (OSError, ValueError):
            intact = False
        if intact:
            found = path
        else:
            _remove(path)
    return found


def _claim_dump(claim: str) -> str | None:
    """Create ``claim`` holding this pid, taking over a claim whose owner
    process is gone; None when a live process holds it. Two processes
    that take over the same dead claim at once both dump, each to its own
    ``.part``; the first promotion deletes the other ``.part``, so one
    archive is left."""
    for _ in range(2):
        try:
            fd = os.open(claim, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
        except FileExistsError:
            if _claim_owner_alive(claim):
                return None
            _remove(claim)
            continue
        except OSError:
            return None
        with os.fdopen(fd, "w") as fh:
            fh.write(str(os.getpid()))
        return claim
    return None


def _claim_owner_alive(claim: str) -> bool:
    try:
        with open(claim) as fh:
            pid = int(fh.read())
        os.kill(pid, 0)
    except PermissionError:  # a live process of another user
        return True
    except (OSError, ValueError):
        return False
    return True


def _remove(path: str) -> None:
    with contextlib.suppress(OSError):
        os.remove(path)


def _local_fs_jar(
    master: str, extra_conf: dict[str, str] | None, archive: _Archive | None
) -> str | None:
    """The jar of ``bdts.NioLocalFileSystem`` for a driver JVM about to
    launch for ``master`` with ``archive``, compiled on first use; None to
    keep the stock file system (the cases the module docstring lists)."""
    if not _is_local(master) or _FS_IMPL_KEY in (extra_conf or {}):
        return None
    if archive is not None and archive.part is not None:
        return None
    from pyspark.find_spark_home import _find_spark_home

    spark_home = _find_spark_home()
    java, key, cache = _java(), _archive_key(spark_home), _cache_dir("jvm")
    if java is None or key is None or cache is None:
        return None
    with open(_NIO_FS_SOURCE, "rb") as fh:
        source = fh.read()
    name = hashlib.sha256(key.encode() + b"\0" + source).hexdigest()[:16]
    jar = os.path.join(cache, f"{name}.jar")
    if os.path.isfile(jar) or _compile_jar(os.path.dirname(java), spark_home, jar):
        return jar
    return None


def _compile_jar(java_bin: str, spark_home: str, jar: str) -> bool:
    """Compile ``_NIO_FS_SOURCE`` with ``java_bin/javac`` against the Spark
    jars into ``jar``, through a temporary name; False on any failure.
    javac's output is captured, never printed."""
    try:
        with tempfile.TemporaryDirectory(dir=os.path.dirname(jar)) as tmp:
            classes = os.path.join(tmp, "classes")
            subprocess.run(
                [
                    os.path.join(java_bin, "javac"), "-proc:none", "-d", classes,
                    "-cp", os.path.join(spark_home, "jars", "*"), _NIO_FS_SOURCE,
                ],
                stdin=subprocess.DEVNULL,
                capture_output=True,
                check=True,
                timeout=_COMPILE_TIMEOUT_S,
            )
            part = os.path.join(tmp, "part.jar")
            with zipfile.ZipFile(part, "w") as zf:
                for entry in sorted(glob.glob("**/*.class", root_dir=classes, recursive=True)):
                    zf.write(os.path.join(classes, entry), entry.replace(os.sep, "/"))
            os.replace(part, jar)
    except (OSError, subprocess.SubprocessError):
        return False
    return True


@contextlib.contextmanager
def _launch_env(env: dict[str, str]):
    """``env`` set in ``os.environ`` for the gateway launch only."""
    before = {name: os.environ.get(name) for name in env}
    os.environ.update(env)
    try:
        yield
    finally:
        for name, value in before.items():
            if value is None:
                del os.environ[name]
            else:
                os.environ[name] = value


def _promote(archive: _Archive, returncode: int | None) -> None:
    """After the dumping JVM exits: with status 0, rename its ``.part``
    into place as ``<key>-<size>.jsa`` and delete every other archive and
    ``.part``. Always drop the ``.part`` and the claim."""
    try:
        if returncode == 0 and os.path.isfile(archive.part):
            cache = os.path.dirname(archive.part)
            key = os.path.basename(archive.part).split(".", 1)[0]
            final = os.path.join(cache, f"{key}-{os.path.getsize(archive.part)}.jsa")
            os.replace(archive.part, final)
            for path in glob.glob(os.path.join(cache, "*.jsa")) + glob.glob(
                os.path.join(cache, "*.part")
            ):
                if path != final:
                    _remove(path)
    except OSError:
        pass
    finally:
        _remove(archive.part)
        _remove(archive.claim)


def _promote_when_jvm_exits(archive: _Archive, proc) -> None:
    """Promote as soon as the gateway JVM exits, so a session started after
    ``spark.stop()`` and the JVM's exit already maps the archive. If Python
    exits first, stop the context, close the JVM's stdin (the gateway
    server exits on EOF) and wait, with a bound, for the dump."""
    waiter = threading.Thread(
        target=lambda: _promote(archive, proc.wait()),
        name="cds-archive-promote",
        daemon=True,
    )
    waiter.start()

    def finish() -> None:
        if proc.poll() is None:
            with contextlib.suppress(Exception):
                if SparkContext._active_spark_context is not None:
                    SparkContext._active_spark_context.stop()
            with contextlib.suppress(OSError):
                proc.stdin.close()
        waiter.join(_DUMP_EXIT_WAIT_S)
        if waiter.is_alive():
            proc.kill()
            waiter.join(30)

    atexit.register(finish)


def get_spark() -> SparkSession:
    """Active session if one exists (driver-provided), else build one."""
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    return build_spark()

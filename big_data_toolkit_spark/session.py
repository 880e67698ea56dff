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
resumes under the other. The ``chmod`` processes stay:
``RawLocalFileSystem.setPermission`` forks one per created file unless the
native library is loaded, whichever manager runs. On HDFS the FileContext
rename is one atomic RPC, which is why any other master keeps Spark's
default. A local session that checkpoints to HDFS should pass
``org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager``
for ``spark.sql.streaming.checkpointFileManagerClass`` in ``extra_conf``.
"""

from __future__ import annotations

import os

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
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
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
    spark = builder.getOrCreate()
    for key, value in _session_conf(spark.sparkContext, extra_conf).items():
        spark.conf.set(key, value)
    return spark


def _session_conf(sc, extra_conf: dict[str, str] | None) -> dict[str, str]:
    """SQL confs sized from the running context, minus any key that
    ``extra_conf`` sets. A ``local``/``local[N]``/``local[*]`` master gets
    2 × its cores (``defaultParallelism``) shuffle partitions and the
    FileSystem checkpoint manager; any other master gets the fixed bound
    and keeps Spark's checkpoint manager."""
    local = sc.master == "local" or sc.master.startswith("local[")
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


def get_spark() -> SparkSession:
    """Active session if one exists (driver-provided), else build one."""
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    return build_spark()

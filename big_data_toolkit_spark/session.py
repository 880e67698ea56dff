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
    if "spark.sql.shuffle.partitions" not in (extra_conf or {}):
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(_shuffle_partitions(spark.sparkContext)),
        )
    return spark


def _shuffle_partitions(sc) -> int:
    """2 × the cores of a ``local``/``local[N]``/``local[*]`` master, which
    ``defaultParallelism`` reports; the fixed bound for any other master."""
    if sc.master == "local" or sc.master.startswith("local["):
        return _SHUFFLE_PARTITIONS_PER_LOCAL_CORE * sc.defaultParallelism
    return _NONLOCAL_SHUFFLE_PARTITIONS


def get_spark() -> SparkSession:
    """Active session if one exists (driver-provided), else build one."""
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    return build_spark()

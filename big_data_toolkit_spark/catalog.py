"""Table catalog: register the TESTDATA parquet tables as named views.

The reference has no catalog — every program re-parses raw text positionally
(``a6/Q1.scala:48-52`` splits on ``|`` and indexes ``tokens(10)``) or reads
parquet only to immediately drop to ``Row`` RDDs (``a6/Q1.scala:58-62``,
defeating column pruning). Here tables are registered once as temp views with
their self-describing parquet schemas, so every operator can be written either
as DataFrame code or ``spark.sql`` — which is also what lets the DuckDB oracle
run the identical statement.

Scale note: ``spark.read.parquet`` on a directory of files partitions by
row-group/128 MB splits automatically; at 100 TB the same call distributes the
scan across the cluster, and filters/projections written against these views
reach the parquet reader (PushedFilters / ReadSchema in ``.explain``).

Table metadata without Spark jobs: every parquet read in the package goes
through ``read_parquet``, which keeps the schema Spark inferred for a path
and hands it back with ``spark.read.schema(...)`` while the path's data
files are unchanged, so a warm read runs no inference job; row counts come
from the parquet footers (``parquet_row_count``). This is the metadata a
table catalog serves at cluster scale. ``build_artifacts`` and
``manifest_compact`` read tables from two threads at once; the shared
schema cache is safe there because a lookup is an atomic dict get, the
bounded store's evict-then-set holds a lock, and the worst a race costs is
both threads inferring the same schema and storing equal values.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _hidden(name: str) -> bool:
    """Spark's rule for the paths a file source skips: ``_SUCCESS``,
    ``.crc`` checksums and other ``_``/``.`` names, but not partition
    directories such as ``_c=1``."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def _data_files(path: str) -> list[str]:
    """The files Spark reads for a parquet path: the path itself, or every
    non-hidden file under it (partition directories included), sorted."""
    if not os.path.isdir(path):
        return [path]
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not _hidden(d))
        out.extend(os.path.join(root, f) for f in sorted(files) if not _hidden(f))
    return out


def parquet_row_count(path: str) -> int:
    """Row count from the parquet FOOTERS, driver-side — no Spark job.

    The statistics lookup a table catalog (metastore/Delta/Iceberg)
    serves for free at cluster scale: parquet stores num_rows per file
    footer, so the count costs one metadata read per file regardless of
    table bytes. Used where an operator needs only a sizing bound (e.g.
    the Bloom bitmap's m), where launching even a no-column count job
    would dominate the operator's own work, and for the artifact
    summaries, where ``read_parquet(...).count()`` would run three (the
    schema inference, then the count's two under AQE)."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in _data_files(path))


def table_row_count(sf_dir: str, name: str) -> int:
    """``parquet_row_count`` of one TESTDATA table."""
    return parquet_row_count(table_path(sf_dir, name))


# Session confs that change the schema parquet inference returns; a cached
# schema is only reused under the values it was inferred with.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)
# Every artifact build writes a fresh directory, so the cache is emptied
# when it reaches this many paths rather than growing with the passes.
_SCHEMA_CACHE_MAX = 256
# (absolute path, _SCHEMA_CONFS values) -> (data-file stamp, schema).
# Holds plain-Python StructTypes only, never a session or a JVM object.
# Lookups take no lock (see the module docstring); the store's
# evict-then-set is a check-then-act, so it holds _SCHEMAS_LOCK.
_SCHEMAS: dict[tuple, tuple[tuple, StructType]] = {}
_SCHEMAS_LOCK = threading.Lock()


def read_parquet(
    spark: SparkSession, path: str, schema: str | None = None
) -> DataFrame:
    """``spark.read.parquet(path)`` without the schema-inference job when
    the path's data files are unchanged since the last read, or whenever
    the caller passes the ``schema`` (a DDL string) its writer laid out.

    Spark infers a parquet schema by running a job that reads the
    footers, on every read. The inferred ``StructType`` is kept per path
    and per inference conf, stamped with each data file's relative name,
    size and ``st_mtime_ns``; while that stamp holds, the read passes the
    schema back through ``spark.read.schema`` and Spark only lists the
    files. A rewritten,
    added or removed file changes the stamp and the next read infers
    again. Paths ``os.stat`` cannot see (missing, ``hdfs://``, ``s3a://``)
    go straight to ``spark.read.parquet``, so they raise exactly what it
    raises. Safe to call from several threads (see ``_SCHEMAS``)."""
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    try:
        stamp = tuple(
            (os.path.relpath(f, path), st.st_size, st.st_mtime_ns)
            for f in _data_files(path)
            for st in (os.stat(f),)
        )
    except OSError:
        return spark.read.parquet(path)
    key = (os.path.abspath(path),) + tuple(
        spark.conf.get(k, None) for k in _SCHEMA_CONFS
    )
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    entry = (stamp, df.schema)
    with _SCHEMAS_LOCK:
        if len(_SCHEMAS) >= _SCHEMA_CACHE_MAX:
            _SCHEMAS.clear()
        _SCHEMAS[key] = entry
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one TESTDATA table as a DataFrame.

    ``events.ts`` has been written by different fixture generations as either
    parquet TIMESTAMP(NANOS) — which Spark's vectorized reader rejects unless
    read via the legacy nanos-as-long escape hatch — or plain
    TIMESTAMP(MICROS).  The loader is schema-adaptive: it enables the escape
    hatch (a no-op for non-nanos files), reads, and then converts only if the
    column actually arrived as a raw nanosecond ``bigint``.  Either way the
    result is normalized to a session-TZ (UTC) TIMESTAMP so every downstream
    plan sees one stable type, matching DuckDB's micro-precision reads of the
    same files exactly.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        # The NTZ->timestamp cast below is only value-preserving under a UTC
        # session TZ; a reused driver session carrying any other TZ would
        # silently shift every ts value. build_spark pins UTC at session
        # construction — require it here and fail loud (same convention as
        # the unknown-ts-type branch) rather than mutating shared session
        # state from inside a table reader.
        tz = spark.conf.get("spark.sql.session.timeZone", "")
        if tz not in ("UTC", "Etc/UTC", "GMT", "Z", "+00:00"):
            raise RuntimeError(
                f"loading events requires a UTC session timezone, got {tz!r}; "
                "pin spark.sql.session.timeZone=UTC at session construction "
                "(big_data_toolkit_spark.session.build_spark does)"
            )
        # Scope the legacy nanos escape hatch to this read: a later parquet
        # read of a nanos column elsewhere should fail fast, not silently
        # yield raw longs. The conf is part of read_parquet's cache key, so
        # a schema inferred under it is only reused under it.
        prior = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        try:
            df = read_parquet(spark, table_path(sf_dir, name))
            ts_type = df.schema["ts"].dataType
            if isinstance(ts_type, T.LongType):
                # nanos fixture: integer `div` — double division would lose
                # precision above 2^53 ns
                df = df.withColumn(
                    "ts", F.timestamp_micros(F.expr("ts div 1000"))
                )
            elif isinstance(ts_type, T.TimestampNTZType):
                # micros fixture reads as TIMESTAMP_NTZ; value-identical
                # cast under the pinned UTC session TZ, keeps one type
                # across generations
                df = df.withColumn("ts", F.col("ts").cast("timestamp"))
            elif not isinstance(ts_type, T.TimestampType):
                # anything else (string, double, ...) is a new fixture
                # generation we haven't audited — fail loud, never cast
                # blindly to silent nulls
                raise TypeError(
                    f"events.ts arrived as unexpected type {ts_type}; "
                    "audit the fixture before adding a conversion"
                )
            # force schema resolution before the conf is restored: the
            # parquet footer is read at plan time, not collect time
            df.schema
            return df
        finally:
            if prior is None:
                spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
            else:
                spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prior)
    return read_parquet(spark, table_path(sf_dir, name))


def local_table(spark: SparkSession, rows: list, ddl: str) -> DataFrame:
    """JVM-resident local table from driver rows (Arrow ``LocalTableScan``).

    ``createDataFrame`` over plain Python rows plans a Python-RDD scan
    that spins Python workers on EVERY plan execution (~0.4 s per scan on
    local[32] — measured; a broadcast side built this way pays it once
    per job that references it). Routing the same rows through
    pandas + Arrow yields a ``LocalTableScan`` the JVM serves directly —
    no Python at execution time, same values and schema. Use this for
    every small driver-built side table (quotas, weights, seed lists,
    summary outputs).

    ``ddl`` is the usual DDL schema string ("source string, quota long");
    column names are parsed from it to label the pandas frame so the
    schema maps by name, not position. Empty ``rows`` falls back to the
    plain path (pandas can't carry a zero-row typed frame through Arrow
    without per-type dtype mapping) — an empty local relation has no
    per-scan cost anyway.
    """
    if not rows:
        return spark.createDataFrame([], ddl)
    import pandas as pd

    names = [c.strip().split()[0] for c in ddl.split(",")]
    pdf = pd.DataFrame(list(rows), columns=names)
    return spark.createDataFrame(pdf, schema=ddl)


def register_tables(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Register each table as a temp view; returns name -> DataFrame."""
    out: dict[str, DataFrame] = {}
    for name in tables:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out

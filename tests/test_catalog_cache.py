"""Table metadata from the driver: ``catalog.read_parquet`` reuses the
schema Spark inferred while a path's files are unchanged, and artifact row
counts come from the parquet footers, so warm reads run no Spark job."""

from __future__ import annotations

import ast
import os
import pathlib
import sys
import threading
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from big_data_toolkit_spark import catalog
from big_data_toolkit_spark.catalog import load_table, parquet_row_count
from big_data_toolkit_spark.plans import materialize
from tests.conftest import SF_SMOKE, count_jobs
from tests.test_catalog_fixtures import INSTANTS, _write_events

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "big_data_toolkit_spark"
NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


def _write_region(sf_dir: str, with_comment: bool = False) -> None:
    cols = {
        "r_regionkey": pa.array([0, 1, 2], type=pa.int64()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA"]),
    }
    if with_comment:
        cols["r_comment"] = pa.array(["x", "y", "z"])
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(pa.table(cols), catalog.table_path(sf_dir, "region"))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_second_load_of_unchanged_table_runs_no_job(spark, tmp_path):
    d = str(tmp_path)
    _write_region(d)
    first, first_jobs = count_jobs(
        spark, "load-cold", lambda: load_table(spark, d, "region")
    )
    second, second_jobs = count_jobs(
        spark, "load-warm", lambda: load_table(spark, d, "region")
    )
    assert first_jobs >= 1
    assert second_jobs == 0
    assert second.schema == first.schema
    assert _rows(second) == _rows(first) == [
        (0, "AFRICA"),
        (1, "AMERICA"),
        (2, "ASIA"),
    ]


def test_rewritten_table_shows_its_new_column(spark, tmp_path):
    d = str(tmp_path)
    _write_region(d)
    assert load_table(spark, d, "region").columns == ["r_regionkey", "r_name"]
    _write_region(d, with_comment=True)
    df = load_table(spark, d, "region")
    assert df.columns == ["r_regionkey", "r_name", "r_comment"]
    assert [r["r_comment"] for r in df.orderBy("r_regionkey").collect()] == [
        "x",
        "y",
        "z",
    ]


def test_second_nanos_events_load_is_a_hit(spark, tmp_path):
    """The nanos fixture is inferred under the nanosAsLong escape hatch;
    its cached schema is reused under the same conf, yields the same
    TIMESTAMPs, and the conf is still restored afterwards."""
    d = str(tmp_path / "nanos")
    _write_events(d, "ns")
    first, first_jobs = count_jobs(
        spark, "events-cold", lambda: load_table(spark, d, "events")
    )
    second, second_jobs = count_jobs(
        spark, "events-warm", lambda: load_table(spark, d, "events")
    )
    assert first_jobs >= 1
    assert second_jobs == 0
    assert spark.conf.get(NANOS_CONF, None) is None
    for df in (first, second):
        assert [r["ts"] for r in df.orderBy("event_id").collect()] == INSTANTS
    assert spark.conf.get(NANOS_CONF, None) is None


def test_missing_path_raises_what_spark_raises(spark, tmp_path):
    missing = str(tmp_path / "absent.parquet")
    with pytest.raises(Exception) as direct:
        spark.read.parquet(missing)
    with pytest.raises(Exception) as cached:
        catalog.read_parquet(spark, missing)
    with pytest.raises(Exception) as loaded:
        load_table(spark, str(tmp_path), "region")
    assert type(cached.value) is type(direct.value)
    assert type(loaded.value) is type(direct.value)


class _FakeSession:
    """Just the surface ``read_parquet`` touches: the conf, and a reader
    whose inference returns the path's schema and counts itself."""

    def __init__(self, schemas: dict[str, T.StructType]):
        self.schemas = schemas
        self.inferred = 0
        self.conf = SimpleNamespace(get=lambda key, default=None: default)
        self.read = self._reader(None)

    def _reader(self, given):
        def parquet(path):
            if given is None:
                self.inferred += 1
            return SimpleNamespace(schema=given or self.schemas[path])

        return SimpleNamespace(
            parquet=parquet, schema=lambda s: self._reader(s)
        )


class _PeakDict(dict):
    """A dict that remembers the most entries it ever held."""

    peak = 0

    def __setitem__(self, key, value):
        super().__setitem__(key, value)
        self.peak = max(self.peak, len(self))


def test_schema_cache_under_thread_contention(tmp_path, monkeypatch):
    """More threads than cores read a few paths through a cache smaller
    than the path count, with the interpreter switching threads as often
    as it can: every read gets its own path's schema and the cache never
    outgrows its bound."""
    schemas = {}
    for i in range(4):
        path = str(tmp_path / f"t{i}.parquet")
        with open(path, "wb") as f:
            f.write(b"x" * (i + 1))
        schemas[path] = T.StructType([T.StructField(f"c{i}", T.LongType())])
    fake = _FakeSession(schemas)
    cache = _PeakDict()
    monkeypatch.setattr(catalog, "_SCHEMAS", cache)
    monkeypatch.setattr(catalog, "_SCHEMA_CACHE_MAX", 3)
    paths = sorted(schemas)
    wrong, reads = [], []

    def reader(k):
        for j in range(300):
            path = paths[(k + j) % len(paths)]
            if catalog.read_parquet(fake, path).schema != schemas[path]:
                wrong.append(path)
            reads.append(path)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(target=reader, args=(k,))
            for k in range(2 * (os.cpu_count() or 1) + 2)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert wrong == []
    assert len(reads) == 300 * len(threads)
    assert cache.peak == 3
    assert 0 < fake.inferred < len(reads)


def test_bench_pq_build_counts_rows_from_footers(spark):
    summary = {
        r["artifact"]: r["n_rows"]
        for r in materialize.bench_pq_build(spark, SF_SMOKE).collect()
    }
    workdir = materialize._pq_bench_workdir(spark, SF_SMOKE)
    codes = materialize.read_pq_codes(spark, workdir).count()
    assert summary[materialize.PQ_CODES_DIR] == codes > 0


def test_footer_count_matches_spark_on_a_partitioned_write(spark, tmp_path):
    """A cell-partitioned Spark write leaves ``_SUCCESS`` and ``.crc``
    files beside the data; the footer count skips them as Spark does."""
    path = str(tmp_path / "codes")
    spark.range(1000).select(
        "id", (F.col("id") % 7).alias("cell")
    ).write.partitionBy("cell").parquet(path)
    names = [f for _, _, fs in os.walk(path) for f in fs]
    assert "_SUCCESS" in names
    assert any(f.endswith(".crc") for f in names)
    assert parquet_row_count(path) == spark.read.parquet(path).count() == 1000


def _reads_parquet(tree: ast.AST) -> bool:
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            f = node.func
            if (
                isinstance(f, ast.Attribute)
                and f.attr == "parquet"
                and isinstance(f.value, ast.Attribute)
                and f.value.attr == "read"
            ):
                return True
    return False


def test_parquet_is_read_only_through_the_catalog():
    """Every parquet read goes through ``catalog.read_parquet`` so that it
    reuses known schemas; ``sources/writers.py`` verifies compactions
    with Spark's own count on purpose."""
    found = {
        str(p.relative_to(PACKAGE))
        for p in PACKAGE.rglob("*.py")
        if _reads_parquet(ast.parse(p.read_text()))
    }
    assert found == {"catalog.py", "sources/writers.py"}

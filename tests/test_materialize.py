"""Materialized-artifact pipeline: stored pair graph / centroids must yield
results IDENTICAL to the oracle-gated in-plan recompute forms."""

from __future__ import annotations

import os

import pytest

from big_data_toolkit_spark.catalog import load_table, table_path, table_row_count
from big_data_toolkit_spark.operators import dedup, pagerank, similarity
from big_data_toolkit_spark.plans import materialize
from tests.conftest import SF_SMOKE, count_jobs


@pytest.fixture(scope="module")
def workdir(spark, tmp_path_factory):
    wd = str(tmp_path_factory.mktemp("artifacts"))
    paths = materialize.build_artifacts(spark, SF_SMOKE, wd)
    assert set(paths) == {
        materialize.PAIRS_DIR,
        materialize.CENTROIDS_DIR,
        materialize.COMPONENTS_DIR,
    }
    return wd


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_pairs_artifact_roundtrip_exact(spark, workdir):
    stored = _rows(materialize.read_neardup_pairs(spark, workdir))
    inplan = _rows(dedup.dedup_minhash_lsh(spark, SF_SMOKE))
    assert stored == inplan and len(stored) > 0


def test_centroids_artifact_roundtrip_exact(spark, workdir):
    stored = materialize.read_centroids(spark, workdir)
    _, trained = similarity._lloyd(spark, SF_SMOKE)
    # parquet DOUBLE round-trips bit-exactly: the stored centroids ARE the
    # trained ones, so downstream assignments cannot drift.
    assert stored == trained


def test_driver_written_tables_read_without_spark_jobs(
    spark, workdir, pq_workdir
):
    """The centroid, codebook and quantizer tables are the driver's own
    pyarrow writes: reading them back runs no Spark job."""
    tables, jobs = count_jobs(
        spark,
        "read-driver-tables",
        lambda: (
            materialize.read_centroids(spark, workdir),
            materialize.read_semantic_centroids(spark, workdir),
            materialize.read_pq_codebook(spark, pq_workdir),
            materialize.read_pq_centroids(spark, pq_workdir),
        ),
    )
    assert jobs == 0
    assert all(tables)


def test_triangle_count_materialized_equals_inplan(spark, workdir):
    assert _rows(
        materialize.triangle_count_materialized(spark, SF_SMOKE, workdir)
    ) == _rows(pagerank.triangle_count(spark, SF_SMOKE))


def test_kcore_materialized_equals_inplan(spark, workdir):
    assert _rows(
        materialize.kcore_subgraph_materialized(spark, SF_SMOKE, workdir)
    ) == _rows(pagerank.kcore_subgraph(spark, SF_SMOKE))


def test_leakage_materialized_equals_inplan(spark, workdir):
    assert _rows(
        materialize.cross_source_leakage_materialized(spark, SF_SMOKE, workdir)
    ) == _rows(dedup.cross_source_leakage(spark, SF_SMOKE))


def test_semantic_dedup_materialized_equals_inplan(spark, workdir):
    assert _rows(
        materialize.semantic_dedup_materialized(spark, SF_SMOKE, workdir)
    ) == _rows(dedup.semantic_dedup(spark, SF_SMOKE))


def test_knn_ivf_materialized_equals_inplan(spark, workdir):
    assert _rows(
        materialize.knn_ivf_trained_materialized(spark, SF_SMOKE, workdir)
    ) == _rows(similarity.knn_ivf_trained(spark, SF_SMOKE))


def test_components_artifact_roundtrip_exact(spark, workdir):
    stored = _rows(materialize.read_neardup_components(spark, workdir))
    inplan = _rows(dedup.dedup_components(spark, SF_SMOKE))
    assert stored == inplan and len(stored) > 0


def test_keep_canonical_materialized_equals_inplan(spark, workdir):
    assert _rows(
        materialize.dedup_keep_canonical_materialized(spark, SF_SMOKE, workdir)
    ) == _rows(dedup.dedup_keep_canonical(spark, SF_SMOKE))


def test_leakage_safe_split_materialized_equals_inplan(spark, workdir):
    assert _rows(
        materialize.leakage_safe_split_materialized(spark, SF_SMOKE, workdir)
    ) == _rows(dedup.leakage_safe_split(spark, SF_SMOKE))


def test_keep_best_materialized_equals_inplan(spark, workdir):
    assert _rows(
        materialize.dedup_keep_best_materialized(spark, SF_SMOKE, workdir)
    ) == _rows(dedup.dedup_keep_best(spark, SF_SMOKE))


def test_training_manifest_materialized_equals_inplan(spark, workdir):
    from big_data_toolkit_spark.operators import curation

    assert _rows(
        materialize.training_manifest_materialized(spark, SF_SMOKE, workdir)
    ) == _rows(curation.training_manifest(spark, SF_SMOKE))


def test_manifest_compact_materialized_equals_inplan(spark, workdir):
    from big_data_toolkit_spark.operators import curation

    assert _rows(
        materialize.manifest_compact_materialized(spark, SF_SMOKE, workdir)
    ) == _rows(curation.manifest_compact(spark, SF_SMOKE))


@pytest.fixture(scope="module")
def pq_workdir(spark, tmp_path_factory):
    wd = str(tmp_path_factory.mktemp("pq-artifact"))
    paths = materialize.build_pq_artifact(spark, SF_SMOKE, wd)
    assert set(paths) == {
        materialize.PQ_CODES_DIR,
        materialize.PQ_CODEBOOK_DIR,
        materialize.PQ_CENTROIDS_DIR,
    }
    return wd


def test_pq_codes_artifact_roundtrip_exact(spark, pq_workdir):
    """Stored wide codes == the gated long-form pq_codes query, row for
    row (the artifact IS the index the oracle checks, reshaped)."""
    stored = materialize.read_pq_codes(spark, pq_workdir).collect()
    wide = sorted(
        (r["vec_id"], s, int(r["codes"][s]))
        for r in stored
        for s in range(len(r["codes"]))
    )
    inplan = _rows(similarity.pq_codes(spark, SF_SMOKE))
    assert wide == inplan and len(wide) > 0


def test_pq_codebook_roundtrip_exact(spark, pq_workdir):
    stored = materialize.read_pq_codebook(spark, pq_workdir)
    inplan = similarity._pq_codebook(spark, SF_SMOKE)
    assert stored == inplan


def test_knn_pq_materialized_equals_inplan(spark, pq_workdir):
    """The production search path (stored 8-byte codes + stored codebook,
    embeddings touched only for the query point lookup) must be BIT-EXACT
    vs the in-plan twin — same integers, same ADC, same top-k order."""
    assert _rows(
        materialize.knn_pq_materialized(spark, SF_SMOKE, pq_workdir)
    ) == _rows(similarity.knn_pq(spark, SF_SMOKE))


def test_knn_pq_from_codes_no_embeddings_corpus_scan(spark, pq_workdir):
    """The consumer's plan reads the parquet code table; the embeddings
    table appears only via the driver-side query/codebook lookups, never
    as a corpus-wide scan branch in the search plan."""
    df = materialize.knn_pq_materialized(spark, SF_SMOKE, pq_workdir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "pq_codes" in plan
    assert "embeddings" not in plan, plan


def test_pq_centroids_roundtrip_exact(spark, pq_workdir):
    stored = materialize.read_pq_centroids(spark, pq_workdir)
    inplan = similarity._quantized_centroids(spark, SF_SMOKE)
    assert stored == inplan


def test_knn_ivfpq_materialized_equals_inplan_and_prunes(spark, pq_workdir):
    """IVFADC over the stored cell-partitioned index: bit-exact vs the
    in-plan twin, AND the probed cells arrive via PARTITION pruning —
    the scan's PartitionFilters carries the cell predicate, so the other
    cells' files are never opened."""
    df = materialize.knn_ivfpq_materialized(spark, SF_SMOKE, pq_workdir)
    assert _rows(df) == _rows(similarity.knn_ivfpq(spark, SF_SMOKE))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan.split(
        "PartitionFilters"
    )[1][:200], plan
    # full probe reproduces the flat stored-codes scan exactly
    full = materialize.knn_ivfpq_materialized(
        spark, SF_SMOKE, pq_workdir, nprobe=len(similarity.CENTROID_IDS)
    )
    assert _rows(full) == _rows(
        materialize.knn_pq_materialized(spark, SF_SMOKE, pq_workdir)
    )


def test_knn_ivfpq_materialized_looks_up_the_query_once(
    spark, pq_workdir, monkeypatch
):
    """The probed cells and the ADC table come from one fetch of the query
    vector."""
    calls = []
    lookup = similarity._pq_query_qv

    def counted(*args):
        calls.append(args)
        return lookup(*args)

    monkeypatch.setattr(similarity, "_pq_query_qv", counted)
    materialize.knn_ivfpq_materialized(spark, SF_SMOKE, pq_workdir)
    assert len(calls) == 1


def test_ann_pq_incremental_materialized_equals_inplan(spark, pq_workdir):
    """Ingest-ANN radius matching over the stored index: bit-exact vs the
    in-plan twin (the stored codes ARE the encode; the donor-id→position
    adapter inverts the build's mapping), and the search plan reads the
    code table, never an embeddings corpus branch beyond the delta."""
    df = materialize.ann_pq_incremental_materialized(
        spark, SF_SMOKE, pq_workdir
    )
    assert _rows(df) == _rows(similarity.ann_pq_incremental(spark, SF_SMOKE))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "pq_codes" in plan


def test_knn_join_pq_materialized_equals_inplan(spark, pq_workdir):
    assert _rows(
        materialize.knn_join_pq_materialized(spark, SF_SMOKE, pq_workdir)
    ) == _rows(similarity.knn_join_pq(spark, SF_SMOKE))


def test_manifest_ingest_delta_materialized_equals_inplan(spark, workdir):
    """The stored-pairs path derives BOTH the corpus-only closure and the
    cross matches from neardup_pairs; bit-equality proves the stored
    cross slice IS the incremental check's match set."""
    from big_data_toolkit_spark.operators import curation

    assert _rows(
        materialize.manifest_ingest_delta_materialized(
            spark, SF_SMOKE, workdir
        )
    ) == _rows(curation.manifest_ingest_delta(spark, SF_SMOKE))


def test_pq_compact_equals_full_build(spark, tmp_path):
    """The index-lifecycle twin of manifest_compact: a store built
    corpus-only and then COMPACTED with the delta slice is bit-equal to
    a fresh full build — same code rows, same cells — and the stored
    IVFADC search over the compacted store returns the full build's
    exact results (the frozen codebook/quantizer make appends
    invisible to every consumer)."""
    from tests.conftest import SF_SMOKE

    full_wd = str(tmp_path / "pq_full")
    materialize.build_pq_artifact(spark, SF_SMOKE, full_wd)
    inc_wd = str(tmp_path / "pq_inc")
    materialize.build_pq_artifact(spark, SF_SMOKE, inc_wd, corpus_only=True)

    n_corpus = materialize.read_pq_codes(spark, inc_wd).count()
    n_full = materialize.read_pq_codes(spark, full_wd).count()
    assert 0 < n_corpus < n_full  # the delta slice is really missing

    materialize.compact_pq_artifact(spark, SF_SMOKE, inc_wd)

    def code_rows(wd):
        return sorted(
            (r["vec_id"], tuple(r["codes"]), r["cell"])
            for r in materialize.read_pq_codes(spark, wd).collect()
        )

    assert code_rows(inc_wd) == code_rows(full_wd)
    assert materialize.read_pq_codebook(spark, inc_wd) == \
        materialize.read_pq_codebook(spark, full_wd)

    def hits(wd):
        return [
            (r["vec_id"], r["adc_dist2"])
            for r in materialize.knn_ivfpq_materialized(
                spark, SF_SMOKE, wd
            ).collect()
        ]

    assert hits(inc_wd) == hits(full_wd)

    # idempotence guard: compacting again (or compacting a full build)
    # must refuse rather than duplicate the delta rows
    with pytest.raises(ValueError, match="already contains delta"):
        materialize.compact_pq_artifact(spark, SF_SMOKE, inc_wd)
    with pytest.raises(ValueError, match="already contains delta"):
        materialize.compact_pq_artifact(spark, SF_SMOKE, full_wd)
    assert code_rows(inc_wd) == code_rows(full_wd)  # nothing was appended


def test_pq_codes_schema_is_the_inferred_schema(spark, tmp_path):
    """``PQ_CODES_SCHEMA`` is what Spark infers for the code table, after
    a fresh (corpus-only) build and after the compaction appends the
    delta, so ``read_pq_codes`` runs no inference job and returns the
    same rows."""
    wd = str(tmp_path / "pq")
    path = os.path.join(wd, materialize.PQ_CODES_DIR)
    materialize.build_pq_artifact(spark, SF_SMOKE, wd, corpus_only=True)
    for step in ("build", "compact"):
        if step == "compact":
            materialize.compact_pq_artifact(spark, SF_SMOKE, wd)
        stored, jobs = count_jobs(
            spark, f"pq-codes-read-{step}",
            lambda: materialize.read_pq_codes(spark, wd),
        )
        inferred = spark.read.parquet(path)
        assert jobs == 0
        assert stored.schema == inferred.schema
        assert sorted(stored.collect()) == sorted(inferred.collect())
    assert len(stored.collect()) == table_row_count(SF_SMOKE, "embeddings")


def test_pq_index_constants_cost_one_lookup_job(spark, tmp_path):
    """The codebook, the coarse quantizer and the query vector that a
    builder needs come from one lookup job: the artifact build runs that
    job and its write, the in-plan searches only that job."""
    load_table(spark, SF_SMOKE, "embeddings")  # warm the schema cache
    _, build = count_jobs(
        spark, "pq-build",
        lambda: materialize.build_pq_artifact(
            spark, SF_SMOKE, str(tmp_path / "pq")
        ),
    )
    _, ivfpq = count_jobs(
        spark, "knn-ivfpq", lambda: similarity.knn_ivfpq(spark, SF_SMOKE)
    )
    _, pq = count_jobs(
        spark, "knn-pq", lambda: similarity.knn_pq(spark, SF_SMOKE)
    )
    assert (build, ivfpq, pq) == (2, 1, 1)


def test_pq_ingest_constants_cost_one_lookup_job(spark):
    """At the 16-cell floor the ingest-ANN builders fetch the codebook and
    the coarse quantizer in one lookup job, and plan the rest."""
    load_table(spark, SF_SMOKE, "embeddings")  # warm the schema cache
    _, incremental = count_jobs(
        spark, "ann-pq-incremental",
        lambda: similarity.ann_pq_incremental(spark, SF_SMOKE),
    )
    _, join = count_jobs(
        spark, "knn-join-pq", lambda: similarity.knn_join_pq(spark, SF_SMOKE)
    )
    assert (incremental, join) == (1, 1)


def _embeddings_without(tmp_path, vec_id: int) -> str:
    """An sf-dir whose embeddings table is the smoke table minus one id."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    table = pq.read_table(table_path(SF_SMOKE, "embeddings"))
    sf_dir = tmp_path / f"sf-without-{vec_id}"
    sf_dir.mkdir()
    pq.write_table(
        table.filter(pc.not_equal(table["vec_id"], vec_id)),
        table_path(str(sf_dir), "embeddings"),
    )
    return str(sf_dir)


@pytest.mark.parametrize(
    "vec_id, message, builders",
    [
        (
            similarity.PQ_CODEBOOK_IDS[0],
            r"PQ codebook donor vectors not found .*\[30\]",
            ("build", "knn_pq", "knn_ivfpq", "ingest"),
        ),
        (
            similarity.CENTROID_IDS[0],
            r"coarse-quantizer centroid vectors missing: \[10\]",
            ("build", "knn_ivfpq", "ingest"),
        ),
        (
            similarity.QUERY_VEC_ID,
            r"query vector 0 not found in embeddings table",
            ("knn_pq", "knn_ivfpq"),
        ),
    ],
)
def test_pq_lookup_names_the_missing_index_vector(
    spark, tmp_path, vec_id, message, builders
):
    """Each index-vector set in the shared lookup keeps its own error:
    a table without a codebook donor, a quantizer centroid or the query
    vector refuses to build, naming the id. The ingest builders share the
    codebook and quantizer lookup."""
    sf_dir = _embeddings_without(tmp_path, vec_id)
    run = {
        "build": lambda: materialize.build_pq_artifact(
            spark, sf_dir, str(tmp_path / "pq")
        ),
        "knn_pq": lambda: similarity.knn_pq(spark, sf_dir),
        "knn_ivfpq": lambda: similarity.knn_ivfpq(spark, sf_dir),
        "ingest": lambda: similarity.ann_pq_incremental(spark, sf_dir),
    }
    for name in builders:
        with pytest.raises(ValueError, match=message):
            run[name]()


def test_semantic_centroids_derived_k_above_threshold(spark, tmp_path):
    """The r12 review find: the stored-centroid path must run the SAME
    derived-K clustering the in-plan op does past the 16-cluster
    envelope.  On a synthetic corpus above semantic_k_for's floor, the
    build writes the derived-K `centroids_sem` table, the reader prefers
    it, and the stored SemDeDup output equals the in-plan op's exactly
    (at gate scales nothing extra is written and the reader falls back
    to the shared K=16 table — covered by the SF_SMOKE equality test)."""
    import numpy as np

    from big_data_toolkit_spark.operators import dedup as dd
    from big_data_toolkit_spark.operators import similarity as sim

    n = 16 * sim.SEM_TARGET_CLUSTER + 1  # smallest corpus past the floor
    rng = np.random.RandomState(7)
    emb = rng.rand(n, sim.EMB_DIM).astype("float32")
    sf = str(tmp_path / "sem_sf")
    spark.createDataFrame(
        [(int(i), [float(x) for x in emb[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    ).write.parquet(f"{sf}/embeddings.parquet")

    assert sim.semantic_k_for(n) == 32
    wd = str(tmp_path / "sem_wd")
    sem_path = materialize._write_semantic_centroids(spark, sf, wd)
    assert sem_path is not None
    cents = materialize.read_semantic_centroids(spark, wd)
    assert len(cents) == 32

    stored = _rows(dd.semantic_dedup(spark, sf, cents=cents))
    inplan = _rows(dd.semantic_dedup(spark, sf))
    assert stored == inplan and len(stored) == n

"""Materialized shared artifacts: build expensive blocking/training products
ONCE, persist them, and let downstream analyses consume the stored copy.

The oracle-gated queries (``triangle_count``, ``kcore_subgraph``,
``cross_source_leakage``, ``semantic_dedup``, ``knn_ivf_trained``) each
recompute their upstream artifact IN-PLAN — the MinHash near-dup pair graph
or the Lloyd-trained centroids — deliberately, so every driver query is a
self-contained oracle-checkable plan. At 100 TB that recompute is the wrong
production shape: the pair graph costs a full tokenize+shingle+band pass
over the corpus and the centroids cost ``KMEANS_ITERS`` corpus scans, so a
real pipeline materializes both once per corpus snapshot and shares them
across every consumer (the reference stages intermediates between jobs the
same way — e.g. its PageRank pipeline persists the partitioned graph,
``a4/PartitionGraph.java``, rather than re-deriving it per iteration batch).

Artifacts:

* ``neardup_pairs`` — the MinHash-LSH verified near-dup pair table
  (d1, d2, jaccard), written key-range-partitioned and sorted on d1
  (``write_sorted_bucketed``) so pair-side joins scan sorted runs.
* ``centroids`` — the Lloyd-trained k-means centroids (cluster, centroid
  ARRAY<DOUBLE>), K rows. Doubles round-trip parquet bit-exactly, so a
  consumer of the stored centroids produces results IDENTICAL to the
  in-plan training path (tests assert equality).
* ``neardup_components`` — the connected-component closure over the pair
  table (doc_id, component), derived from the STORED pairs (no extra
  corpus pass), key-sorted on doc_id. The cluster-level artifact that
  ``dedup_keep_canonical`` / ``leakage_safe_split`` key on: survivor
  selection and train/val/test assignment are then ONE corpus × tiny
  left join each, with zero MinHash or propagation work per run.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from big_data_toolkit_spark.catalog import local_table
from big_data_toolkit_spark.sources.writers import write_sorted_bucketed

PAIRS_DIR = "neardup_pairs"
CENTROIDS_DIR = "centroids"
COMPONENTS_DIR = "neardup_components"
SEM_CENTROIDS_DIR = "centroids_sem"  # derived-K SemDeDup centroids (only
# written when semantic_k_for(corpus) exceeds the shared K=16 table)


def build_artifacts(spark: SparkSession, sf_dir: str, workdir: str) -> dict[str, str]:
    """Compute and persist the shared artifacts; returns name → path.

    One corpus pass builds the pair graph, ``KMEANS_ITERS`` passes train
    the centroids, and the component closure derives from the STORED
    pair table (pair-graph-sized joins, zero extra corpus passes) —
    after this, NO consumer touches the raw text again (the centroid
    consumers still scan the embeddings table, which is the data they
    analyze, not an artifact recompute).
    """
    from big_data_toolkit_spark.operators.dedup import (
        dedup_components,
        dedup_minhash_lsh,
    )
    from big_data_toolkit_spark.operators.similarity import _lloyd

    pairs_path = os.path.join(workdir, PAIRS_DIR)
    cents_path = os.path.join(workdir, CENTROIDS_DIR)
    comps_path = os.path.join(workdir, COMPONENTS_DIR)

    def _build_pair_chain() -> None:
        spark.sparkContext.setJobDescription("artifacts: neardup pair graph")
        # localCheckpoint before the sorted write: repartitionByRange
        # SAMPLES its child to pick range bounds, which would otherwise
        # recompute the whole tokenize+shingle+band+verify pipeline a
        # second time.
        write_sorted_bucketed(
            dedup_minhash_lsh(spark, sf_dir).localCheckpoint(),
            pairs_path,
            "d1",
        )
        # Component closure FROM the stored pairs: the propagation rounds
        # run over the just-written (pair-graph-sized ≪ corpus) table, so
        # this adds no corpus pass — it turns the pairwise artifact into
        # the cluster-level one that the survivor-selection and split
        # consumers key on (their docstrings name this as the at-scale
        # path).
        write_sorted_bucketed(
            dedup_components(
                spark, sf_dir, pairs=spark.read.parquet(pairs_path)
            ),
            comps_path,
            "doc_id",
        )

    def _build_centroid_chain() -> str | None:
        spark.sparkContext.setJobDescription("artifacts: Lloyd centroids")
        _, cents = _lloyd(spark, sf_dir)
        _write_centroid_table(cents_path, cents)
        # Derived-K SemDeDup centroids: the fixed-K table above is the one
        # knn_ivf_trained's (oracle-pinned K=16) consumers key on, but
        # semantic_dedup's cost model requires K ∝ corpus size — on a
        # corpus past the 16-cluster envelope, train and persist a SECOND
        # centroid table at the derived K so the stored path runs the same
        # clustering the in-plan op does (at gate scales the derivation
        # floors to 16 and the shared table serves both, so nothing extra
        # is written).
        return _write_semantic_centroids(spark, sf_dir, workdir)

    # The pair chain reads `documents`, the centroid chain `embeddings` —
    # fully independent job DAGs, so they run CONCURRENTLY from a 2-thread
    # pool (guide §2.6: overlap independent jobs so one chain's straggler
    # tail back-fills with the other's tasks; job descriptions are
    # thread-local, so the UI stays labelled). Artifacts and their bytes
    # are identical to the sequential build — only the wall clock changes.
    #
    # CONSTRAINT (ADVICE r13): `load_table('events')` flips the
    # session-global nanosAsLong conf with a set/restore, which is NOT
    # thread-safe — neither chain reads `events` today, and any future
    # artifact that does must either run outside this pool or move that
    # read to a per-read option. Session confs are process-global; job
    # descriptions are the only thread-local state relied on here.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        pair_f = pool.submit(_build_pair_chain)
        sem_f = pool.submit(_build_centroid_chain)
        pair_f.result()
        sem_path = sem_f.result()
    out = {
        PAIRS_DIR: pairs_path,
        CENTROIDS_DIR: cents_path,
        COMPONENTS_DIR: comps_path,
    }
    if sem_path is not None:
        out[SEM_CENTROIDS_DIR] = sem_path
    return out


def _write_centroid_table(path: str, cents: dict[int, list[float]]) -> None:
    """Persist a K-row centroid dict — pyarrow directly instead of a Spark
    job (createDataFrame over Python rows + coalesce(1).write measured
    4.3 s of the 8.6 s build for 16 rows: Python-RDD serialization plus a
    full job for data that never left the driver). Spark reads the
    directory back like any parquet table; doubles round-trip bit-exactly
    either way."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    table = pa.table(
        {
            "cluster": pa.array(
                [int(c) for c in sorted(cents)], type=pa.int64()
            ),
            "centroid": pa.array(
                [[float(x) for x in cents[c]] for c in sorted(cents)],
                type=pa.list_(pa.float64()),
            ),
        }
    )
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


def _write_semantic_centroids(
    spark: SparkSession, sf_dir: str, workdir: str
) -> str | None:
    """Train and persist the derived-K SemDeDup centroid table when the
    corpus needs more clusters than the shared K=16 artifact; returns the
    path, or None when the derivation floors to 16 (the shared table then
    serves semantic_dedup too — ``read_semantic_centroids`` falls back)."""
    from big_data_toolkit_spark.catalog import table_row_count
    from big_data_toolkit_spark.operators.similarity import (
        CENTROID_IDS,
        _lloyd,
        semantic_k_for,
    )

    k = semantic_k_for(table_row_count(sf_dir, "embeddings"))
    if k == len(CENTROID_IDS):
        return None
    _, cents = _lloyd(spark, sf_dir, k=k)
    sem_path = os.path.join(workdir, SEM_CENTROIDS_DIR)
    _write_centroid_table(sem_path, cents)
    return sem_path


def read_neardup_pairs(spark: SparkSession, workdir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(workdir, PAIRS_DIR))


def read_neardup_components(spark: SparkSession, workdir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(workdir, COMPONENTS_DIR))


def read_semantic_centroids(
    spark: SparkSession, workdir: str
) -> dict[int, list[float]]:
    """Centroids for the stored SemDeDup path: the derived-K
    ``centroids_sem`` table when the build wrote one (corpus past the
    16-cluster envelope), else the shared K=16 table — mirroring
    ``semantic_k_for``'s floor, so the stored path always clusters
    exactly like the in-plan op."""
    sem_path = os.path.join(workdir, SEM_CENTROIDS_DIR)
    if os.path.isdir(sem_path):
        rows = spark.read.parquet(sem_path).collect()
        return {
            int(r["cluster"]): [float(x) for x in r["centroid"]]
            for r in rows
        }
    return read_centroids(spark, workdir)


def read_centroids(spark: SparkSession, workdir: str) -> dict[int, list[float]]:
    """Load the K-row centroid table back into the literal dict the
    assignment expressions are parameterized with (O(K·dim) driver bytes —
    the same budget as the in-plan training fetch)."""
    rows = spark.read.parquet(os.path.join(workdir, CENTROIDS_DIR)).collect()
    if not rows:
        raise ValueError(
            f"read_centroids: no centroid rows under {workdir}/{CENTROIDS_DIR}"
            " — artifact build did not run or wrote an empty table"
        )
    return {int(r["cluster"]): [float(x) for x in r["centroid"]] for r in rows}


def triangle_count_materialized(
    spark: SparkSession, sf_dir: str, workdir: str
) -> DataFrame:
    from big_data_toolkit_spark.operators.pagerank import triangle_count

    return triangle_count(spark, sf_dir, pairs=read_neardup_pairs(spark, workdir))


def kcore_subgraph_materialized(
    spark: SparkSession, sf_dir: str, workdir: str
) -> DataFrame:
    from big_data_toolkit_spark.operators.pagerank import kcore_subgraph

    return kcore_subgraph(spark, sf_dir, pairs=read_neardup_pairs(spark, workdir))


def cross_source_leakage_materialized(
    spark: SparkSession, sf_dir: str, workdir: str
) -> DataFrame:
    from big_data_toolkit_spark.operators.dedup import cross_source_leakage

    return cross_source_leakage(
        spark, sf_dir, pairs=read_neardup_pairs(spark, workdir)
    )


def semantic_dedup_materialized(
    spark: SparkSession, sf_dir: str, workdir: str
) -> DataFrame:
    from big_data_toolkit_spark.operators.dedup import semantic_dedup

    return semantic_dedup(
        spark, sf_dir, cents=read_semantic_centroids(spark, workdir)
    )


def knn_ivf_trained_materialized(
    spark: SparkSession, sf_dir: str, workdir: str
) -> DataFrame:
    from big_data_toolkit_spark.operators.similarity import knn_ivf_trained

    return knn_ivf_trained(spark, sf_dir, cents=read_centroids(spark, workdir))


def dedup_keep_canonical_materialized(
    spark: SparkSession, sf_dir: str, workdir: str
) -> DataFrame:
    from big_data_toolkit_spark.operators.dedup import dedup_keep_canonical

    return dedup_keep_canonical(
        spark, sf_dir, comp=read_neardup_components(spark, workdir)
    )


def leakage_safe_split_materialized(
    spark: SparkSession, sf_dir: str, workdir: str
) -> DataFrame:
    from big_data_toolkit_spark.operators.dedup import leakage_safe_split

    return leakage_safe_split(
        spark, sf_dir, comp=read_neardup_components(spark, workdir)
    )


def dedup_keep_best_materialized(
    spark: SparkSession, sf_dir: str, workdir: str
) -> DataFrame:
    from big_data_toolkit_spark.operators.dedup import dedup_keep_best

    return dedup_keep_best(
        spark, sf_dir, comp=read_neardup_components(spark, workdir)
    )


def training_manifest_materialized(
    spark: SparkSession, sf_dir: str, workdir: str
) -> DataFrame:
    """The full pipeline over the stored closure: survive + split + pack
    with ZERO MinHash or propagation work per run — the shape a nightly
    corpus snapshot actually emits."""
    from big_data_toolkit_spark.operators.curation import training_manifest

    return training_manifest(
        spark, sf_dir, comp=read_neardup_components(spark, workdir)
    )


def manifest_ingest_delta_materialized(
    spark: SparkSession, sf_dir: str, workdir: str
) -> DataFrame:
    """The delta append over the stored PAIR table: both the corpus-only
    closure and the cross matches derive from ``neardup_pairs``, so the
    per-delta cost is the closure over stored pairs + the delta's own
    map-only scan — no MinHash pass at all."""
    from big_data_toolkit_spark.operators.curation import (
        manifest_ingest_delta,
    )

    return manifest_ingest_delta(
        spark, sf_dir, pairs=read_neardup_pairs(spark, workdir)
    )


def manifest_compact_materialized(
    spark: SparkSession, sf_dir: str, workdir: str
) -> DataFrame:
    """The nightly rebuild over the stored artifacts: the FULL closure is
    the stored ``neardup_components`` table (it covers the whole pair
    graph, delta nodes included), and the corpus-only closure plus the
    cross matches derive from the stored ``neardup_pairs`` — so
    compaction costs zero MinHash work AND zero full-graph propagation;
    the per-night price is one pair-graph-sized corpus-only closure plus
    the manifest pipeline's corpus scan."""
    from big_data_toolkit_spark.operators.curation import manifest_compact

    return manifest_compact(
        spark,
        sf_dir,
        pairs=read_neardup_pairs(spark, workdir),
        comp=read_neardup_components(spark, workdir),
    )


# ---------------------------------------------------------------------------
# Per-stage bench surfaces: the artifact build and each consumer are
# separate bench lines, so one consumer's regression cannot hide in a total.
# The build caches its workdir per (process, sf_dir); consumer wrappers
# reuse it (building on miss so each is also runnable standalone).
# ---------------------------------------------------------------------------

_BENCH_WORKDIRS: dict[str, str] = {}


def _bench_workdir(spark: SparkSession, sf_dir: str) -> str:
    workdir = _BENCH_WORKDIRS.get(sf_dir)
    if workdir is None:
        import atexit
        import shutil
        import tempfile

        workdir = tempfile.mkdtemp(prefix="bdts-artifacts-")
        atexit.register(shutil.rmtree, workdir, ignore_errors=True)
        _BENCH_WORKDIRS[sf_dir] = workdir
        build_artifacts(spark, sf_dir, workdir)
    return workdir


def bench_artifact_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench line for the build alone: ONE pair-graph pass + ONE centroid
    training, persisted. Returns the artifact row counts (forcing this tiny
    summary re-reads only the written parquet, not the build)."""
    _BENCH_WORKDIRS.pop(sf_dir, None)  # always time a FRESH build
    workdir = _bench_workdir(spark, sf_dir)
    pairs_n = read_neardup_pairs(spark, workdir).count()
    cents_n = len(read_centroids(spark, workdir))
    comps_n = read_neardup_components(spark, workdir).count()
    return local_table(
        spark,
        [
            (PAIRS_DIR, pairs_n),
            (CENTROIDS_DIR, cents_n),
            (COMPONENTS_DIR, comps_n),
        ],
        "artifact string, n_rows long",
    )


def bench_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return triangle_count_materialized(spark, sf_dir, _bench_workdir(spark, sf_dir))


def bench_kcore_subgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kcore_subgraph_materialized(spark, sf_dir, _bench_workdir(spark, sf_dir))


def bench_cross_source_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cross_source_leakage_materialized(
        spark, sf_dir, _bench_workdir(spark, sf_dir)
    )


def bench_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return semantic_dedup_materialized(spark, sf_dir, _bench_workdir(spark, sf_dir))


def bench_knn_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    return knn_ivf_trained_materialized(spark, sf_dir, _bench_workdir(spark, sf_dir))


def bench_dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_keep_canonical_materialized(
        spark, sf_dir, _bench_workdir(spark, sf_dir)
    )


def bench_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    return leakage_safe_split_materialized(
        spark, sf_dir, _bench_workdir(spark, sf_dir)
    )


def bench_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_keep_best_materialized(
        spark, sf_dir, _bench_workdir(spark, sf_dir)
    )


def bench_training_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    return training_manifest_materialized(
        spark, sf_dir, _bench_workdir(spark, sf_dir)
    )


def bench_manifest_ingest_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    return manifest_ingest_delta_materialized(
        spark, sf_dir, _bench_workdir(spark, sf_dir)
    )


def bench_manifest_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return manifest_compact_materialized(
        spark, sf_dir, _bench_workdir(spark, sf_dir)
    )


# ---------------------------------------------------------------------------
# PQ index artifact (VERDICT r9 item 6): ``pq_codes`` is documented as "the
# persisted index artifact", but the gated ``knn_pq`` query re-encodes the
# corpus in-plan every run (deliberately — self-contained oracle plan).
# The production shape builds the code table + codebook ONCE per corpus
# snapshot and every search reads 8 bytes/vector from the store; this is
# that shape, mirroring the reference's build-once/query-many MapFile
# pattern (a3/BuildInvertedIndexCompressed.java:187 builds the index job-
# side; a3/BooleanRetrievalCompressed.java:66-74 only ever reads it).
# ---------------------------------------------------------------------------

PQ_CODES_DIR = "pq_codes"
PQ_CODEBOOK_DIR = "pq_codebook"
PQ_CENTROIDS_DIR = "pq_centroids"


def _write_id_vec_table(path: str, ids: list[int], vecs: dict) -> None:
    """Tiny driver-resident (id, qv ARRAY<BIGINT>) table via pyarrow —
    the centroids-write pattern (a Spark job for 16 rows costs seconds)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    table = pa.table(
        {
            "id": pa.array(ids, type=pa.int64()),
            "qv": pa.array([vecs[j] for j in ids], type=pa.list_(pa.int64())),
        }
    )
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


def build_pq_artifact(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    corpus_only: bool = False,
) -> dict[str, str]:
    """One map-only corpus scan writes the code table (vec_id, 8 donor-id
    codes — dictionary-encoded bytes in parquet), PARTITIONED BY the
    coarse IVF cell so a probed search becomes directory pruning: an
    nprobe/nlist query never opens the other cells' files. The 16-row
    codebook and the 16-row coarse quantizer persist alongside, so a
    consumer needs the embeddings table ONLY for the query vector's
    point lookup.

    ``corpus_only``: encode only the non-delta slice (the index
    parameters — codebook and quantizer — still derive from their
    pinned vector ids, i.e. they are the same either way); the delta
    then arrives later via ``compact_pq_artifact``, and the result is
    bit-equal to a full build."""
    from big_data_toolkit_spark.catalog import load_table
    from big_data_toolkit_spark.operators.similarity import (
        _pq_codebook,
        _quantize,
        _quantized_centroids,
        pq_codes_cell_frame,
    )

    codes_path = os.path.join(workdir, PQ_CODES_DIR)
    donors = _pq_codebook(spark, sf_dir)
    cents_q = _quantized_centroids(spark, sf_dir)
    # One scan emits codes + cell together via the shared
    # pq_codes_cell_frame encode (the same definition the compactor and
    # the in-plan ingest sides use — the store cannot drift from them).
    emb = load_table(spark, sf_dir, "embeddings")
    if corpus_only:
        from pyspark.sql import functions as F  # noqa: PLC0415

        from big_data_toolkit_spark.operators.dedup import NEW_BATCH_MOD

        emb = emb.where(
            F.col("vec_id") % NEW_BATCH_MOD != NEW_BATCH_MOD - 1
        )
    pq_codes_cell_frame(_quantize(emb), donors, cents_q).write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(codes_path)

    book_path = os.path.join(workdir, PQ_CODEBOOK_DIR)
    cent_path = os.path.join(workdir, PQ_CENTROIDS_DIR)
    _write_id_vec_table(book_path, sorted(donors), donors)
    _write_id_vec_table(cent_path, sorted(cents_q), cents_q)
    return {
        PQ_CODES_DIR: codes_path,
        PQ_CODEBOOK_DIR: book_path,
        PQ_CENTROIDS_DIR: cent_path,
    }


def read_pq_codes(spark: SparkSession, workdir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(workdir, PQ_CODES_DIR))


def compact_pq_artifact(spark: SparkSession, sf_dir: str, workdir: str) -> None:
    """Append the delta slice's codes to the STORED cell-partitioned code
    table — the index-lifecycle twin of ``manifest_compact``: the nightly
    store absorbs the day's arrivals.

    The stored codebook and coarse quantizer are FROZEN (read back from
    the artifact, never retrained — retraining would silently invalidate
    every code already on disk), so per-compaction cost is one
    delta-sized encode plus a partitioned append: each delta row lands in
    its cell's directory and searches keep pruning exactly as before.
    Parquet round-trips the BIGINT codes exactly, so a store built
    corpus-only and then compacted is BIT-EQUAL to a fresh build over
    the full table (asserted in tests/test_materialize.py) — the
    append-then-search path needs no special casing anywhere downstream.
    """
    from pyspark.sql import functions as F  # noqa: PLC0415

    from big_data_toolkit_spark.catalog import load_table
    from big_data_toolkit_spark.operators.dedup import NEW_BATCH_MOD
    from big_data_toolkit_spark.operators.similarity import (
        _quantize,
        pq_codes_cell_frame,
    )

    donors = read_pq_codebook(spark, workdir)
    cents_q = read_pq_centroids(spark, workdir)
    # Idempotence guard: a blind append after a retry, a double-run, or a
    # full (non-corpus_only) build would duplicate every delta row in the
    # code table — and nothing downstream could tell (searches would emit
    # duplicate hits). Refuse loudly instead; the scan is 8 bytes/vector
    # over the delta residue class only.
    already = (
        read_pq_codes(spark, workdir)
        .where(F.col("vec_id") % NEW_BATCH_MOD == NEW_BATCH_MOD - 1)
        .limit(1)
        .count()
    )
    if already:
        raise ValueError(
            f"compact_pq_artifact: the stored code table under {workdir} "
            "already contains delta-slice codes — compacting again would "
            "duplicate them; build with corpus_only=True before the first "
            "compaction, and compact each delta exactly once"
        )
    delta = load_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") % NEW_BATCH_MOD == NEW_BATCH_MOD - 1
    )
    pq_codes_cell_frame(_quantize(delta), donors, cents_q).write.mode(
        "append"
    ).partitionBy("cell").parquet(os.path.join(workdir, PQ_CODES_DIR))


def _read_id_vec_table(
    spark: SparkSession, workdir: str, subdir: str
) -> dict[int, list[int]]:
    rows = spark.read.parquet(os.path.join(workdir, subdir)).collect()
    if not rows:
        raise ValueError(
            f"no rows under {workdir}/{subdir} — PQ artifact build did "
            "not run or wrote an empty table"
        )
    return {int(r["id"]): [int(x) for x in r["qv"]] for r in rows}


def read_pq_codebook(spark: SparkSession, workdir: str) -> dict[int, list[int]]:
    return _read_id_vec_table(spark, workdir, PQ_CODEBOOK_DIR)


def read_pq_centroids(spark: SparkSession, workdir: str) -> dict[int, list[int]]:
    return _read_id_vec_table(spark, workdir, PQ_CENTROIDS_DIR)


def knn_pq_materialized(
    spark: SparkSession, sf_dir: str, workdir: str
) -> DataFrame:
    from big_data_toolkit_spark.operators.similarity import knn_pq_from_codes

    return knn_pq_from_codes(
        spark,
        sf_dir,
        read_pq_codes(spark, workdir),
        read_pq_codebook(spark, workdir),
    )


def knn_ivfpq_materialized(
    spark: SparkSession,
    sf_dir: str,
    workdir: str,
    query_vec_id: int | None = None,
    k: int | None = None,
    nprobe: int | None = None,
) -> DataFrame:
    """IVFADC over the STORED index with real PARTITION PRUNING: probe
    cells come from pure Python over the stored quantizer + the query's
    point lookup, and the `.isin(probe)` filter on the partition column
    means the scan opens nprobe/nlist of the code table's directories —
    the other cells' files are never read (plan-asserted:
    PartitionFilters carries the cell predicate). Bit-exact vs the
    in-plan ``knn_ivfpq`` twin."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    from big_data_toolkit_spark.operators.similarity import (
        NPROBE_PQ,
        QUERY_VEC_ID,
        TOP_K,
        _pq_query_qv,
        knn_pq_from_codes,
    )

    query_vec_id = QUERY_VEC_ID if query_vec_id is None else query_vec_id
    k = TOP_K if k is None else k
    nprobe = NPROBE_PQ if nprobe is None else nprobe
    donors = read_pq_codebook(spark, workdir)
    cents_q = read_pq_centroids(spark, workdir)
    qv = _pq_query_qv(spark, sf_dir, query_vec_id)
    probe = sorted(
        sorted(cents_q),
        key=lambda c: (
            sum((a - b) ** 2 for a, b in zip(qv, cents_q[c])),
            c,
        ),
    )[:nprobe]
    pruned = read_pq_codes(spark, workdir).where(
        F.col("cell").isin([int(c) for c in probe])
    )
    # knn_pq_from_codes derives its ADC LUT from one more point lookup of
    # the same query vector — cheap, and keeps the ADC machinery single-
    # sourced rather than duplicated here
    return knn_pq_from_codes(
        spark, sf_dir, pruned, donors, query_vec_id, k
    )


def _stored_pq_corpus(spark: SparkSession, workdir: str):
    """(corpus, donors, cents_q): the stored-index triple the ingest-ANN
    shapes take — code table adapted to the join layout, codebook, and
    coarse quantizer, all read from the artifact."""
    from big_data_toolkit_spark.operators.similarity import (
        pq_corpus_from_codes,
    )

    donors = read_pq_codebook(spark, workdir)
    cents_q = read_pq_centroids(spark, workdir)
    corpus = pq_corpus_from_codes(read_pq_codes(spark, workdir), donors)
    return corpus, donors, cents_q


def ann_pq_incremental_materialized(
    spark: SparkSession, sf_dir: str, workdir: str
) -> DataFrame:
    """``ann_pq_incremental`` over the STORED index: the corpus side is
    8 bytes/vector read from the cell-partitioned code table (the delta
    exclusion is a stored-column filter), the codebook and quantizer are
    the stored 16-row tables, and the only embeddings access left is the
    delta slice's own scan — per-ingest cost never re-encodes the
    corpus. Bit-exact vs the in-plan twin (parquet ints round-trip
    exactly; the donor-id→position adapter inverts the build's mapping).
    """
    from big_data_toolkit_spark.operators.similarity import (
        ann_pq_incremental,
    )

    corpus, donors, cents_q = _stored_pq_corpus(spark, workdir)
    return ann_pq_incremental(
        spark, sf_dir, corpus=corpus, donors=donors, cents_q=cents_q
    )


def knn_join_pq_materialized(
    spark: SparkSession, sf_dir: str, workdir: str
) -> DataFrame:
    """``knn_join_pq`` over the STORED index — same stored-corpus wiring
    as ``ann_pq_incremental_materialized``."""
    from big_data_toolkit_spark.operators.similarity import knn_join_pq

    corpus, donors, cents_q = _stored_pq_corpus(spark, workdir)
    return knn_join_pq(
        spark, sf_dir, corpus=corpus, donors=donors, cents_q=cents_q
    )


_PQ_BENCH_WORKDIRS: dict[str, str] = {}


def _pq_bench_workdir(spark: SparkSession, sf_dir: str) -> str:
    workdir = _PQ_BENCH_WORKDIRS.get(sf_dir)
    if workdir is None:
        import atexit
        import shutil
        import tempfile

        workdir = tempfile.mkdtemp(prefix="bdts-pq-")
        atexit.register(shutil.rmtree, workdir, ignore_errors=True)
        _PQ_BENCH_WORKDIRS[sf_dir] = workdir
        build_pq_artifact(spark, sf_dir, workdir)
    return workdir


def bench_pq_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench line for the PQ index build alone: one encode scan + the
    codebook write. Returns artifact row counts (re-reads only the
    written parquet)."""
    _PQ_BENCH_WORKDIRS.pop(sf_dir, None)  # always time a FRESH build
    workdir = _pq_bench_workdir(spark, sf_dir)
    return local_table(
        spark,
        [
            (PQ_CODES_DIR, read_pq_codes(spark, workdir).count()),
            (PQ_CODEBOOK_DIR, len(read_pq_codebook(spark, workdir))),
        ],
        "artifact string, n_rows long",
    )


def bench_knn_pq_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The consumer: ADC top-k over the STORED code table — per-search
    cost once the index exists (compare against the in-plan ``knn_pq``
    bench line, which re-encodes the corpus every run)."""
    return knn_pq_materialized(spark, sf_dir, _pq_bench_workdir(spark, sf_dir))


def bench_knn_ivfpq_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC over the stored cell-partitioned index: partition pruning
    makes the per-search scan nprobe/nlist of the code table."""
    return knn_ivfpq_materialized(
        spark, sf_dir, _pq_bench_workdir(spark, sf_dir)
    )


def bench_ann_pq_incremental_stored(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Ingest-ANN radius matching over the stored index: per-ingest cost
    with the corpus encode amortized into the one-time build (compare
    against the in-plan ``ann_pq_incremental`` line)."""
    return ann_pq_incremental_materialized(
        spark, sf_dir, _pq_bench_workdir(spark, sf_dir)
    )


def bench_knn_join_pq_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN kNN JOIN over the stored index — same amortization story."""
    return knn_join_pq_materialized(
        spark, sf_dir, _pq_bench_workdir(spark, sf_dir)
    )


# Bench lines that are not registered queries: the two artifact builds, and
# the stored-artifact consumers without their own oracle row (each is pinned
# bit-equal to its in-plan twin in tests/test_materialize.py). bench.py times
# them after the registry; ``QUERIES`` below holds the registered consumers.
BENCH_ONLY = {
    "mat_artifact_build": bench_artifact_build,
    "mat_triangle_count": bench_triangle_count,
    "mat_kcore_subgraph": bench_kcore_subgraph,
    "mat_cross_source_leakage": bench_cross_source_leakage,
    "mat_semantic_dedup": bench_semantic_dedup,
    "mat_knn_ivf_trained": bench_knn_ivf_trained,
    "mat_dedup_keep_canonical": bench_dedup_keep_canonical,
    "mat_leakage_safe_split": bench_leakage_safe_split,
    "mat_manifest_ingest_delta": bench_manifest_ingest_delta,
    "mat_pq_build": bench_pq_build,
    "mat_knn_pq": bench_knn_pq_stored,
    "mat_ann_pq_incremental": bench_ann_pq_incremental_stored,
    "mat_knn_join_pq": bench_knn_join_pq_stored,
}


# ---------------------------------------------------------------------------
# Driver-contract registration (VERDICT r11 item 4): the stored-artifact
# consumers are the plans a 100-TB deployment actually runs — survivor
# selection / manifest emission over the persisted component closure and
# IVFADC search over the persisted cell-partitioned PQ index — but until
# r12 their only correctness evidence was pytest bit-equality vs the
# in-plan twins.  Registering them as driver queries gives the stored
# path its own oracle rows: each consumer reads the artifact (built once
# per process+sf_dir, same cache as the bench lines) and must hash-match
# the SAME DuckDB oracle as its in-plan twin — stored parquet round-trips
# (BIGINT codes, doubles) are exact, so artifact staleness or adapter
# drift turns a driver row red instead of hiding behind the twin.
# ---------------------------------------------------------------------------

def _twin_oracles() -> dict[str, str]:
    from big_data_toolkit_spark.operators.curation import (
        ORACLE_SQL as _CURATION_SQL,
    )
    from big_data_toolkit_spark.operators.dedup import (
        ORACLE_SQL as _DEDUP_SQL,
    )
    from big_data_toolkit_spark.operators.similarity import (
        ORACLE_SQL as _SIM_SQL,
    )

    return {
        "mat_dedup_keep_best": _DEDUP_SQL["dedup_keep_best"],
        "mat_training_manifest": _CURATION_SQL["training_manifest"],
        "mat_knn_ivfpq": _SIM_SQL["knn_ivfpq"],
        # r12 verdict item 6: the nightly compactor IS the production
        # manifest path at 100 TB — its stored-pairs form must hash the
        # same oracle as the in-plan twin, like the other mat_ rows.
        "mat_manifest_compact": _CURATION_SQL["manifest_compact"],
    }


QUERIES = {
    "mat_dedup_keep_best": bench_dedup_keep_best,
    "mat_training_manifest": bench_training_manifest,
    "mat_knn_ivfpq": bench_knn_ivfpq_stored,
    "mat_manifest_compact": bench_manifest_compact,
}

ORACLE_SQL = _twin_oracles()

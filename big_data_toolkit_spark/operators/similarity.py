"""Similarity search over embedding vectors: brute-force cosine top-k and an
LSH-bucketed ANN variant.

Not in the reference; part of the engine's LLM-pipeline surface. Design:

* **Brute force** (the correctness baseline): query vector broadcast to all
  partitions, cosine computed with JVM-side higher-order functions
  (``zip_with`` + ``aggregate`` — a left-to-right double fold, bit-identical
  to the oracle's ``list_sum(list_transform(...))``), then
  ``orderBy(desc).limit(k)`` = TakeOrderedAndProject: per-partition top-k
  heaps, only k rows per partition reach the driver. At 100 TB this is one
  full scan, no shuffle — the right plan for a single ad-hoc query.
* **LSH ANN** (the scale path): random-hyperplane signature — 8 sign bits of
  dot products against fixed hyperplanes (here: 8 designated corpus vectors,
  so the oracle reproduces them exactly; production would use seeded Gaussian
  planes). Vectors sharing the query's bucket are candidates; cosine + top-k
  within the bucket only. Stored bucketed/partitioned by signature, this
  prunes the scan to ~1/2^8 of the data — the IVF-style index a repeated-
  query workload needs; the tradeoff is recall (near-neighbors across a
  hyperplane land in other buckets; production uses multi-probe/band OR).

No UDFs, no collect-based loops; everything is expressions + one broadcast.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from big_data_toolkit_spark.catalog import (
    load_table,
    local_table,
    table_row_count,
)

QUERY_VEC_ID = 0
TOP_K = 10
N_HYPERPLANES = 8
HYPERPLANE_IDS = tuple(range(1, N_HYPERPLANES + 1))  # vec_ids used as planes
CENTROID_IDS = tuple(range(10, 26))  # 16 designated vectors as IVF centroids
NPROBE = 2


def _dot(a: str, b: str) -> Column:
    """Double-precision dot product of two float-array columns (in-order fold)."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> double(x) * double(y)), "
        f"0D, (acc, v) -> acc + v)"
    )


def _norm(a: str) -> Column:
    return F.sqrt(
        F.expr(
            f"aggregate(transform({a}, x -> double(x) * double(x)), "
            f"0D, (acc, v) -> acc + v)"
        )
    )


def _cosine(a: str, b: str) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


PAIR_DOT_ARROW = True


def pair_dot_arrow_exact(a, b) -> Column:
    """Arrow twin of ``_dot`` for candidate-pair verification: replays the
    interpreted ``aggregate(zip_with(...))`` fold's EXACT IEEE operation
    sequence — acc = acc + double(x_i)·double(y_i), i ascending — as a
    vectorized per-dimension numpy loop over each Arrow batch (the
    ``_kmeans_assign_arrow_exact`` pattern: float32→float64 conversion is
    exact, numpy float64 is the same IEEE arithmetic as the JVM fold, and
    the accumulation order is replayed, NOT np.dot/GEMM, which associates
    differently).  Bit-identical to ``_dot`` by construction — asserted
    over real corpora and hypothesis-fuzzed in
    ``tests/test_similarity.py`` — while replacing an interpreted
    per-pair fold with ~dim vectorized ops per batch; the verify stages of
    the embedding-dedup family run one such fold per CANDIDATE PAIR,
    which dominated their post-join cost."""

    def _row_fold(x, y):
        # The expression fold's exact degenerate semantics: a NULL array,
        # a NULL element, or a length mismatch (zip_with pads with null)
        # all make the fold NULL (ADVICE r13 — without this the two
        # PAIR_DOT_ARROW dispatch paths only agreed on clean data: the
        # vectorized path raised on ragged input and coerced element
        # nulls to NaN).  One documented residual: a genuine NaN PAYLOAD
        # yields NaN from the expression fold but NULL here — Spark's
        # Arrow return serializer nulls NaN for double UDFs regardless of
        # dtype (measured: both float64 and object NaN arrive as None),
        # so the boundary itself cannot carry NaN.  Spark orders NaN as
        # the GREATEST double, so a NaN cosine passes a >= threshold
        # where NULL does not — the dispatch paths genuinely diverge on
        # NaN payloads.  Call sites require NaN-free embeddings (the
        # engine's embedding tables are finite float32 by construction);
        # pinned by the degenerate-input test.
        if x is None or y is None or len(x) != len(y):
            return None
        acc = 0.0
        for xi, yi in zip(x, y):  # in-order fold, i ascending
            if xi is None or yi is None:
                return None
            acc += float(xi) * float(yi)
        return acc

    @F.pandas_udf("double")
    def pdot(xs: pd.Series, ys: pd.Series) -> pd.Series:
        if len(xs) == 0:
            return pd.Series([], dtype="float64")
        xl, yl = xs.tolist(), ys.tolist()
        try:
            A = np.array(xl, dtype=np.float64)
            B = np.array(yl, dtype=np.float64)
            # NaN can be a coerced NULL element (None → NaN) — only a
            # NaN-free batch is provably clean; real NaN payloads take the
            # row fold below, which reproduces them exactly (acc stays the
            # same IEEE sequence either way).
            if (
                A.ndim == 2
                and B.ndim == 2
                and A.shape == B.shape
                and not np.isnan(A).any()
                and not np.isnan(B).any()
            ):
                acc = np.zeros(A.shape[0])
                for i in range(A.shape[1]):
                    acc += A[:, i] * B[:, i]  # in-order fold, i ascending
                return pd.Series(acc)
        except (TypeError, ValueError):
            pass  # NULL / ragged rows: per-row exact replay below
        return pd.Series(
            [_row_fold(x, y) for x, y in zip(xl, yl)], dtype="float64"
        )

    return pdot(a, b)


def pair_dot_auto(a, b) -> Column:
    """Dispatch for the pair-verify dot product: the Arrow ordered-fold
    replay by default, the literal expression fold when
    ``PAIR_DOT_ARROW`` is off — bit-equal either way."""
    if PAIR_DOT_ARROW:
        return pair_dot_arrow_exact(a, b)
    return _dot(a, b)


def knn_brute_force(
    spark: SparkSession, sf_dir: str, query_vec_id: int = QUERY_VEC_ID, k: int = TOP_K
) -> DataFrame:
    """Exact cosine top-k for one query vector: (vec_id, sim)."""
    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.where(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("qv")
    )
    return (
        emb.where(F.col("vec_id") != query_vec_id)
        .crossJoin(F.broadcast(query))
        .select("vec_id", F.round(_cosine("embedding", "qv"), 6).alias("sim"))
        .orderBy(F.desc("sim"), "vec_id")
        .limit(k)
    )


def _collect_index_vectors(emb: DataFrame, ids: tuple[int, ...]) -> dict[int, list]:
    """Fetch the designated index vectors (planes/centroids) to the driver.

    These are O(n_planes · dim) floats — index *constants*, the moral
    equivalent of a broadcast variable; they ship to executors inside the
    vectorized UDF closure.
    """
    rows = emb.where(F.col("vec_id").isin(list(ids))).select("vec_id", "embedding").collect()
    found = {r["vec_id"]: list(r["embedding"]) for r in rows}
    if len(found) != len(ids):
        missing = sorted(set(ids) - set(found))
        raise ValueError(
            f"index vectors not found in embeddings table: {missing} "
            "(empty table or misconfigured index ids) — refusing to build "
            "a degenerate index"
        )
    return found


def _bucket_udf(planes: dict[int, list]):
    """Arrow-batched signature UDF: sign bits of E @ P.T, one matmul per batch.

    The index-build math is pure linear algebra, which is exactly where a
    Pandas UDF beats per-row SQL expressions: each Arrow batch becomes one
    float64 GEMM instead of n_planes interpreted folds per row. Bits depend
    only on dot-product SIGNS, so float summation order cannot flip them
    except at |dot| ~ ulp — degenerate inputs excluded by construction.
    """
    P = np.array([planes[pid] for pid in sorted(planes)], dtype=np.float64)

    @F.pandas_udf("string")
    def bucket(emb: pd.Series) -> pd.Series:
        E = np.array(emb.tolist(), dtype=np.float64)
        bits = (E @ P.T > 0).astype(np.uint8)
        return pd.Series(["".join(map(str, row)) for row in bits])

    return bucket


def lsh_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, bucket): 8-bit random-hyperplane signature per vector.

    Map-only single scan at any corpus size: no per-(vector, plane) row
    explosion, no groupBy shuffle, no join-back — the signature is one
    vectorized matmul per Arrow batch.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    planes = _collect_index_vectors(emb, HYPERPLANE_IDS)
    return emb.select("vec_id", _bucket_udf(planes)("embedding").alias("bucket"))


def knn_lsh(
    spark: SparkSession, sf_dir: str, query_vec_id: int = QUERY_VEC_ID, k: int = TOP_K
) -> DataFrame:
    """ANN top-k within the query's LSH bucket: (vec_id, sim).

    One scan, zero shuffles: bucket and cosine are both in-row expressions
    against broadcast one-row frames (planes, query bucket, query vector);
    the bucket filter prunes before the cosine; top-k is per-partition heaps
    (TakeOrderedAndProject). The former plan shuffled candidates back into
    the embeddings table by vec_id — pure overhead, since the candidate row
    already carries its embedding.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    planes = _collect_index_vectors(emb, HYPERPLANE_IDS)
    query = emb.where(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("qv")
    )
    sigs = emb.withColumn("bucket", _bucket_udf(planes)("embedding"))
    query_bucket = sigs.where(F.col("vec_id") == query_vec_id).select(
        F.col("bucket").alias("qb")
    )
    return (
        sigs.crossJoin(F.broadcast(query_bucket))
        .where((F.col("bucket") == F.col("qb")) & (F.col("vec_id") != query_vec_id))
        .crossJoin(F.broadcast(query))
        .select("vec_id", F.round(_cosine("embedding", "qv"), 6).alias("sim"))
        .orderBy(F.desc("sim"), "vec_id")
        .limit(k)
    )


def ivf_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, centroid_id): IVF index build — nearest centroid per vector.

    Centroids are CENTROID_IDS corpus vectors (a deterministic stand-in for a
    seeded k-means sample, so the oracle reproduces them exactly; Lloyd
    refinement iterations would reuse this same plan with recomputed means).
    The assignment is SHUFFLE-FREE: the 16 centroids collapse to one
    broadcast array row and the argmax runs as an in-row higher-order
    ``array_max`` over per-centroid cosines — a map-only pass, which is what
    makes the index build viable at 100 TB (cost = one scan).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    cents = _collect_index_vectors(emb, CENTROID_IDS)
    return _with_centroid(emb, cents).select("vec_id", "centroid_id")


def _centroid_udf(cents: dict[int, list]):
    """Arrow-batched nearest-centroid UDF: argmax of batched cosine GEMM.

    np.argmax returns the FIRST max, and centroid ids are sorted ascending,
    so ties break to the smallest centroid_id — the oracle's row_number
    ordering (cos DESC, centroid_id ASC).
    """
    cids = np.array(sorted(cents), dtype=np.int64)
    C = np.array([cents[c] for c in cids], dtype=np.float64)
    cnorm = np.linalg.norm(C, axis=1)

    @F.pandas_udf("long")
    def nearest(emb: pd.Series) -> pd.Series:
        E = np.array(emb.tolist(), dtype=np.float64)
        cs = (E @ C.T) / (np.linalg.norm(E, axis=1, keepdims=True) * cnorm)
        return pd.Series(cids[np.argmax(cs, axis=1)])

    return nearest


def _with_centroid(emb: DataFrame, cents: dict[int, list]) -> DataFrame:
    """emb + in-row argmax centroid assignment (map-only, keeps all columns)."""
    return emb.withColumn("centroid_id", _centroid_udf(cents)("embedding"))


def _topn_centroids_udf(cents: dict[int, list], n: int):
    """Arrow-batched top-n centroid assignment: array<long> of the n nearest
    centroid ids by cosine DESC, centroid_id ASC.

    ``kind="stable"`` argsort keeps ascending index order on ties and cids
    are sorted ascending, so ties break to the smallest centroid_id — the
    oracle's ``row_number() OVER (ORDER BY cos DESC, centroid_id)``.
    """
    cids = np.array(sorted(cents), dtype=np.int64)
    C = np.array([cents[c] for c in cids], dtype=np.float64)
    cnorm = np.linalg.norm(C, axis=1)

    @F.pandas_udf("array<long>")
    def topn(emb: pd.Series) -> pd.Series:
        E = np.array(emb.tolist(), dtype=np.float64)
        cs = (E @ C.T) / (np.linalg.norm(E, axis=1, keepdims=True) * cnorm)
        order = np.argsort(-cs, axis=1, kind="stable")[:, :n]
        return pd.Series([cids[row].tolist() for row in order])

    return topn


def knn_ivf(
    spark: SparkSession, sf_dir: str, query_vec_id: int = QUERY_VEC_ID, k: int = TOP_K
) -> DataFrame:
    """IVF ANN top-k: probe the NPROBE nearest centroid lists only.

    (vec_id, sim). Query side: rank centroids by cosine to the query, keep
    NPROBE; candidates = vectors assigned to those centroids; exact cosine +
    top-k within candidates. With the assignment table written partitioned by
    ``centroid_id``, the probe is partition-pruned to nprobe/n_centroids of
    the corpus — the IVF recall/cost dial (vs LSH's fixed bucket grid).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.where(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("qv")
    )
    probe = (
        emb.where(F.col("vec_id").isin(list(CENTROID_IDS)))
        .select(F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cv"))
        .crossJoin(F.broadcast(query))
        .orderBy(F.desc(_cosine("cv", "qv")), "centroid_id")
        .limit(NPROBE)
        .select("centroid_id")
    )
    # One scan, zero wide shuffles: assignment is the in-row argmax, the
    # probe filter is a 2-row broadcast join, and the row already carries its
    # embedding — no join-back into the corpus by vec_id.
    cents = _collect_index_vectors(emb, CENTROID_IDS)
    return (
        _with_centroid(emb, cents)
        .join(F.broadcast(probe), "centroid_id")
        .where(F.col("vec_id") != query_vec_id)
        .crossJoin(F.broadcast(query))
        .select("vec_id", F.round(_cosine("embedding", "qv"), 6).alias("sim"))
        .orderBy(F.desc("sim"), "vec_id")
        .limit(k)
    )


KMEANS_ITERS = 2  # Lloyd update rounds; the output assignment uses c_ITERS
KMEANS_QUANT = 1_000_000  # fixed-point scale: qv = floor(embedding * QUANT)
EMB_DIM = 64  # embeddings.embedding length (asserted at centroid fetch)
SAMPLE_PER_CLUSTER = 10  # cluster-balanced sampling cap


def _quantize(emb: DataFrame) -> DataFrame:
    """(vec_id, qv): embedding quantized to BIGINT fixed-point.

    Quantization is what makes distributed Lloyd iterations oracle-exact:
    centroid sums over BIGINT are order-independent (float partial-agg order
    across partitions is not), so the mean s/n is a division of exact
    integers and both engines derive bit-identical double centroids no
    matter how the aggregation was scheduled. ``floor`` (not ``round``)
    because floor is rounding-mode-unambiguous across engines.
    """
    return emb.select(
        "vec_id",
        "embedding",
        F.expr(
            f"transform(embedding, x -> floor(double(x) * {KMEANS_QUANT}))"
        ).alias("qv"),
    )


def _int_array_sql(values, bigint: bool = False) -> str:
    """One SQL literal for an index-constant integer array:
    ``array(30, 31, …)`` (INT) or ``array(30L, 31L, …)`` (BIGINT).

    Parsed by ``F.expr`` (alone or inside a larger expression) the array
    costs one py4j call whatever its length, where ``F.array`` over
    ``F.lit``s costs several per element; Catalyst folds both to the same
    ``containsNull=false`` literal."""
    suffix = "L" if bigint else ""
    return f"array({', '.join(f'{int(v)}{suffix}' for v in values)})"


def _dist2(m: list[float]) -> Column:
    """Squared L2 from the quantized row vector to one centroid literal.

    An in-order JVM fold over CAST-from-string double literals: ``repr``
    round-trips the exact double, and the left-to-right fold matches the
    oracle's ``list_sum(list_transform(...))``, so distances are
    bit-identical cross-engine (a numpy GEMM would not be: BLAS sum order
    differs — fine for sign bits, not for argmin near-ties).
    """
    arr = ", ".join(f"CAST('{v!r}' AS DOUBLE)" for v in m)
    return F.expr(
        f"aggregate(zip_with(qv, array({arr}), "
        "(x, y) -> (double(x) - y) * (double(x) - y)), 0D, (acc, v) -> acc + v)"
    )


def _kmeans_assign(q: DataFrame, cents: dict[int, list[float]]) -> DataFrame:
    """q + (cluster): map-only nearest-centroid assignment, ties to the
    smallest cluster id (``array_position`` returns the FIRST minimum and
    cluster ids are laid out ascending — the oracle's
    ``row_number() OVER (ORDER BY dist, cluster)``)."""
    cids = sorted(cents)
    dists = F.array(*[_dist2(cents[c]) for c in cids])
    idx = F.array_position(dists, F.array_min(dists)).cast("int")
    cluster = F.element_at(F.expr(_int_array_sql(cids, bigint=True)), idx)
    return q.withColumn("cluster", cluster)


# Largest K the literal-fold assignment compiles comfortably: each
# centroid is a dim-length CAST-literal array in ONE projection, so K
# bounds codegen size (K=256 ⇒ ~16k literals — fine; K=16k ⇒ 1M literals
# — not a plan, a program).  Past it, assignment switches to the Arrow
# GEMM below: same argmin/tie rule, BLAS throughput, no plan blowup.
ASSIGN_LITERAL_MAX_K = 256


def _kmeans_assign_gemm(q: DataFrame, cents: dict[int, list[float]]) -> DataFrame:
    """q + (cluster): Arrow-batched nearest-centroid assignment for K past
    ``ASSIGN_LITERAL_MAX_K`` — a batched ||q||² − 2qᵀC + ||C||² GEMM over
    the quantized ticks against the broadcast K×dim centroid matrix
    (K·dim·8 bytes in the UDF closure: 8 MiB at K=16384, dim=64).

    Ties break to the smallest cluster id (``np.argmin`` returns the
    first minimum over ascending-sorted cids), matching the literal
    path's rule.  NOT bit-guaranteed against the literal fold on exact
    distance ties (the expanded GEMM rounds differently than the
    in-order fold), which is why the oracle-gated K=16 queries keep the
    literal path; the beyond-cap path trades that for linear-algebra
    throughput at cluster counts where a literal plan cannot compile.
    """
    cids = np.array(sorted(cents), dtype=np.int64)
    C = np.array([cents[c] for c in cids], dtype=np.float64)
    c2 = (C * C).sum(axis=1)

    @F.pandas_udf("long")
    def nearest(qv: pd.Series) -> pd.Series:
        Q = np.array(qv.tolist(), dtype=np.float64)
        d = (Q * Q).sum(axis=1, keepdims=True) - 2.0 * (Q @ C.T) + c2
        return pd.Series(cids[np.argmin(d, axis=1)])

    return q.withColumn("cluster", nearest("qv"))


# Default for the ≤ ASSIGN_LITERAL_MAX_K tier: the ordered-fold Arrow
# path below — bit-identical to the literal fold BY OPERATION SEQUENCE
# (not just "usually equal" like the GEMM), so it can carry the
# oracle-gated queries.  False restores the pure-expression plan
# (equality gate + plan-assertion tests exercise both).
KMEANS_ASSIGN_ARROW = True


def _kmeans_assign_arrow_exact(
    q: DataFrame, cents: dict[int, list[float]]
) -> DataFrame:
    """q + (cluster): Arrow assignment that replays the literal fold's
    EXACT IEEE operation sequence — per centroid, accumulate
    (double(x_i) − c_i)² left-to-right over dimensions in float64 (a
    vectorized K×dim loop over the batch, NOT a GEMM: the expanded-form
    GEMM rounds differently, see ``_kmeans_assign_gemm``). Quantized
    ticks convert to double exactly (|tick| ≪ 2^53), numpy float64 is
    the same IEEE arithmetic the JVM fold runs, and ``np.argmin``'s
    first-minimum over ascending cids is ``array_position``'s tie rule —
    so the result is bit-identical to ``_kmeans_assign`` INCLUDING exact
    distance ties (equality- and synthetic-tie-tested), unlike the
    beyond-cap GEMM. Interpreted ``aggregate()`` folds become ~K×dim
    vectorized numpy ops per batch."""
    cids = np.array(sorted(cents), dtype=np.int64)
    C = np.array([cents[c] for c in cids], dtype=np.float64)
    k, dim = C.shape

    @F.pandas_udf("long")
    def nearest(qv: pd.Series) -> pd.Series:
        if len(qv) == 0:
            return pd.Series([], dtype="int64")
        Q = np.array(qv.tolist(), dtype=np.float64)
        d = np.empty((Q.shape[0], k))
        for j in range(k):
            acc = np.zeros(Q.shape[0])
            for i in range(dim):
                t = Q[:, i] - C[j, i]
                acc += t * t  # in-order fold: acc = acc + (x−c)², i asc
            d[:, j] = acc
        return pd.Series(cids[np.argmin(d, axis=1)])

    return q.withColumn("cluster", nearest("qv"))


def kmeans_assign_auto(q: DataFrame, cents: dict[int, list[float]]) -> DataFrame:
    """Assignment dispatch: up to ``ASSIGN_LITERAL_MAX_K`` centroids the
    oracle-exact tier (ordered-fold Arrow by default, the literal
    expression fold when ``KMEANS_ASSIGN_ARROW`` is off — bit-equal
    either way); the Arrow GEMM beyond."""
    if len(cents) <= ASSIGN_LITERAL_MAX_K:
        if KMEANS_ASSIGN_ARROW:
            return _kmeans_assign_arrow_exact(q, cents)
        return _kmeans_assign(q, cents)
    return _kmeans_assign_gemm(q, cents)


def kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cluster): distributed Lloyd k-means over the embeddings,
    ``KMEANS_ITERS`` update rounds from the ``CENTROID_IDS`` seed vectors.

    The trained-centroid upgrade of ``ivf_assignments`` (whose centroids are
    arbitrary corpus vectors) and the clustering primitive curation needs
    (cluster-balanced sampling below, SemDeDup-style pruning). Per
    iteration: one MAP-ONLY assignment pass (centroids are plan literals —
    no join, no shuffle) plus one aggregation whose shuffle carries
    K×(dim+1) partially-aggregated cells, then a K-row driver fetch turns
    the new means into next round's literals — the same plan-parameterizing
    scalar fetch as ``temperature_mix``'s quotas, O(K·dim) bytes, not data.
    Empty clusters keep their previous centroid. At 100 TB each iteration
    is exactly one corpus scan; K beyond literal-friendly size swaps the
    assignment to the Arrow GEMM of ``_centroid_udf`` (losing oracle
    bit-exactness, gaining BLAS throughput).

    Fixed-point quantization (see ``_quantize``) pins every float the
    iteration derives, so the DuckDB oracle unrolls to the identical
    assignment — integer output, no float hash risk.
    """
    q, cents = _lloyd(spark, sf_dir)
    return kmeans_assign_auto(q, cents).select("vec_id", "cluster")


SEM_TARGET_CLUSTER = 512  # SemDeDup per-cluster population target
# K cap for the driver-parameterized Lloyd path: assignment dispatches
# to the Arrow GEMM past ASSIGN_LITERAL_MAX_K, so the binding costs are
# the K×dim centroid matrix in the UDF closure (8 MiB at the cap) and
# the K×(dim+1)-cell Lloyd update fetch — at the cap and target,
# n ≤ SEM_TARGET_CLUSTER × SEM_K_CAP ≈ 8.4M vectors per semantic_dedup
# call.  Past it, raise rather than degrade: the beyond-cap shape is
# ``dedup.semantic_dedup_sharded`` — coarse-shard by IVF cell first
# (the cell-partitioned stored index, plans.materialize), run SemDeDup
# per cell (capacity = cells × 8.4M) — the same refuse-to-fake policy
# as BLOOM_M_MAX.
SEM_K_CAP = 1 << 14


def semantic_k_for(n_vectors: int) -> int:
    """Cluster count for SemDeDup over ``n_vectors`` embeddings: the
    smallest power of two keeping expected cluster population ≤
    ``SEM_TARGET_CLUSTER``, floored at len(CENTROID_IDS) so the gate-
    scale corpora keep the oracle-pinned K=16 (the derivation only KICKS
    IN past 16×512 = 8,192 vectors — asserted in tests so the static
    oracle SQL stays exact at every driver sf). The SemDeDup cost model
    (Abbas et al. 2023) requires K ∝ corpus size so per-cluster pair
    cost stays bounded; before r12 K was a constant with a docstring
    IOU (SCALE.md's ×32 adjudication) — this is the size-derived
    default the Bloom bitmap's m already has."""
    base = len(CENTROID_IDS)
    need = -(-max(n_vectors, 1) // SEM_TARGET_CLUSTER)
    k = base
    while k < need:
        k <<= 1
    if k > SEM_K_CAP:
        raise ValueError(
            f"{n_vectors} vectors need K={k} > SEM_K_CAP={SEM_K_CAP} for "
            f"the driver-parameterized Lloyd path; use "
            "dedup.semantic_dedup_sharded (per-IVF-cell SemDeDup over the "
            "cell-partitioned stored index, capacity = cells x 8.4M) "
            "instead of degrading the cost model silently"
        )
    return k


def _lloyd(
    spark: SparkSession, sf_dir: str, k: int | None = None
) -> tuple[DataFrame, dict[int, list[float]]]:
    """Run the Lloyd iterations; return the quantized corpus and the TRAINED
    centroids (cluster_id → double vector) — shared by ``kmeans_clusters``
    and ``knn_ivf_trained`` (default K = the oracle-pinned CENTROID_IDS)
    and by ``semantic_dedup`` with its size-derived ``k``: seeds are the
    ``k`` LOWEST vec_ids PRESENT in the table at or above CENTROID_IDS'
    start — on a table whose ids are contiguous from 0 that is exactly
    ``range(10, 10+k)``, and K=16 always reproduces the pinned seed set,
    but a sparse id space (ingest strides, compacted deltas) still seeds
    deterministically instead of raising on missing ids.  The seed fetch
    is a TakeOrdered of K ids — O(K) driver bytes, the same budget as
    the centroid fetch itself."""
    emb = load_table(spark, sf_dir, "embeddings")
    # Materialize the quantized corpus ONCE: every Lloyd iteration is its
    # own job, so without this each of the KMEANS_ITERS rounds re-scans the
    # parquet and re-quantizes — at 100 TB that is ITERS extra corpus
    # passes for identical bytes. localCheckpoint also keeps the loop's
    # lineage flat (iteration plans stay O(1), not O(iteration)).
    q = _quantize(emb).localCheckpoint()
    fixed = k is None or k == len(CENTROID_IDS)
    return q, _lloyd_q(q, len(CENTROID_IDS) if k is None else k, fixed)


def _lloyd_q(q: DataFrame, k: int, seed_fixed: bool = False) -> dict[int, list[float]]:
    """The Lloyd loop over an already-quantized (vec_id, embedding, qv)
    frame — factored from ``_lloyd`` so the sharded SemDeDup can train
    per coarse-cell SLICE of one checkpointed corpus. ``seed_fixed``
    pins the CENTROID_IDS seed set (the oracle-gated K=16 paths); the
    derived-K path seeds from the ``k`` lowest vec_ids PRESENT at or
    above CENTROID_IDS' start (contiguous-id tables reproduce the
    pinned set exactly; sparse slices still seed deterministically).
    A slice holding fewer than ``k`` such rows trains on what exists —
    K is a cost dial, not a semantic contract."""
    if seed_fixed:
        seed_ids = list(CENTROID_IDS)
    else:
        seed_ids = [
            r["vec_id"]
            for r in q.where(F.col("vec_id") >= CENTROID_IDS[0])
            .select("vec_id")
            .orderBy("vec_id")
            .limit(k)
            .collect()
        ]
    init_rows = (
        q.where(F.col("vec_id").isin(seed_ids)).select("vec_id", "qv").collect()
    )
    cents = {r["vec_id"]: [float(x) for x in r["qv"]] for r in init_rows}
    bad = {c: len(m) for c, m in cents.items() if len(m) != EMB_DIM}
    if len(cents) != len(seed_ids) or bad:
        raise ValueError(
            f"kmeans seed mismatch: expected {len(seed_ids)} centroids "
            f"of dim {EMB_DIM}, got {len(cents)} (bad dims: {bad})"
        )
    for _ in range(KMEANS_ITERS):
        assigned = kmeans_assign_auto(q, cents)
        rows = (
            assigned.groupBy("cluster")
            .agg(
                *[F.sum(F.col("qv")[i]).alias(f"s{i}") for i in range(EMB_DIM)],
                F.count("*").alias("n"),
            )
            .collect()
        )
        new = {
            r["cluster"]: [r[f"s{i}"] / r["n"] for i in range(EMB_DIM)]
            for r in rows
        }
        cents = {c: new.get(c, m) for c, m in cents.items()}
    return cents


def knn_ivf_trained(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int = QUERY_VEC_ID,
    k: int = TOP_K,
    cents: dict[int, list[float]] | None = None,
) -> DataFrame:
    """IVF ANN top-k over TRAINED k-means centroids: (vec_id, sim).

    The composition ``knn_ivf`` is a stand-in for: Lloyd-trained coarse
    quantizer for blocking (probe = the ``NPROBE`` centroids nearest the
    query IN THE ASSIGNMENT METRIC — quantized squared L2, so the probe
    ranking and the cell contents come from the same geometry), exact
    cosine on raw embeddings for scoring. The probe is a driver-side
    O(K·dim) computation over the trained-centroid constants (sequential
    fold, bit-matching the oracle's ORDER BY); the search itself is one
    map-only scan — literal-centroid assignment, literal probe filter,
    broadcast query vector, TakeOrderedAndProject.

    ``cents`` (optional): pre-trained Lloyd centroids (see
    ``plans.materialize``) — skips the in-plan training scans.
    """
    if cents is None:
        q, cents = _lloyd(spark, sf_dir)
    else:
        q = _quantize(load_table(spark, sf_dir, "embeddings"))
    qrow = q.where(F.col("vec_id") == query_vec_id).first()
    if qrow is None:
        raise ValueError(
            f"knn_ivf_trained: query_vec_id {query_vec_id} not present in "
            "the embeddings table (empty table or unknown id)"
        )
    qv = [float(x) for x in qrow["qv"]]

    def d2(m: list[float]) -> float:
        acc = 0.0
        for i in range(len(qv)):
            d = qv[i] - m[i]
            acc += d * d
        return acc

    probe = sorted(sorted(cents), key=lambda c: (d2(cents[c]), c))[:NPROBE]
    emb = load_table(spark, sf_dir, "embeddings")
    query = emb.where(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("qv_q")
    )
    return (
        kmeans_assign_auto(q, cents)
        .where(
            F.col("cluster").isin(probe) & (F.col("vec_id") != query_vec_id)
        )
        .crossJoin(F.broadcast(query))
        .select("vec_id", F.round(_cosine("embedding", "qv_q"), 6).alias("sim"))
        .orderBy(F.desc("sim"), "vec_id")
        .limit(k)
    )


def cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cluster): at most ``SAMPLE_PER_CLUSTER`` vectors per k-means
    cluster, picked by deterministic hash order — cluster-balanced corpus
    sampling (caps over-represented modes instead of sampling them
    proportionally; the embedding-space analogue of ``source_mix``).

    One window shuffle over the assignment; the rank cut is a literal, so
    WindowGroupLimit prunes hot clusters map-side like
    ``temperature_mix``'s.
    """
    assigned = kmeans_clusters(spark, sf_dir)
    w = Window.partitionBy("cluster").orderBy(
        F.md5(F.col("vec_id").cast("string")), "vec_id"
    )
    return (
        assigned.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= SAMPLE_PER_CLUSTER)
        .select("vec_id", "cluster")
    )


# ---------------------------------------------------------------------------
# DuckDB oracle SQL
# ---------------------------------------------------------------------------

_DOT = (
    "list_sum(list_transform(range(1, len({a})+1), "
    "i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE))"
)
_NORM = "sqrt(list_sum(list_transform({a}, x -> x::DOUBLE * x::DOUBLE)))"
_COS = (
    f"({_DOT.format(a='{a}', b='{b}')} / "
    f"({_NORM.format(a='{a}')} * {_NORM.format(a='{b}')}))"
)

_COS_EQ = _COS.format(a="e.embedding", b="q.qv")

ORACLE_SQL: dict[str, str] = {
    "knn_brute_force": f"""
        WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID})
        SELECT e.vec_id, round({_COS_EQ}, 6) AS sim
        FROM embeddings e, q
        WHERE e.vec_id <> {QUERY_VEC_ID}
        ORDER BY sim DESC, e.vec_id
        LIMIT {TOP_K}
    """,
    "knn_lsh": f"""
        WITH planes AS (
          SELECT vec_id AS plane_id, embedding AS pv FROM embeddings
          WHERE vec_id BETWEEN 1 AND {N_HYPERPLANES}
        ),
        bits AS (
          SELECT e.vec_id, p.plane_id,
                 CASE WHEN {_DOT.format(a='e.embedding', b='p.pv')} > 0
                      THEN 1 ELSE 0 END AS bit
          FROM embeddings e, planes p
        ),
        sigs AS (
          SELECT vec_id, string_agg(bit::VARCHAR, '' ORDER BY plane_id) AS bucket
          FROM bits GROUP BY vec_id
        ),
        qb AS (SELECT bucket FROM sigs WHERE vec_id = {QUERY_VEC_ID}),
        q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
        cands AS (
          SELECT s.vec_id FROM sigs s, qb
          WHERE s.bucket = qb.bucket AND s.vec_id <> {QUERY_VEC_ID}
        )
        SELECT e.vec_id, round({_COS_EQ}, 6) AS sim
        FROM cands c JOIN embeddings e ON c.vec_id = e.vec_id, q
        ORDER BY sim DESC, e.vec_id
        LIMIT {TOP_K}
    """,
}

_CENT_LIST = ", ".join(str(c) for c in CENTROID_IDS)
_COS_EC = _COS.format(a="e.embedding", b="c.cv")
_COS_CQ = _COS.format(a="c.cv", b="q.qv")

ORACLE_SQL["ivf_assignments"] = f"""
    WITH cents AS (
      SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings
      WHERE vec_id IN ({_CENT_LIST})
    )
    SELECT e.vec_id, c.centroid_id
    FROM embeddings e, cents c
    QUALIFY row_number() OVER (PARTITION BY e.vec_id
                               ORDER BY {_COS_EC} DESC, c.centroid_id) = 1
"""

ORACLE_SQL["knn_ivf"] = f"""
    WITH cents AS (
      SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings
      WHERE vec_id IN ({_CENT_LIST})
    ),
    assign AS (
      SELECT e.vec_id, c.centroid_id
      FROM embeddings e, cents c
      QUALIFY row_number() OVER (PARTITION BY e.vec_id
                                 ORDER BY {_COS_EC} DESC, c.centroid_id) = 1
    ),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
    probe AS (
      SELECT c.centroid_id FROM cents c, q
      ORDER BY {_COS_CQ} DESC, c.centroid_id LIMIT {NPROBE}
    ),
    cands AS (
      SELECT a.vec_id FROM assign a JOIN probe p ON a.centroid_id = p.centroid_id
      WHERE a.vec_id <> {QUERY_VEC_ID}
    )
    SELECT e.vec_id, round({_COS_EQ}, 6) AS sim
    FROM cands cd JOIN embeddings e ON cd.vec_id = e.vec_id, q
    ORDER BY sim DESC, e.vec_id
    LIMIT {TOP_K}
"""

def _kmeans_ctes(iters: int) -> str:
    """Unrolled Lloyd-iteration CTE chain ending at ``afinal`` (vec_id,
    cluster) — the PageRank-oracle pattern: each Spark iteration is one
    assignment CTE (row_number argmin over exact quantized distances) plus
    one mean-update CTE (HUGEINT-exact sums cast to DOUBLE, same division
    as the engine's driver-side ``s / n``)."""
    dist = (
        "list_sum(list_transform(range(1, len(v.qv) + 1), "
        "i -> (v.qv[i]::DOUBLE - c.m[i]) * (v.qv[i]::DOUBLE - c.m[i])))"
    )
    sql = f"""q AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> floor(x::DOUBLE * {KMEANS_QUANT})::BIGINT) AS qv
      FROM embeddings
    ),
    c0 AS (
      SELECT vec_id AS cluster, list_transform(qv, x -> x::DOUBLE) AS m
      FROM q WHERE vec_id IN ({_CENT_LIST})
    )"""
    for t in range(1, iters + 1):
        sql += f""",
    a{t} AS (
      SELECT v.vec_id, c.cluster
      FROM q v, c{t - 1} c
      QUALIFY row_number() OVER (PARTITION BY v.vec_id
                                 ORDER BY {dist}, c.cluster) = 1
    ),
    s{t} AS (
      SELECT a.cluster, ii.i, sum(v.qv[ii.i])::DOUBLE / count(*) AS mv
      FROM a{t} a
      JOIN q v USING (vec_id)
      CROSS JOIN (SELECT unnest(range(1, {EMB_DIM} + 1)) AS i) ii
      GROUP BY a.cluster, ii.i
    ),
    c{t} AS (
      SELECT c.cluster, coalesce(n.m, c.m) AS m
      FROM c{t - 1} c LEFT JOIN (
        SELECT cluster, list(mv ORDER BY i) AS m FROM s{t} GROUP BY cluster
      ) n USING (cluster)
    )"""
    sql += f""",
    afinal AS (
      SELECT v.vec_id, c.cluster
      FROM q v, c{iters} c
      QUALIFY row_number() OVER (PARTITION BY v.vec_id
                                 ORDER BY {dist}, c.cluster) = 1
    )"""
    return sql


ORACLE_SQL["kmeans_clusters"] = f"""
    WITH {_kmeans_ctes(KMEANS_ITERS)}
    SELECT vec_id, cluster FROM afinal
"""

ORACLE_SQL["cluster_balanced_sample"] = f"""
    WITH {_kmeans_ctes(KMEANS_ITERS)}
    SELECT vec_id, cluster FROM afinal
    QUALIFY row_number() OVER (PARTITION BY cluster
                               ORDER BY md5(vec_id::VARCHAR), vec_id)
            <= {SAMPLE_PER_CLUSTER}
"""

ORACLE_SQL["knn_ivf_trained"] = f"""
    WITH {_kmeans_ctes(KMEANS_ITERS)},
    qq AS (SELECT qv FROM q WHERE vec_id = {QUERY_VEC_ID}),
    probe AS (
      SELECT c.cluster
      FROM c{KMEANS_ITERS} c, qq
      ORDER BY list_sum(list_transform(range(1, len(qq.qv) + 1),
               i -> (qq.qv[i]::DOUBLE - c.m[i]) * (qq.qv[i]::DOUBLE - c.m[i]))),
               c.cluster
      LIMIT {NPROBE}
    ),
    cands AS (
      SELECT a.vec_id FROM afinal a JOIN probe USING (cluster)
      WHERE a.vec_id <> {QUERY_VEC_ID}
    ),
    qe AS (SELECT embedding AS qv_q FROM embeddings
           WHERE vec_id = {QUERY_VEC_ID})
    SELECT e.vec_id, round({_COS.format(a="e.embedding", b="qe.qv_q")}, 6) AS sim
    FROM cands cd JOIN embeddings e ON cd.vec_id = e.vec_id, qe
    ORDER BY sim DESC, e.vec_id
    LIMIT {TOP_K}
"""

INT8_LEVELS = 127.0


def knn_int8(
    spark: SparkSession, sf_dir: str, query_vec_id: int = QUERY_VEC_ID, k: int = TOP_K
) -> DataFrame:
    """(vec_id, sim): top-k by cosine over INT8 scalar-quantized vectors.

    The memory/bandwidth side of ANN that LSH/IVF don't address: at 100 TB
    the embedding column dominates scan cost, and symmetric scalar
    quantization (q_i = floor(x_i · 127/max|x| + 0.5)) shrinks it 4× while
    cosine — scale-invariant — is nearly unchanged. Bonus for a
    cross-engine gate: the quantized dot product and norms are EXACT
    integer arithmetic (|q|≤127, so no overflow until dim ~10^14), so the
    only floats anywhere are the per-vector scale (one max fold — order-
    independent — and one division) and the final score division; every
    step is the same IEEE expression in both engines.

    Plan shape mirrors ``knn_brute_force``: one scan, quantization in-row
    (Catalyst higher-order functions, no UDF), 1-row broadcast query,
    TakeOrderedAndProject top-k. Zero shuffles.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    ma = F.expr("aggregate(embedding, 0D, (acc, y) -> greatest(acc, abs(double(y))))")
    q8 = (
        emb.select("vec_id", "embedding", ma.alias("ma"))
        .where(F.col("ma") > 0)
        .select(
            "vec_id",
            "embedding",
            (F.lit(INT8_LEVELS) / F.col("ma")).alias("s"),
        )
        .select(
            "vec_id",
            F.expr(
                "transform(embedding, x -> "
                "cast(floor(double(x) * s + 0.5D) as bigint))"
            ).alias("q8"),
        )
        .withColumn(
            "nrm",
            F.expr("aggregate(transform(q8, x -> x * x), 0L, (acc, v) -> acc + v)"),
        )
    )
    query = q8.where(F.col("vec_id") == query_vec_id).select(
        F.col("q8").alias("qq"), F.col("nrm").alias("qn")
    )
    dot = F.expr("aggregate(zip_with(q8, qq, (x, y) -> x * y), 0L, (acc, v) -> acc + v)")
    return (
        q8.where(F.col("vec_id") != query_vec_id)
        .crossJoin(F.broadcast(query))
        .select(
            "vec_id",
            F.round(
                dot.cast("double")
                / (F.sqrt(F.col("nrm").cast("double")) * F.sqrt(F.col("qn").cast("double"))),
                6,
            ).alias("sim"),
        )
        .orderBy(F.desc("sim"), "vec_id")
        .limit(k)
    )


PQ_SUBSPACES = 8  # 64-dim embedding -> 8 subvectors of 8 dims
PQ_SUBDIM = EMB_DIM // PQ_SUBSPACES
PQ_CODEBOOK_IDS = tuple(range(30, 46))  # 16 designated donor vectors


def _lookup_qv(spark: SparkSession, sf_dir: str, ids) -> dict[int, list[int]]:
    """vec_id -> quantized vector for those of ``ids`` the embeddings table
    holds: ONE lookup job, however many index-vector sets (codebook donors,
    quantizer centroids, a query vector) ``ids`` joins. The ``IN`` list is
    SQL text, one py4j call instead of a few per id. ``_codebook_of``,
    ``_centroids_of`` and ``_query_of`` pick each set out and raise on its
    missing ids."""
    in_list = ", ".join(str(int(i)) for i in sorted(set(ids)))
    rows = (
        _quantize(load_table(spark, sf_dir, "embeddings"))
        .where(f"vec_id IN ({in_list})")
        .select("vec_id", "qv")
        .collect()
    )
    return {r["vec_id"]: [int(x) for x in r["qv"]] for r in rows}


def _codebook_of(found: dict[int, list[int]]) -> dict[int, list[int]]:
    """donor vec_id -> 64 quantized ints. PQ codebooks are per-subspace
    centroid sets; here centroid j of EVERY subspace is donor j's own
    subvector (the ``CENTROID_IDS``/``EMB_LSH_PLANES`` convention: fixed
    corpus vectors stand in for a seeded k-means so the oracle reproduces
    the index constants exactly — Lloyd refinement would slot in per
    subspace exactly as ``knn_ivf_trained`` does for IVF)."""
    missing = [j for j in PQ_CODEBOOK_IDS if j not in found]
    if missing:
        raise ValueError(
            f"PQ codebook donor vectors not found in embeddings table: "
            f"{missing} — refusing to build a degenerate index"
        )
    return {j: found[j] for j in PQ_CODEBOOK_IDS}


def _pq_codebook(spark: SparkSession, sf_dir: str) -> dict[int, list[int]]:
    return _codebook_of(_lookup_qv(spark, sf_dir, PQ_CODEBOOK_IDS))


def _pq_subdist(s: int, sub: list[int]) -> Column:
    """Exact integer squared-L2 fold from subspace ``s`` of the quantized
    row vector to one codebook subvector literal — same in-order JVM fold
    discipline as ``_dist2``, but over BIGINTs, so cross-engine equality is
    trivial (no float summation order to worry about)."""
    return F.expr(
        f"aggregate(zip_with(slice(qv, {s * PQ_SUBDIM + 1}, {PQ_SUBDIM}), "
        f"{_int_array_sql(sub, bigint=True)}, (x, y) -> (x - y) * (x - y)), "
        "0L, (acc, v) -> acc + v)"
    )


def _with_pq_idx(
    q: DataFrame, donors: dict[int, list[int]], arrow: bool | None = None
) -> DataFrame:
    """q + per-subspace 1-based argmin codebook index columns _pq_idx_s.
    Map-only: 8 x 16 integer argmins in-row; ties to the smallest donor
    id (first-minimum over ascending donor layout). ``arrow`` (default
    ``PQ_INGEST_ARROW``) dispatches the exact-int64 numpy batch encode
    (``_pq_subdist_tensor`` — bit-identical, equality-gated) over the
    interpreted expression folds; all other columns of ``q`` pass
    through either way."""
    if arrow is None:
        arrow = PQ_INGEST_ARROW
    dids = sorted(donors)
    if arrow:
        D = np.array([donors[j] for j in dids], dtype=np.int64)

        @F.pandas_udf("array<int>")
        def enc(qv: pd.Series) -> pd.Series:
            if len(qv) == 0:
                return pd.Series([], dtype="object")
            Q = np.array(qv.tolist(), dtype=np.int64)
            sub = _pq_subdist_tensor(Q, D)
            return pd.Series(list((np.argmin(sub, axis=2) + 1).astype(np.int32)))

        return q.select("*", enc("qv").alias("_pq_idx_arr")).selectExpr(
            "*",
            *[
                f"element_at(_pq_idx_arr, {s + 1}) AS _pq_idx_{s}"
                for s in range(PQ_SUBSPACES)
            ],
        ).drop("_pq_idx_arr")
    cols = []
    for s in range(PQ_SUBSPACES):
        dists = F.array(
            *[
                _pq_subdist(s, donors[j][s * PQ_SUBDIM : (s + 1) * PQ_SUBDIM])
                for j in dids
            ]
        )
        cols.append(
            F.array_position(dists, F.array_min(dists))
            .cast("int")
            .alias(f"_pq_idx_{s}")
        )
    return q.select("*", *cols)


def pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, subspace, code): the PQ index build — every vector encoded
    as 8 one-byte codes (nearest codebook subvector per subspace, exact
    integer distances over the fixed-point grid). This is THE
    memory-scaling ANN step: 64 floats become 8 codes (32x), and the
    encode is a single map-only scan — at 100 TB the code table is the
    persisted index artifact, 32x cheaper to scan than the embeddings.
    Long (vec_id, subspace, code) form: scalar cells for the driver
    canonicalizer."""
    donors = _pq_codebook(spark, sf_dir)
    dids = sorted(donors)
    q = _quantize(load_table(spark, sf_dir, "embeddings"))
    coded = _with_pq_idx(q, donors)
    did_arr = _int_array_sql(dids, bigint=True)
    structs = ", ".join(
        f"named_struct('subspace', {s}, "
        f"'code', element_at({did_arr}, _pq_idx_{s}))"
        for s in range(PQ_SUBSPACES)
    )
    return coded.select(
        "vec_id", F.explode(F.expr(f"array({structs})")).alias("sc")
    ).select(
        "vec_id",
        F.col("sc.subspace").alias("subspace"),
        F.col("sc.code").alias("code"),
    )


def _pq_lut_from_qv(
    donors: dict[int, list[int]], qv: list[int]
) -> list[list[int]]:
    """The ADC lookup table: lut[s][j] = exact integer squared-L2 from the
    query's subvector s to donor dids[j]'s subvector s — 8 x 16 pure-Python
    integers over an already-fetched quantized query vector."""
    dids = sorted(donors)
    return [
        [
            sum(
                (qv[s * PQ_SUBDIM + d] - donors[j][s * PQ_SUBDIM + d]) ** 2
                for d in range(PQ_SUBDIM)
            )
            for j in dids
        ]
        for s in range(PQ_SUBSPACES)
    ]


def _query_of(found: dict[int, list[int]], query_vec_id: int) -> list[int]:
    if query_vec_id not in found:
        raise ValueError(
            f"query vector {query_vec_id} not found in embeddings table"
        )
    return found[query_vec_id]


def _pq_query_qv(
    spark: SparkSession, sf_dir: str, query_vec_id: int
) -> list[int]:
    """ONE point lookup of the quantized query vector."""
    return _query_of(_lookup_qv(spark, sf_dir, (query_vec_id,)), query_vec_id)


def _adc_from_lut(lut: list[list[int]]) -> Column:
    """ADC of a coded corpus row against the driver-side LUT: the sum of
    8 lookups of its ``_pq_idx_s`` code positions into BIGINT array
    literals, parsed as ONE expression."""
    return F.expr(
        " + ".join(
            ["0L"]
            + [
                f"element_at({_int_array_sql(lut[s], bigint=True)}, _pq_idx_{s})"
                for s in range(PQ_SUBSPACES)
            ]
        )
    )


def knn_pq(
    spark: SparkSession, sf_dir: str, query_vec_id: int = QUERY_VEC_ID, k: int = TOP_K
) -> DataFrame:
    """(vec_id, adc_dist2): PQ top-k by ASYMMETRIC distance (Jegou et al.
    2011) — the query stays exact while the corpus is its 8 codes; the
    distance is a sum of 8 lookup-table entries, never a 64-dim fold.

    The LUT (8 subspaces x 16 donors of exact integer sub-distances) is
    computed DRIVER-side from the collected query vector and ships as 128
    literals — index constants, like every other ANN path here. Scan cost
    per corpus vector is 8 in-row argmins + 8 array lookups; at 100 TB the
    codes come from the persisted ``pq_codes`` artifact and the scan
    touches 8 bytes per vector instead of 256 (that production form is
    ``knn_pq_from_codes`` over the ``plans.materialize`` PQ artifact,
    equality-tested against this in-plan twin). Exact-integer arithmetic
    end to end, so the DuckDB oracle hash-matches.
    """
    found = _lookup_qv(spark, sf_dir, PQ_CODEBOOK_IDS + (query_vec_id,))
    donors = _codebook_of(found)
    lut = _pq_lut_from_qv(donors, _query_of(found, query_vec_id))
    q = _quantize(load_table(spark, sf_dir, "embeddings"))
    coded = _with_pq_idx(q.where(F.col("vec_id") != query_vec_id), donors)
    return (
        coded.select("vec_id", _adc_from_lut(lut).alias("adc_dist2"))
        .orderBy("adc_dist2", "vec_id")
        .limit(k)
    )


def pq_codes_wide(
    spark: SparkSession,
    sf_dir: str,
    donors: dict[int, list[int]] | None = None,
) -> DataFrame:
    """(vec_id, codes ARRAY<INT>[8]): the PERSISTABLE PQ index form — one
    row per vector, its 8 donor-id codes in subspace order. Same encode as
    ``pq_codes`` (one map-only scan, exact integer argmins) but wide, so
    the stored artifact is 8 small ints per vector (dictionary-encoded
    bytes in parquet) instead of 8 rows. ``plans.materialize`` writes this
    table once per corpus snapshot; ``knn_pq_from_codes`` searches it
    without ever rescanning the embeddings."""
    if donors is None:
        donors = _pq_codebook(spark, sf_dir)
    q = _quantize(load_table(spark, sf_dir, "embeddings"))
    coded = _with_pq_idx(q, donors)
    return coded.select("vec_id", pq_codes_col(donors).alias("codes"))


def pq_codes_col(donors: dict[int, list[int]]) -> Column:
    """ARRAY<INT>[8] of donor-id codes from a frame's ``_pq_idx_s``
    columns — the ONE definition of the stored wide-code layout, shared
    by ``pq_codes_wide`` and the ``plans.materialize`` artifact writer
    (and inverted by ``pq_corpus_from_codes``), so the persisted format
    cannot drift from the in-plan encode."""
    did_arr = _int_array_sql(sorted(donors))
    codes = ", ".join(
        f"element_at({did_arr}, _pq_idx_{s})" for s in range(PQ_SUBSPACES)
    )
    return F.expr(f"array({codes})")


def knn_pq_from_codes(
    spark: SparkSession,
    sf_dir: str,
    codes_df: DataFrame,
    donors: dict[int, list[int]],
    query_vec_id: int = QUERY_VEC_ID,
    k: int = TOP_K,
    qv: list[int] | None = None,
) -> DataFrame:
    """(vec_id, adc_dist2): ``knn_pq`` over a PERSISTED code table — the
    production shape where the ANN scan reads 8 bytes/vector from the
    stored index instead of re-encoding the corpus in-plan. The only
    embeddings access is the query vector's point lookup (the codebook
    comes stored alongside the codes), skipped when the caller already
    fetched it as ``qv``; the ADC is the same 8-lookup sum,
    here ``element_at`` into per-subspace donor-id→distance map literals
    (128 entries, index constants). Bit-exact vs the in-plan twin —
    equality-tested in tests/test_materialize.py."""
    dids = sorted(donors)
    if qv is None:
        qv = _pq_query_qv(spark, sf_dir, query_vec_id)
    lut = _pq_lut_from_qv(donors, qv)
    did_keys = _int_array_sql(dids)
    adc = F.expr(
        " + ".join(
            ["0L"]
            + [
                f"element_at(map_from_arrays({did_keys}, "
                f"{_int_array_sql(lut[s], bigint=True)}), "
                f"element_at(codes, {s + 1}))"
                for s in range(PQ_SUBSPACES)
            ]
        )
    )
    return (
        codes_df.where(F.col("vec_id") != query_vec_id)
        .select("vec_id", adc.alias("adc_dist2"))
        .orderBy("adc_dist2", "vec_id")
        .limit(k)
    )


PQ_RADIUS = 1_300_000_000_000  # ADC match radius (ticks²; ~4% of same-cell
# pair distances on the fixture — a "near in embedding space" alert bound)


def _int_dist2(vec: list[int]) -> Column:
    """Exact integer squared-L2 from the full quantized row vector ``qv``
    to one integer-vector literal — the full-width form of
    ``_pq_subdist`` (same in-order JVM fold discipline)."""
    return F.expr(
        f"aggregate(zip_with(qv, {_int_array_sql(vec, bigint=True)}, "
        "(x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)"
    )


def _centroids_of(found: dict[int, list[int]]) -> dict[int, list[int]]:
    """CENTROID_IDS corpus vectors on the fixed-point grid — the coarse
    IVF quantizer the PQ-ANN cell assignment keys on (integer distances,
    so both engines and both twins assign identically)."""
    missing = [c for c in CENTROID_IDS if c not in found]
    if missing:
        raise ValueError(
            f"coarse-quantizer centroid vectors missing: {missing}"
        )
    return {c: found[c] for c in CENTROID_IDS}


def _quantized_centroids(
    spark: SparkSession, sf_dir: str
) -> dict[int, list[int]]:
    return _centroids_of(_lookup_qv(spark, sf_dir, CENTROID_IDS))


# Occupancy target for the ingest-ANN coarse quantizer: nlist derives
# from the corpus size so expected per-cell population stays ≤ this —
# candidate pairs per arriving vector are then occupancy-bounded and
# the cell equi-join stays LINEAR in the corpus (the r13 ×32 probe
# measured the fixed-16-cell alternative at 45× on 32× data; the same
# derivation shape as semantic_k_for / bloom_m_for).  The floor keeps
# the pinned CENTROID_IDS quantizer — and therefore the static oracle
# SQL — exact at every driver SF (derivation only kicks in past
# 16×512 = 8,192 vectors, boundary-tested).
PQ_TARGET_CELL = 512
# Driver-state cap: the quantizer ships as nlist×dim int64 in the UDF
# closure / literal plan. Past it, raise rather than degrade — provide
# a trained/stored quantizer via ``cents_q`` (plans.materialize) or
# shard the ingest, the SEM_K_CAP policy.
PQ_NLIST_CAP = 1 << 14


def pq_nlist_for(n_vectors: int) -> int:
    """Coarse-cell count for the ingest-ANN shapes over ``n_vectors``:
    smallest power of two keeping expected occupancy ≤ PQ_TARGET_CELL,
    floored at the 16 pinned cells (gate scales keep the oracle
    quantizer), capped at PQ_NLIST_CAP with a refuse-to-fake raise."""
    base = len(CENTROID_IDS)
    need = -(-max(n_vectors, 1) // PQ_TARGET_CELL)
    nlist = base
    while nlist < need:
        nlist <<= 1
    if nlist > PQ_NLIST_CAP:
        raise ValueError(
            f"{n_vectors} vectors need nlist={nlist} > PQ_NLIST_CAP="
            f"{PQ_NLIST_CAP} coarse cells for the ingest-ANN cost model; "
            "pass a trained/stored quantizer via cents_q "
            "(plans.materialize) or shard the ingest instead of letting "
            "per-cell occupancy grow unbounded"
        )
    return nlist


def derived_quantizer_cells(
    spark: SparkSession, sf_dir: str
) -> dict[int, list[int]]:
    """The ingest-ANN default quantizer: ``pq_nlist_for``-many corpus
    vectors on the fixed-point grid — the CENTROID_IDS convention
    generalized (the nlist LOWEST vec_ids present at or above
    CENTROID_IDS' start; contiguous-id tables at gate scale reproduce
    the pinned 16-cell set EXACTLY, so the static oracles hold
    verbatim — identity-tested)."""
    nlist = pq_nlist_for(table_row_count(sf_dir, "embeddings"))
    if nlist == len(CENTROID_IDS):
        return _quantized_centroids(spark, sf_dir)
    rows = (
        _quantize(load_table(spark, sf_dir, "embeddings"))
        .where(F.col("vec_id") >= CENTROID_IDS[0])
        .select("vec_id", "qv")
        .orderBy("vec_id")
        .limit(nlist)
        .collect()
    )
    return {r["vec_id"]: [int(x) for x in r["qv"]] for r in rows}


def _pq_ingest_constants(
    spark: SparkSession,
    sf_dir: str,
    donors: dict[int, list[int]] | None,
    cents_q: dict[int, list[int]] | None,
) -> tuple[dict[int, list[int]], dict[int, list[int]]]:
    """(donors, cents_q) of the ingest-ANN shapes: each one passed in, or
    else the codebook and the SIZE-DERIVED quantizer (``pq_nlist_for``:
    the pinned 16-cell oracle quantizer at every driver SF,
    occupancy-bounded cells beyond). When both are missing at the 16-cell
    floor they come from ONE ``_lookup_qv`` job; past the floor
    ``derived_quantizer_cells`` keeps its own collect."""
    if (
        donors is None
        and cents_q is None
        and pq_nlist_for(table_row_count(sf_dir, "embeddings"))
        == len(CENTROID_IDS)
    ):
        found = _lookup_qv(spark, sf_dir, PQ_CODEBOOK_IDS + CENTROID_IDS)
        return _codebook_of(found), _centroids_of(found)
    if donors is None:
        donors = _pq_codebook(spark, sf_dir)
    if cents_q is None:
        cents_q = derived_quantizer_cells(spark, sf_dir)
    return donors, cents_q


def pq_cell_col(cents_q: dict[int, list[int]]) -> Column:
    """Coarse cell id: argmin integer squared-L2 from ``qv`` to the
    centroid literals, ties to the smallest centroid id — map-only, works
    identically on batch frames and streaming micro-batches."""
    cids = sorted(cents_q)
    dists = F.array(*[_int_dist2(cents_q[c]) for c in cids])
    idx = F.array_position(dists, F.array_min(dists)).cast("int")
    return F.element_at(F.expr(_int_array_sql(cids, bigint=True)), idx)


def pq_lut_cols(donors: dict[int, list[int]]) -> list[Column]:
    """Per-subspace in-row ADC lookup arrays ``_lut_s`` for a QUERY-side
    row: entry j = exact integer distance from the row's subvector s to
    donor dids[j]'s subvector — the per-arriving-vector form of the
    driver-side ``_pq_lut_from_qv`` (a stream can't collect per-row LUTs
    to the driver, so the 8×16 folds run in-row instead)."""
    dids = sorted(donors)
    return [
        F.array(
            *[
                _pq_subdist(s, donors[j][s * PQ_SUBDIM : (s + 1) * PQ_SUBDIM])
                for j in dids
            ]
        ).alias(f"_lut_{s}")
        for s in range(PQ_SUBSPACES)
    ]


def _adc_from_lut_cols() -> Column:
    """ADC sum joining a query row's ``_lut_s`` arrays with a corpus row's
    ``_pq_idx_s`` code positions — 8 array lookups per candidate pair."""
    adc = F.lit(0).cast("long")
    for s in range(PQ_SUBSPACES):
        adc = adc + F.element_at(f"_lut_{s}", F.col(f"_pq_idx_{s}"))
    return adc


def pq_corpus_coded(
    spark: SparkSession,
    sf_dir: str,
    donors: dict[int, list[int]] | None = None,
    cents_q: dict[int, list[int]] | None = None,
    arrow: bool | None = None,
) -> DataFrame:
    """(match_id, cell, _pq_idx_0.._pq_idx_7): the corpus side of the
    incremental/streaming PQ-ANN — coarse cell plus PQ code positions,
    one map-only scan over the EXISTING corpus (the non-delta slice).
    At scale this is a persisted artifact next to the ``materialize`` PQ
    codes; per-ingest cost then never rescans the corpus.

    ``arrow`` (default ``PQ_INGEST_ARROW``): int64 pandas-UDF encode
    (bit-identical — see ``_pq_ingest_sides``) vs the expression folds."""
    from big_data_toolkit_spark.operators.dedup import NEW_BATCH_MOD

    if arrow is None:
        arrow = PQ_INGEST_ARROW
    donors, cents_q = _pq_ingest_constants(spark, sf_dir, donors, cents_q)
    q = _quantize(load_table(spark, sf_dir, "embeddings")).where(
        F.col("vec_id") % NEW_BATCH_MOD != NEW_BATCH_MOD - 1
    )
    if arrow:
        return pq_corpus_encode_arrow(q, donors, cents_q)
    return _with_pq_idx(q, donors).select(
        F.col("vec_id").alias("match_id"),
        pq_cell_col(cents_q).alias("cell"),
        *[F.col(f"_pq_idx_{s}") for s in range(PQ_SUBSPACES)],
    )


def pq_corpus_from_codes(
    codes_df: DataFrame, donors: dict[int, list[int]]
) -> DataFrame:
    """(match_id, cell, _pq_idx_0.._pq_idx_7) from a STORED wide code
    table (vec_id, codes ARRAY<INT> of donor ids, cell) — the adapter
    that lets the ingest-ANN shapes read the ``plans.materialize`` PQ
    artifact instead of re-encoding the corpus in-plan. Donor id →
    1-based LUT position via ``array_position`` into the sorted donor-id
    literal array (an index constant), so the result is bit-identical to
    ``pq_corpus_coded``'s encode output: the stored codes ARE the encode
    (parquet ints round-trip exactly) and the position mapping is the
    inverse of the build's ``element_at``. Excludes the delta slice —
    the stored snapshot covers the full corpus, the ingest join must see
    only the existing side."""
    from big_data_toolkit_spark.operators.dedup import NEW_BATCH_MOD

    did_arr = _int_array_sql(sorted(donors))
    return codes_df.where(
        F.col("vec_id") % NEW_BATCH_MOD != NEW_BATCH_MOD - 1
    ).selectExpr(
        "vec_id AS match_id",
        "cell",
        *[
            f"CAST(array_position({did_arr}, element_at(codes, {s + 1})) "
            f"AS INT) AS _pq_idx_{s}"
            for s in range(PQ_SUBSPACES)
        ],
    )


# The ingest-ANN encode dispatch (r12 verdict item 2): the expression
# path evaluates 256+16 interpreted ``aggregate()`` folds per row (8×16
# LUT entries / 8×16 code argmins, plus 16 cell distances) — honest but
# interpreter-bound.  Every quantity is EXACT INT64 (fixed-point ticks
# ≤ 1e6, squared sums ≤ ~3e14 ≪ 2^63), so a numpy int64 batch encode is
# bit-identical — unlike the float k-means GEMM, there is no summation-
# order caveat — and becomes the default; the expression path remains
# for streaming micro-batches and the equality gate
# (``test_pq_ingest_arrow_matches_expression_path``).
PQ_INGEST_ARROW = True


def _pq_cell_ids(Q: "np.ndarray", C: "np.ndarray", cids: "np.ndarray"):
    """Per-row coarse cell over exact int64 distances; ties to the
    smallest centroid id (np.argmin first-minimum over ascending cids —
    the ``pq_cell_col`` rule)."""
    diff = Q[:, None, :] - C[None, :, :]
    return cids[np.argmin(np.einsum("nkd,nkd->nk", diff, diff), axis=1)]


def _pq_subdist_tensor(Q: "np.ndarray", D: "np.ndarray") -> "np.ndarray":
    """n×SUBSPACES×donors exact int64 subspace-distance tensor — the
    vectorized form of the 8×16 ``_pq_subdist`` folds; row i's [s, j]
    entry is the LUT value, and argmin over j is the code position."""
    n, j = Q.shape[0], D.shape[0]
    diff = Q.reshape(n, 1, PQ_SUBSPACES, PQ_SUBDIM) - D.reshape(
        1, j, PQ_SUBSPACES, PQ_SUBDIM
    )
    return np.einsum("njsd,njsd->nsj", diff, diff)


def _pq_arrow_mats(donors, cents_q):
    dids = sorted(donors)
    D = np.array([donors[j] for j in dids], dtype=np.int64)
    cids = np.array(sorted(cents_q), dtype=np.int64)
    C = np.array([cents_q[c] for c in sorted(cents_q)], dtype=np.int64)
    return D, C, cids


def pq_corpus_encode_arrow(
    q: DataFrame,
    donors: dict[int, list[int]],
    cents_q: dict[int, list[int]],
) -> DataFrame:
    """(match_id, cell, _pq_idx_0..7) — the Arrow int64 twin of the
    ``_with_pq_idx`` + ``pq_cell_col`` corpus encode: one pandas UDF per
    batch computes the cell argmin and all 8 code argmins from the same
    distance tensor, exact int64 end to end."""
    D, C, cids = _pq_arrow_mats(donors, cents_q)

    @F.pandas_udf("cell long, idx array<int>")
    def encode(qv: pd.Series) -> pd.DataFrame:
        if len(qv) == 0:
            return pd.DataFrame(
                {"cell": pd.Series([], dtype="int64"), "idx": []}
            )
        Q = np.array(qv.tolist(), dtype=np.int64)
        sub = _pq_subdist_tensor(Q, D)
        idx = (np.argmin(sub, axis=2) + 1).astype(np.int32)  # 1-based
        return pd.DataFrame(
            {"cell": _pq_cell_ids(Q, C, cids), "idx": list(idx)}
        )

    return q.select("vec_id", encode("qv").alias("r")).selectExpr(
        "vec_id AS match_id",
        "r.cell AS cell",
        *[
            f"element_at(r.idx, {s + 1}) AS _pq_idx_{s}"
            for s in range(PQ_SUBSPACES)
        ],
    )


def pq_new_encode_arrow(
    q: DataFrame,
    donors: dict[int, list[int]],
    cents_q: dict[int, list[int]],
) -> DataFrame:
    """(vec_id, cell, _lut_0.._lut_7) — the Arrow int64 twin of the
    delta-side ``pq_cell_col`` + ``pq_lut_cols`` encode; the LUT rows ARE
    the subspace-distance tensor (no argmin), shipped back as 8 arrays of
    16 exact int64 entries per row."""
    D, C, cids = _pq_arrow_mats(donors, cents_q)

    @F.pandas_udf("cell long, luts array<array<long>>")
    def encode(qv: pd.Series) -> pd.DataFrame:
        if len(qv) == 0:
            return pd.DataFrame(
                {"cell": pd.Series([], dtype="int64"), "luts": []}
            )
        Q = np.array(qv.tolist(), dtype=np.int64)
        sub = _pq_subdist_tensor(Q, D)
        return pd.DataFrame(
            {
                "cell": _pq_cell_ids(Q, C, cids),
                "luts": [s.tolist() for s in sub],
            }
        )

    return q.select("vec_id", encode("qv").alias("r")).selectExpr(
        "vec_id",
        "r.cell AS cell",
        *[
            f"element_at(r.luts, {s + 1}) AS _lut_{s}"
            for s in range(PQ_SUBSPACES)
        ],
    )


def with_pq_cell(
    q: DataFrame, cents_q: dict[int, list[int]], arrow: bool | None = None
) -> DataFrame:
    """q + (cell): coarse-cell assignment dispatch — the exact-int64
    numpy argmin (default, bit-identical to the expression: integer
    distances, same first-minimum tie rule) or the ``pq_cell_col``
    literal folds (streaming micro-batches, equality gate)."""
    if arrow is None:
        arrow = PQ_INGEST_ARROW
    if not arrow:
        return q.withColumn("cell", pq_cell_col(cents_q))
    cids = np.array(sorted(cents_q), dtype=np.int64)
    C = np.array([cents_q[c] for c in sorted(cents_q)], dtype=np.int64)

    @F.pandas_udf("long")
    def cell_of(qv: pd.Series) -> pd.Series:
        if len(qv) == 0:
            return pd.Series([], dtype="int64")
        Q = np.array(qv.tolist(), dtype=np.int64)
        return pd.Series(_pq_cell_ids(Q, C, cids))

    return q.withColumn("cell", cell_of("qv"))


def pq_codes_cell_frame(
    q: DataFrame,
    donors: dict[int, list[int]],
    cents_q: dict[int, list[int]],
    arrow: bool | None = None,
) -> DataFrame:
    """(vec_id, codes ARRAY<INT>[8], cell): the stored-artifact row form —
    ONE definition of the encode the ``plans.materialize`` PQ writers
    (build + delta compaction) persist, so the store cannot drift from
    the in-plan encode. ``arrow`` (default ``PQ_INGEST_ARROW``)
    dispatches between the bit-identical int64 pandas encode and the
    expression folds; the codes column is the shared ``pq_codes_col``
    donor-id layout either way."""
    if arrow is None:
        arrow = PQ_INGEST_ARROW
    if arrow:
        enc = pq_corpus_encode_arrow(q, donors, cents_q)
        return enc.select(
            F.col("match_id").alias("vec_id"),
            pq_codes_col(donors).alias("codes"),
            "cell",
        )
    return _with_pq_idx(q, donors).select(
        "vec_id",
        pq_codes_col(donors).alias("codes"),
        pq_cell_col(cents_q).alias("cell"),
    )


def _pq_ingest_sides(
    spark: SparkSession,
    sf_dir: str,
    corpus: DataFrame | None = None,
    donors: dict[int, list[int]] | None = None,
    cents_q: dict[int, list[int]] | None = None,
    arrow: bool | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(new, corpus): the two sides every ingest-ANN shape joins — the
    delta slice with in-row cell + ADC LUT arrays, and the coded corpus.
    One definition so the radius and kNN-join forms cannot diverge.

    ``corpus``/``donors``/``cents_q`` (optional): the stored PQ index
    (code table adapted via ``pq_corpus_from_codes``, codebook, coarse
    quantizer — see ``plans.materialize``). With all three supplied the
    only embeddings access left is the delta slice's own scan: the
    corpus side reads 8 bytes/vector from the store and the index
    constants come off the stored 16-row tables.

    ``arrow`` (default ``PQ_INGEST_ARROW``): int64 pandas-UDF encode vs
    the interpreted expression folds — bit-identical by construction
    (exact integers, same first-minimum tie rules), equality-gated in
    pytest; the ADC join itself always stays JVM-side (8 ``element_at``
    lookups per candidate — cheap, and candidate pairs never cross into
    Python)."""
    from big_data_toolkit_spark.operators.dedup import NEW_BATCH_MOD

    if arrow is None:
        arrow = PQ_INGEST_ARROW
    # The size-derived quantizer: the fixed-nlist n²/16 candidate blowup
    # the ×32 probe measured corrects itself with zero configuration.
    donors, cents_q = _pq_ingest_constants(spark, sf_dir, donors, cents_q)
    if corpus is None:
        corpus = pq_corpus_coded(spark, sf_dir, donors, cents_q, arrow=arrow)
    delta = _quantize(load_table(spark, sf_dir, "embeddings")).where(
        F.col("vec_id") % NEW_BATCH_MOD == NEW_BATCH_MOD - 1
    )
    if arrow:
        new = pq_new_encode_arrow(delta, donors, cents_q)
    else:
        new = delta.select(
            "vec_id",
            pq_cell_col(cents_q).alias("cell"),
            *pq_lut_cols(donors),
        )
    return new, corpus


def ann_pq_incremental(
    spark: SparkSession,
    sf_dir: str,
    corpus: DataFrame | None = None,
    donors: dict[int, list[int]] | None = None,
    cents_q: dict[int, list[int]] | None = None,
) -> DataFrame:
    """(vec_id, match_id, adc_dist2): IVF-PQ radius matching of the
    incoming embedding batch (vec_id % NEW_BATCH_MOD == NEW_BATCH_MOD-1,
    the shared delta convention) against the existing corpus — the ANN
    family's incremental-ingest form and the batch twin of
    ``streaming.windows.stream_ann_pq`` (replay-tested equal).

    Jegou IVF-ADC, ingest-shaped: each new vector assigns to its coarse
    cell in-row (integer argmin over the 16 centroid literals) and
    carries its 8 in-row LUT arrays (8×16 integer folds); the corpus
    side is cell + 8 code positions (8 bytes/vector — the persisted
    index form). Candidates meet on a CELL EQUI-JOIN (never a cross
    join: corpus cost per ingest batch is |batch| × cell occupancy), the
    ADC is 8 array lookups per candidate, and matches pass the
    ``PQ_RADIUS`` bound. Exact integer arithmetic end to end — the
    DuckDB oracle hash-matches. (Reference seed: the a3 index is also
    build-once/probe-many — ``BuildInvertedIndexCompressed.java:187``;
    here the postings are PQ cells instead of terms.)

    Scale rule (r10 probe note, CLOSED r13): candidate count is
    n²/nlist, so nlist must grow with the corpus — and now DOES by
    default: ``pq_nlist_for`` derives occupancy-bounded cells from the
    parquet footer row count (the pinned 16-cell oracle quantizer at
    every driver SF; ×32 probe 45× → 11.4× on the kNN-join twin).
    Production can still pass a k-means-trained quantizer through
    ``cents_q``.

    ``corpus``/``donors``/``cents_q`` (optional): the stored PQ index —
    see ``_pq_ingest_sides`` / ``plans.materialize
    .ann_pq_incremental_materialized``; skips the per-run corpus
    re-encode entirely.
    """
    new, corpus = _pq_ingest_sides(spark, sf_dir, corpus, donors, cents_q)
    return (
        new.join(corpus, "cell")
        .select("vec_id", "match_id", _adc_from_lut_cols().alias("adc_dist2"))
        .where(F.col("adc_dist2") <= PQ_RADIUS)
    )


PQ_RERANK_R = 50  # PQ shortlist size fed to the exact re-rank


def knn_pq_rerank(
    spark: SparkSession, sf_dir: str, query_vec_id: int = QUERY_VEC_ID, k: int = TOP_K
) -> DataFrame:
    """(vec_id, dist2): the full production PQ pipeline — ADC shortlist of
    ``PQ_RERANK_R`` candidates, then EXACT (quantized) squared-L2 re-rank
    to top-k. This is how PQ recovers recall at scale: the cheap 8-byte
    scan proposes R candidates, and only those R vectors are fetched for
    the exact distance (here a broadcast semi-join back into the
    embeddings scan; on a real deployment, a point-lookup into the vector
    store). Exact integer arithmetic end to end — oracle hash-matches.
    """
    shortlist = knn_pq(spark, sf_dir, query_vec_id, PQ_RERANK_R).select(
        "vec_id"
    )
    q = _quantize(load_table(spark, sf_dir, "embeddings"))
    qrows = q.where(F.col("vec_id") == query_vec_id).select(
        F.col("qv").alias("qqv")
    )
    exact = F.expr(
        "aggregate(zip_with(qv, qqv, (x, y) -> (x - y) * (x - y)), "
        "0L, (acc, v) -> acc + v)"
    )
    return (
        q.join(F.broadcast(shortlist), "vec_id")
        .crossJoin(F.broadcast(qrows))
        .select("vec_id", exact.alias("dist2"))
        .orderBy("dist2", "vec_id")
        .limit(k)
    )


CENTROID_QUANT = 1_000_000.0  # 1e-6 component quantization for exact sums


def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(label, pos, n, c): per-label class centroids of the embedding space,
    one row per (label, dimension).

    The supervised-data profile (class prototypes for nearest-centroid
    classification, drift monitoring, label-noise screening) — and the one
    consumer of the ``embeddings.label`` column. The mean of millions of
    floats is addition-order-dependent, so instead of a float accumulator
    (engine-dependent last-ulp) or a sorted-fold (needs the whole group in
    a list — unusable at 100 TB), each component quantizes to 1e-6 ticks
    and sums EXACT BIGINTs: partial-aggregatable, order-independent,
    identical in both engines; the single closing division chain is the
    only float. ``posexplode`` fans each vector to (label, pos) rows
    map-side; the one shuffle carries |labels|·dim groups.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = F.expr(f"cast(floor(double(x) * {CENTROID_QUANT} + 0.5D) as bigint)")
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("label", F.col("pos").cast("long").alias("pos"))
        .agg(F.count("*").alias("n"), F.sum(q).alias("sq"))
        .select(
            "label",
            "pos",
            "n",
            F.round(
                F.col("sq").cast("double") / F.col("n") / F.lit(CENTROID_QUANT), 6
            ).alias("c"),
        )
    )


def nearest_centroid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(label, predicted, n): confusion matrix of nearest-centroid
    classification over the labeled embeddings — the one-aggregation-pass
    sanity check on label quality (a class whose members scatter to other
    prototypes is noisy or unlearnable).

    Composes the centroid pass (UNROUNDED components, so both engines
    carry the identical sq/n/quant doubles into the distance) with an
    assignment pass: the |labels|×dim centroid table folds to |labels|
    rows of arrays (bounded — 10×64 here), broadcasts, and each vector
    takes an in-order squared-distance fold against each prototype;
    argmin via ``min(struct(dist, label))`` so ties break on the smaller
    label deterministically. Scale: centroid build is the exact-integer
    aggregate; assignment is map-only against a broadcast; the confusion
    aggregate is |labels|² rows.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = F.expr(f"cast(floor(double(x) * {CENTROID_QUANT} + 0.5D) as bigint)")
    cents = (
        emb.select("label", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(F.count("*").alias("n"), F.sum(q).alias("sq"))
        .select(
            "label",
            "pos",
            (
                F.col("sq").cast("double") / F.col("n") / F.lit(CENTROID_QUANT)
            ).alias("c"),
        )
    )
    carr = (
        cents.groupBy(F.col("label").alias("plabel"))
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select("plabel", F.expr("transform(pc, p -> p.c)").alias("cv"))
    )
    dist = F.expr(
        "aggregate(zip_with(embedding, cv, (x, y) -> "
        "(double(x) - y) * (double(x) - y)), 0D, (acc, v) -> acc + v)"
    )
    assigned = (
        emb.crossJoin(F.broadcast(carr))
        .select(
            "vec_id",
            F.col("label").cast("long").alias("label"),
            F.struct(dist.alias("dist"), F.col("plabel").cast("long").alias("pl")).alias(
                "dp"
            ),
        )
        .groupBy("vec_id", "label")
        .agg(F.min("dp").alias("best"))
    )
    return (
        assigned.select("label", F.col("best.pl").alias("predicted"))
        .groupBy("label", "predicted")
        .agg(F.count("*").alias("n"))
    )


ORACLE_SQL["nearest_centroid_confusion"] = f"""
    WITH ex AS (
      SELECT label, unnest(range(1, len(embedding) + 1)) AS i,
             embedding AS e
      FROM embeddings
    ),
    cent AS (
      SELECT label AS plabel, i,
             CAST(sum(CAST(floor(e[i]::DOUBLE * {CENTROID_QUANT} + 0.5)
                           AS BIGINT)) AS DOUBLE)
               / count(*) / {CENTROID_QUANT} AS c
      FROM ex GROUP BY label, i
    ),
    carr AS (
      SELECT plabel, list(c ORDER BY i) AS cv FROM cent GROUP BY plabel
    ),
    d AS (
      SELECT e.vec_id, e.label, c.plabel,
             list_sum(list_transform(range(1, len(e.embedding) + 1),
                      i -> (e.embedding[i]::DOUBLE - c.cv[i]) *
                           (e.embedding[i]::DOUBLE - c.cv[i]))) AS dist
      FROM embeddings e CROSS JOIN carr c
    ),
    best AS (
      SELECT vec_id, label, plabel AS predicted FROM (
        SELECT vec_id, label, plabel,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dist, plabel) AS rn
        FROM d
      ) WHERE rn = 1
    )
    SELECT CAST(label AS BIGINT) AS label,
           CAST(predicted AS BIGINT) AS predicted, count(*) AS n
    FROM best GROUP BY label, predicted
"""


ORACLE_SQL["label_centroids"] = f"""
    WITH ex AS (
      SELECT label, unnest(range(1, len(embedding) + 1)) AS i,
             embedding AS e
      FROM embeddings
    )
    SELECT label, i - 1 AS pos, count(*) AS n,
           round(CAST(sum(CAST(floor(e[i]::DOUBLE * {CENTROID_QUANT} + 0.5)
                               AS BIGINT)) AS DOUBLE)
                 / count(*) / {CENTROID_QUANT}, 6) AS c
    FROM ex GROUP BY label, i
"""


ORACLE_SQL["knn_int8"] = f"""
    WITH scaled AS (
      SELECT vec_id, embedding,
             {INT8_LEVELS} /
             list_max(list_transform(embedding, y -> abs(y::DOUBLE))) AS s
      FROM embeddings
      WHERE list_max(list_transform(embedding, y -> abs(y::DOUBLE))) > 0
    ),
    n8 AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(floor(x::DOUBLE * s + 0.5) AS BIGINT)) AS q8
      FROM scaled
    ),
    w8 AS (
      SELECT vec_id, q8,
             CAST(list_sum(list_transform(q8, x -> x * x)) AS BIGINT) AS nrm
      FROM n8
    ),
    q AS (SELECT q8 AS qq, nrm AS qn FROM w8 WHERE vec_id = {QUERY_VEC_ID})
    SELECT e.vec_id,
           round(CAST(list_sum(list_transform(range(1, len(e.q8) + 1),
                                              i -> e.q8[i] * q.qq[i])) AS DOUBLE)
                 / (sqrt(CAST(e.nrm AS DOUBLE)) * sqrt(CAST(q.qn AS DOUBLE))),
                 6) AS sim
    FROM w8 e, q
    WHERE e.vec_id <> {QUERY_VEC_ID}
    ORDER BY sim DESC, e.vec_id
    LIMIT {TOP_K}
"""

_PQ_CTES = f"""q AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> floor(x::DOUBLE * {KMEANS_QUANT})::BIGINT)
               AS qv
      FROM embeddings
    ),
    pq_dist AS (
      SELECT v.vec_id, t.s, d.vec_id AS did,
             CAST(list_sum(list_transform(range(1, {PQ_SUBDIM + 1}),
                  i -> (v.qv[t.s * {PQ_SUBDIM} + i]
                        - d.qv[t.s * {PQ_SUBDIM} + i])
                     * (v.qv[t.s * {PQ_SUBDIM} + i]
                        - d.qv[t.s * {PQ_SUBDIM} + i])))
                  AS BIGINT) AS dist2
      FROM q v, range(0, {PQ_SUBSPACES}) t(s), q d
      WHERE d.vec_id IN ({', '.join(str(j) for j in PQ_CODEBOOK_IDS)})
    ),
    pq_code AS (
      SELECT vec_id, s, did, dist2 FROM (
        SELECT vec_id, s, did, dist2,
               row_number() OVER (PARTITION BY vec_id, s
                                  ORDER BY dist2, did) AS rk
        FROM pq_dist
      ) WHERE rk = 1
    )"""

ORACLE_SQL["pq_codes"] = f"""
    WITH {_PQ_CTES}
    SELECT vec_id, CAST(s AS INT) AS subspace, did AS code FROM pq_code
"""

ORACLE_SQL["knn_pq"] = f"""
    WITH {_PQ_CTES}
    SELECT c.vec_id, CAST(sum(l.dist2) AS BIGINT) AS adc_dist2
    FROM pq_code c
    JOIN pq_dist l
      ON l.vec_id = {QUERY_VEC_ID} AND l.s = c.s AND l.did = c.did
    WHERE c.vec_id <> {QUERY_VEC_ID}
    GROUP BY c.vec_id
    ORDER BY adc_dist2, c.vec_id
    LIMIT {TOP_K}
"""

ORACLE_SQL["knn_pq_rerank"] = f"""
    WITH {_PQ_CTES},
    adc AS (
      SELECT c.vec_id, CAST(sum(l.dist2) AS BIGINT) AS adc_dist2
      FROM pq_code c
      JOIN pq_dist l
        ON l.vec_id = {QUERY_VEC_ID} AND l.s = c.s AND l.did = c.did
      WHERE c.vec_id <> {QUERY_VEC_ID}
      GROUP BY c.vec_id
      ORDER BY adc_dist2, c.vec_id
      LIMIT {PQ_RERANK_R}
    ),
    qq AS (SELECT qv AS qqv FROM q WHERE vec_id = {QUERY_VEC_ID})
    SELECT a.vec_id,
           CAST(list_sum(list_transform(range(1, {EMB_DIM + 1}),
                i -> (v.qv[i] - qq.qqv[i]) * (v.qv[i] - qq.qqv[i])))
                AS BIGINT) AS dist2
    FROM adc a JOIN q v ON a.vec_id = v.vec_id, qq
    ORDER BY dist2, a.vec_id
    LIMIT {TOP_K}
"""

NPROBE_PQ = 4  # coarse cells probed by the IVF-PQ point query (of 16)


def knn_ivfpq(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int = QUERY_VEC_ID,
    k: int = TOP_K,
    nprobe: int = NPROBE_PQ,
) -> DataFrame:
    """(vec_id, adc_dist2): the full FAISS-style IVFADC point query —
    coarse quantizer prunes the scan to ``NPROBE_PQ`` of 16 cells, PQ
    codes + the driver-side ADC LUT score what remains. This composes the
    family's two dials in one plan: IVF's recall/cost probe dial
    (``knn_ivf``) and PQ's 8-bytes-per-vector memory dial (``knn_pq``).

    Everything driver-side is index constants: the probed cells fall out
    of pure Python over the collected query vector + the 16 quantized
    centroids (no Spark job), the LUT is the standard 8×16 integer table.
    The corpus pass is ONE map-only scan — in-row cell argmin, an
    ``isin`` cell filter (with a stored cell-partitioned code table this
    is partition pruning), in-row code argmins, 8 LUT lookups — into
    TakeOrderedAndProject. Exact integer arithmetic; oracle hash-matches.
    """
    found = _lookup_qv(
        spark, sf_dir, PQ_CODEBOOK_IDS + CENTROID_IDS + (query_vec_id,)
    )
    donors = _codebook_of(found)
    cents_q = _centroids_of(found)
    qv = _query_of(found, query_vec_id)
    probe = sorted(
        sorted(cents_q),
        key=lambda c: (
            sum((a - b) ** 2 for a, b in zip(qv, cents_q[c])),
            c,
        ),
    )[:nprobe]
    lut = _pq_lut_from_qv(donors, qv)
    q = _quantize(load_table(spark, sf_dir, "embeddings"))
    coded = with_pq_cell(
        _with_pq_idx(q.where(F.col("vec_id") != query_vec_id), donors),
        cents_q,
    )
    return (
        coded.where(F.col("cell").isin([int(c) for c in probe]))
        .select("vec_id", _adc_from_lut(lut).alias("adc_dist2"))
        .orderBy("adc_dist2", "vec_id")
        .limit(k)
    )


KNN_JOIN_K = 5  # neighbors returned per incoming vector by the kNN join


def knn_join_pq(
    spark: SparkSession,
    sf_dir: str,
    k: int = KNN_JOIN_K,
    corpus: DataFrame | None = None,
    donors: dict[int, list[int]] | None = None,
    cents_q: dict[int, list[int]] | None = None,
) -> DataFrame:
    """(vec_id, match_id, adc_dist2, rank): the batch ANN **kNN JOIN** —
    the k nearest corpus vectors for EVERY incoming vector (the delta
    slice), not just one query point. This is the shape batch enrichment
    pipelines need (label transfer, dedup clustering seeds, RAG corpus
    linking: 'for each new document, its k nearest existing ones').

    Same IVF-PQ machinery as ``ann_pq_incremental``: in-row coarse cell +
    in-row ADC LUT arrays on the incoming side, 8-byte code positions on
    the corpus side, candidates from the cell EQUI-join. The top-k per
    incoming vector is a ``row_number`` window partitioned by vec_id —
    the one shuffle, carrying only (vec_id, match_id, adc) candidate
    tuples, never vectors. Vectors whose cell holds fewer than k corpus
    rows return fewer matches (single-probe semantics, deterministic —
    at scale, raise nprobe exactly as in ``knn_ivfpq``). Exact integer
    ADC; ties break to the smaller match_id; oracle hash-matches.

    ``corpus``/``donors``/``cents_q`` (optional): the stored PQ index —
    see ``_pq_ingest_sides``; skips the per-run corpus re-encode.
    """
    new, corpus = _pq_ingest_sides(spark, sf_dir, corpus, donors, cents_q)
    w = Window.partitionBy("vec_id").orderBy("adc_dist2", "match_id")
    return (
        new.join(corpus, "cell")
        .select("vec_id", "match_id", _adc_from_lut_cols().alias("adc_dist2"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
    )


# Shared IVF-PQ oracle CTEs: ONE definition of the cell assignment and
# the cross-side candidate pairs, composed by all three query oracles —
# a cell-tie-break or quantization change edits exactly one string (the
# _PQ_CTES discipline extended to the IVF layer).
_IVFPQ_CELL_CTES = f"""cents AS (
      SELECT vec_id AS cid, qv AS cqv FROM q
      WHERE vec_id IN ({', '.join(str(c) for c in CENTROID_IDS)})
    ),
    cell AS (
      SELECT vec_id, cid AS cell FROM (
        SELECT v.vec_id, c.cid,
               row_number() OVER (PARTITION BY v.vec_id ORDER BY
                 CAST(list_sum(list_transform(range(1, {EMB_DIM} + 1),
                      i -> (v.qv[i] - c.cqv[i]) * (v.qv[i] - c.cqv[i])))
                      AS BIGINT), c.cid) AS rk
        FROM q v, cents c) WHERE rk = 1
    )"""


def _ivfpq_pairs_adc_ctes() -> str:
    """pairs (new × same-cell corpus) + per-pair ADC — the ingest shapes'
    shared tail."""
    from big_data_toolkit_spark.operators.dedup import NEW_BATCH_MOD

    return f"""pairs AS (
      SELECT n.vec_id AS nid, m.vec_id AS mid
      FROM cell n JOIN cell m ON n.cell = m.cell
      WHERE n.vec_id % {NEW_BATCH_MOD} = {NEW_BATCH_MOD - 1}
        AND m.vec_id % {NEW_BATCH_MOD} <> {NEW_BATCH_MOD - 1}
    ),
    adc AS (
      SELECT p.nid, p.mid, CAST(sum(l.dist2) AS BIGINT) AS adc_dist2
      FROM pairs p
      JOIN pq_code c ON c.vec_id = p.mid
      JOIN pq_dist l ON l.vec_id = p.nid AND l.s = c.s AND l.did = c.did
      GROUP BY p.nid, p.mid
    )"""


ORACLE_SQL["ann_pq_incremental"] = f"""
    WITH {_PQ_CTES},
    {_IVFPQ_CELL_CTES},
    {_ivfpq_pairs_adc_ctes()}
    SELECT nid AS vec_id, mid AS match_id, adc_dist2
    FROM adc WHERE adc_dist2 <= {PQ_RADIUS}
"""

ORACLE_SQL["knn_ivfpq"] = f"""
    WITH {_PQ_CTES},
    {_IVFPQ_CELL_CTES},
    probe AS (
      SELECT cid FROM (
        SELECT c.cid,
               row_number() OVER (ORDER BY
                 CAST(list_sum(list_transform(range(1, {EMB_DIM} + 1),
                      i -> (v.qv[i] - c.cqv[i]) * (v.qv[i] - c.cqv[i])))
                      AS BIGINT), c.cid) AS rk
        FROM cents c, (SELECT qv FROM q WHERE vec_id = {QUERY_VEC_ID}) v
      ) WHERE rk <= {NPROBE_PQ}
    )
    SELECT c.vec_id, CAST(sum(l.dist2) AS BIGINT) AS adc_dist2
    FROM pq_code c
    JOIN cell ce ON ce.vec_id = c.vec_id
    JOIN probe p ON p.cid = ce.cell
    JOIN pq_dist l ON l.vec_id = {QUERY_VEC_ID} AND l.s = c.s AND l.did = c.did
    WHERE c.vec_id <> {QUERY_VEC_ID}
    GROUP BY c.vec_id
    ORDER BY adc_dist2, c.vec_id
    LIMIT {TOP_K}
"""

ORACLE_SQL["knn_join_pq"] = f"""
    WITH {_PQ_CTES},
    {_IVFPQ_CELL_CTES},
    {_ivfpq_pairs_adc_ctes()}
    SELECT nid AS vec_id, mid AS match_id, adc_dist2,
           CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT nid, mid, adc_dist2,
             row_number() OVER (PARTITION BY nid
                                ORDER BY adc_dist2, mid) AS rank
      FROM adc
    ) WHERE rank <= {KNN_JOIN_K}
"""

QUERIES = {
    "knn_brute_force": knn_brute_force,
    "knn_lsh": knn_lsh,
    "ivf_assignments": ivf_assignments,
    "knn_ivf": knn_ivf,
    "kmeans_clusters": kmeans_clusters,
    "cluster_balanced_sample": cluster_balanced_sample,
    "knn_ivf_trained": knn_ivf_trained,
    "knn_int8": knn_int8,
    "pq_codes": pq_codes,
    "knn_pq": knn_pq,
    "knn_pq_rerank": knn_pq_rerank,
    "ann_pq_incremental": ann_pq_incremental,
    "knn_ivfpq": knn_ivfpq,
    "knn_join_pq": knn_join_pq,
    "label_centroids": label_centroids,
    "nearest_centroid_confusion": nearest_centroid_confusion,
}


def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(i, j, n, s_i, s_j, s_ij): exact second-moment statistics of the
    embedding space, one row per upper-triangle dimension pair — the
    one-pass prep for PCA / whitening / feature-correlation audits of an
    embedding corpus.

    The covariance entry is derivable as (s_ij − s_i·s_j/n)/n, but the
    OUTPUT is the exact integer sufficient statistics: sums of fixed-point
    quantized components (the ``_quantize`` ticks), so the result is
    addition-order-independent and oracle-exact — the ``label_centroids``
    integer-sum discipline applied to the dim×dim second moment.

    Scale shape: ONE corpus scan through an Arrow-batched gram
    accumulation (``mapInPandas``: per batch, an int64 Qᵀ·Q GEMM plus a
    column sum — fixed dim×dim state per batch, the right use of a UDF
    exactly like ``knn_lsh``'s signature GEMM), then a partial-aggregated
    merge shuffle of dim(dim+1)/2 cells × partitions — constants, not
    data. An explode-and-self-join formulation would shuffle dim·n rows;
    this moves only per-partition partials. int64 headroom: |tick| ≤ 1e6
    ⇒ |product| ≤ 1e12, so ~9×10⁶ rows per BATCH are safe per cell sum
    (Arrow batches are far smaller); the merge sums would need
    DECIMAL(38,0)/HUGEINT only past ~10⁶ billion-row partials — at that
    scale swap the final ``sum`` to ``sum(cast(decimal))`` on both
    engines.
    """
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings").select("embedding")
    iu = np.triu_indices(EMB_DIM)
    out_schema = (
        "i long, j long, n long, s_i long, s_j long, s_ij long"
    )

    def gram(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            q = np.floor(x * KMEANS_QUANT).astype(np.int64)
            g = q.T @ q  # int64-exact GEMM
            s = q.sum(axis=0, dtype=np.int64)
            yield pd.DataFrame(
                {
                    "i": iu[0].astype(np.int64),
                    "j": iu[1].astype(np.int64),
                    "n": np.int64(len(q)),
                    "s_i": s[iu[0]],
                    "s_j": s[iu[1]],
                    "s_ij": g[iu],
                }
            )

    return (
        emb.mapInPandas(gram, out_schema)
        .groupBy("i", "j")
        .agg(
            F.sum("n").alias("n"),
            F.sum("s_i").alias("s_i"),
            F.sum("s_j").alias("s_j"),
            F.sum("s_ij").alias("s_ij"),
        )
    )


ORACLE_SQL["embedding_covariance"] = f"""
    WITH q AS (
      SELECT list_transform(embedding,
                            x -> floor(x::DOUBLE * {KMEANS_QUANT})::BIGINT) AS qv
      FROM embeddings
    ),
    idx AS (SELECT i FROM range({EMB_DIM}) t(i)),
    cells AS (SELECT a.i AS i, b.i AS j FROM idx a JOIN idx b ON a.i <= b.i)
    SELECT c.i, c.j, count(*) AS n,
           CAST(sum(q.qv[c.i + 1]) AS BIGINT) AS s_i,
           CAST(sum(q.qv[c.j + 1]) AS BIGINT) AS s_j,
           CAST(sum(q.qv[c.i + 1] * q.qv[c.j + 1]) AS BIGINT) AS s_ij
    FROM q, cells c GROUP BY c.i, c.j
"""

QUERIES["embedding_covariance"] = embedding_covariance


PCA_TOP_K = 8  # reported principal components (the audit's subject)
PCA_SQUARINGS = 13  # oracle A^(2^13) power steps per component — see SQL


def pca_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(component, eigenvalue, var_ratio): the TOP-``PCA_TOP_K`` of the
    embedding covariance's eigen-spectrum — how many principal directions
    carry the corpus's variance (the dimensionality audit before PCA
    projection / whitening / Matryoshka truncation). ``var_ratio`` is
    the eigenvalue over the FULL trace, so the reported head still reads
    as fraction-of-total-variance.

    Scale split: the covariance sufficient statistics come from the
    distributed one-pass ``embedding_covariance`` (exact integers); the
    eigendecomposition is O(dim³) on a dim×dim matrix — driver-side
    numpy ``eigvalsh`` on dim(dim+1)/2 collected cells (O(dim²) driver
    bytes, the same budget as the Lloyd centroid fetch; at dim = 64 that
    is 2,080 cells regardless of corpus size).

    Oracle (r11 verdict item 3 — this was the one fixable rows-only
    query): eigenvalues are NOT directly SQL-expressible, but they ARE
    the limit of deflated power iteration, and repeated matrix SQUARING
    reaches A^(2^s)·e in s chained CTEs instead of 2^s matvec steps —
    at s = {PCA_SQUARINGS} that is 8192 effective power steps, driving
    the estimate within ~1e-12 of the true eigenvalue even at the
    measured worst adjacent-eigenvalue ratio (~0.995 ⇒ residual
    0.995^8192 ≈ 1e-18), far inside the 6-decimal rounding both sides
    emit. Both engines build the covariance from the SAME exact-integer
    quantized sums, so they agree to FP noise before either iterates;
    the tail (components ≥ {PCA_TOP_K}) is excluded because deflation
    error compounds linearly in k while the audit only ever reads the
    head. The 6-decimal-rounded head is hash-green, like
    ``embedding_covariance``.

    GATE INVARIANT (ADVICE r12): that convergence argument is
    fixture-dependent — it needs (a) adjacent head eigenvalue ratios
    bounded away from 1 and (b) the all-ones start vector not
    near-orthogonal to any head eigenvector. Both are asserted per
    driver SF by ``test_pca_oracle_convergence_envelope``, so a future
    data regeneration with a near-degenerate spectrum fails there
    (named invariant) rather than as an unexplained hash mismatch.
    """
    cells = embedding_covariance(spark, sf_dir).collect()
    if not cells or cells[0]["n"] == 0:
        raise ValueError(
            "pca_variance: embeddings table is empty — covariance (and its "
            "eigen-spectrum) is undefined over zero vectors"
        )
    n = cells[0]["n"]
    c = np.zeros((EMB_DIM, EMB_DIM))
    for r in cells:
        # covariance in original embedding units: ticks are value*QUANT
        cov = (r["s_ij"] - r["s_i"] * r["s_j"] / n) / n / (KMEANS_QUANT**2)
        c[r["i"], r["j"]] = cov
        c[r["j"], r["i"]] = cov
    lam = np.linalg.eigvalsh(c)[::-1]  # descending
    total = float(np.trace(c))
    rows = [
        (
            int(k),
            # + 0.0 canonicalizes IEEE negative zero (the PMI convention):
            # a PSD eigenvalue can round to -0.0 from float error
            round(float(lam[k]), 6) + 0.0,
            (round(float(lam[k] / total), 6) + 0.0) if total > 0 else 0.0,
        )
        for k in range(min(PCA_TOP_K, EMB_DIM))
    ]
    return local_table(
        spark, rows, "component long, eigenvalue double, var_ratio double"
    )


QUERIES["pca_variance"] = pca_variance


def _pca_variance_sql(top_k: int = PCA_TOP_K, s: int = PCA_SQUARINGS) -> str:
    """Deflated power iteration via repeated matrix squaring, unrolled.

    Per component k: B = normalized (A_k)^(2^s) (each squaring is one
    4096-cell self-join CTE, rescaled by max|entry| so the powers never
    underflow), v = B·1 normalized, λ_k = vᵀA_k v (Rayleigh quotient),
    A_{k+1} = A_k − λ_k v vᵀ. A_0 is the exact-integer-quantized
    covariance (the ``embedding_covariance`` cells), so both engines
    iterate from bit-identical matrices; the iteration converges to the
    true eigenvalues far past the emitted 6-decimal rounding (see
    ``pca_variance``). ~{top_k}·({s}+3) CTEs over 64×64 matrices —
    driver-side-constant work regardless of corpus size, exactly like
    the numpy eigendecomposition it checks."""
    sql = f"""
    WITH q AS (
      SELECT list_transform(embedding,
                            x -> floor(x::DOUBLE * {KMEANS_QUANT})::BIGINT) AS qv
      FROM embeddings
    ),
    idx AS (SELECT i FROM range({EMB_DIM}) t(i)),
    pairs AS (SELECT a.i AS i, b.i AS j FROM idx a CROSS JOIN idx b),
    stats AS MATERIALIZED (
      SELECT c.i, c.j, count(*) AS n,
             CAST(sum(q.qv[c.i + 1]) AS BIGINT) AS s_i,
             CAST(sum(q.qv[c.j + 1]) AS BIGINT) AS s_j,
             CAST(sum(q.qv[c.i + 1] * q.qv[c.j + 1]) AS BIGINT) AS s_ij
      FROM q, pairs c GROUP BY c.i, c.j
    ),
    a0 AS MATERIALIZED (
      SELECT i, j,
             -- HUGEINT product: BIGINT tick-sums multiply past int64 at
             -- ~3e9 per column sum (the engine side is Python ints); the
             -- exact 128-bit product then divides like Python's int/int
             (s_ij - (s_i::HUGEINT * s_j) / n) / n
               / {KMEANS_QUANT * KMEANS_QUANT} AS val
      FROM stats
    ),
    tr AS (SELECT sum(val) AS trace FROM a0 WHERE i = j)"""
    for k in range(top_k):
        sql += f""",
    b{k}_0 AS MATERIALIZED (SELECT i, j, val FROM a{k})"""
        for t in range(1, s + 1):
            sql += f""",
    b{k}_{t} AS MATERIALIZED (
      SELECT i, j,
             coalesce(val / nullif(max(abs(val)) OVER (), 0), 0.0) AS val
      FROM (
        SELECT x.i AS i, y.j AS j, sum(x.val * y.val) AS val
        FROM b{k}_{t - 1} x JOIN b{k}_{t - 1} y ON x.j = y.i
        GROUP BY x.i, y.j
      )
    )"""
        sql += f""",
    v{k} AS MATERIALIZED (
      SELECT i AS pos,
             coalesce(sv / nullif(sqrt(sum(sv * sv) OVER ()), 0), 0.0) AS v
      FROM (
        SELECT i, sum(val) AS sv FROM b{k}_{s} GROUP BY i
      )
    ),
    lam{k} AS MATERIALIZED (
      SELECT coalesce(sum(a.val * x.v * y.v), 0.0) AS lam
      FROM a{k} a JOIN v{k} x ON a.i = x.pos JOIN v{k} y ON a.j = y.pos
    ),
    a{k + 1} AS MATERIALIZED (
      SELECT a.i, a.j, a.val - l.lam * x.v * y.v AS val
      FROM a{k} a
      JOIN v{k} x ON a.i = x.pos
      JOIN v{k} y ON a.j = y.pos
      CROSS JOIN lam{k} l
    )"""
    parts = "\n    UNION ALL\n    ".join(
        # + 0.0 canonicalizes IEEE negative zero (the PMI convention); the
        # trace CASE matches the engine's `if total > 0 else 0.0` guard.
        # The EXISTS guard matches the engine's empty-table ValueError:
        # without it, aggregates-without-GROUP-BY make lam{k}/tr always
        # one row, so an empty embeddings table would emit top_k zero
        # rows where the engine refuses (ADVICE r12) — with it, both
        # sides agree that the spectrum is undefined over zero vectors
        # (oracle: zero rows; engine: the explicit ValueError the empty
        # sweep sanctions).
        f"SELECT {k} AS component, round(lam, 6) + 0.0 AS eigenvalue, "
        f"CASE WHEN trace > 0 THEN round(lam / trace, 6) + 0.0 "
        f"ELSE 0.0 END AS var_ratio FROM lam{k}, tr "
        f"WHERE EXISTS (SELECT 1 FROM embeddings)"
        for k in range(top_k)
    )
    return sql + f"\n    {parts}\n    ORDER BY component"


ORACLE_SQL["pca_variance"] = _pca_variance_sql()


OUTLIER_K = 20


def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, label, dist2): the ``OUTLIER_K`` vectors FARTHEST from their
    own label's centroid — the mislabel / anomalous-sample screen a
    curation pipeline runs before training on labeled embeddings
    (complements ``nearest_centroid_confusion``, which asks where a vector
    would go; this asks how badly it fits where it IS).

    Same numeric discipline as the confusion matrix: centroids from exact
    integer-quantized component sums (order-independent, both engines
    derive identical doubles), distances as in-order JVM folds against
    the broadcast |labels|-row centroid table, global top-k via
    TakeOrderedAndProject with (dist2 desc, vec_id) tie-break. Map-only
    after the centroid aggregate; never a vector-vector join.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = F.expr(f"cast(floor(double(x) * {CENTROID_QUANT} + 0.5D) as bigint)")
    cents = (
        emb.select("label", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(F.count("*").alias("n"), F.sum(q).alias("sq"))
        .select(
            "label",
            "pos",
            (
                F.col("sq").cast("double") / F.col("n") / F.lit(CENTROID_QUANT)
            ).alias("c"),
        )
    )
    carr = (
        cents.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select("label", F.expr("transform(pc, p -> p.c)").alias("cv"))
    )
    dist = F.expr(
        "aggregate(zip_with(embedding, cv, (x, y) -> "
        "(double(x) - y) * (double(x) - y)), 0D, (acc, v) -> acc + v)"
    )
    return (
        emb.join(F.broadcast(carr), "label")
        .select(
            "vec_id",
            F.col("label").cast("long").alias("label"),
            F.round(dist, 6).alias("dist2"),
        )
        .orderBy(F.desc("dist2"), "vec_id")
        .limit(OUTLIER_K)
    )


ORACLE_SQL["embedding_outliers"] = f"""
    WITH ex AS (
      SELECT label, unnest(range(1, len(embedding) + 1)) AS i,
             embedding AS e
      FROM embeddings
    ),
    cent AS (
      SELECT label, i,
             CAST(sum(CAST(floor(e[i]::DOUBLE * {CENTROID_QUANT} + 0.5)
                           AS BIGINT)) AS DOUBLE)
               / count(*) / {CENTROID_QUANT} AS c
      FROM ex GROUP BY label, i
    ),
    carr AS (
      SELECT label, list(c ORDER BY i) AS cv FROM cent GROUP BY label
    )
    SELECT e.vec_id, CAST(e.label AS BIGINT) AS label,
           round(list_sum(list_transform(range(1, len(e.embedding) + 1),
                    i -> (e.embedding[i]::DOUBLE - c.cv[i]) *
                         (e.embedding[i]::DOUBLE - c.cv[i]))), 6) AS dist2
    FROM embeddings e JOIN carr c ON e.label = c.label
    ORDER BY dist2 DESC, e.vec_id
    LIMIT {OUTLIER_K}
"""

QUERIES["embedding_outliers"] = embedding_outliers

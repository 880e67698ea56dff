from __future__ import annotations

import ast
import pathlib

import pytest
from pyspark.sql import functions as F

from big_data_toolkit_spark.operators import similarity as sim
from tests.conftest import SF_ORACLE
from tests.oracle_utils import compare


@pytest.mark.parametrize("name", sorted(sim.ORACLE_SQL))
def test_oracle_match(spark, name):
    df = sim.QUERIES[name](spark, SF_ORACLE)
    compare(df, sim.ORACLE_SQL[name], SF_ORACLE)


def test_brute_force_topk_shape(spark):
    rows = sim.knn_brute_force(spark, SF_ORACLE).collect()
    assert len(rows) == sim.TOP_K
    sims = [r["sim"] for r in rows]
    assert sims == sorted(sims, reverse=True)
    assert all(-1.0 <= s <= 1.0 for s in sims)


def test_lsh_is_subset_semantics(spark):
    """ANN results come from the query's bucket: every hit must also rank in
    brute force when restricted to those candidates (no fabricated sims)."""
    brute = {r["vec_id"]: r["sim"] for r in
             sim.knn_brute_force(spark, SF_ORACLE, k=10**6).collect()}
    ann = sim.knn_lsh(spark, SF_ORACLE).collect()
    assert len(ann) > 0
    for r in ann:
        assert r["vec_id"] in brute
        assert r["sim"] == pytest.approx(brute[r["vec_id"]], abs=1e-6)


def test_no_python_udf_in_plan(spark):
    plan = (
        sim.knn_brute_force(spark, SF_ORACLE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "TakeOrderedAndProject" in plan


def test_ivf_assignment_is_total(spark):
    """Every vector gets exactly one centroid, and centroids self-assign."""
    rows = sim.ivf_assignments(spark, SF_ORACLE).collect()
    n = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet").count()
    assert len(rows) == n
    by_id = {r["vec_id"]: r["centroid_id"] for r in rows}
    for cid in sim.CENTROID_IDS:
        assert by_id[cid] == cid  # cosine(v, v) = 1 is the max


def test_ivf_no_fabricated_sims(spark):
    brute = {r["vec_id"]: r["sim"] for r in
             sim.knn_brute_force(spark, SF_ORACLE, k=10**6).collect()}
    ann = sim.knn_ivf(spark, SF_ORACLE).collect()
    assert len(ann) > 0
    for r in ann:
        assert r["sim"] == pytest.approx(brute[r["vec_id"]], abs=1e-6)


def test_kmeans_matches_sequential_replica(spark):
    """Independent Lloyd replica: quantized vectors, per-element sequential
    fold distances (matching the engine's in-order JVM fold), exact-integer
    mean updates — the same second-implementation check PageRank has."""
    from big_data_toolkit_spark.catalog import load_table
    from tests.conftest import SF_SMOKE

    rows = (
        load_table(spark, SF_SMOKE, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    )
    qv = {
        r["vec_id"]: [float(int(__import__("math").floor(float(x) * sim.KMEANS_QUANT)))
                      for x in r["embedding"]]
        for r in rows
    }

    def dist2(q, m):
        acc = 0.0
        for i in range(len(q)):
            d = q[i] - m[i]
            acc += d * d
        return acc

    cents = {c: list(qv[c]) for c in sim.CENTROID_IDS}

    def assign():
        out = {}
        for v, q in qv.items():
            best = min(
                sorted(cents),
                key=lambda c: (dist2(q, cents[c]), c),
            )
            out[v] = best
        return out

    for _ in range(sim.KMEANS_ITERS):
        a = assign()
        sums: dict[int, list] = {}
        counts: dict[int, int] = {}
        for v, c in a.items():
            counts[c] = counts.get(c, 0) + 1
            s = sums.setdefault(c, [0] * len(qv[v]))
            for i, x in enumerate(qv[v]):
                s[i] += int(x)
        for c in cents:
            if c in sums:
                cents[c] = [s / counts[c] for s in sums[c]]
    expected = assign()

    got = {r["vec_id"]: r["cluster"]
           for r in sim.kmeans_clusters(spark, SF_SMOKE).collect()}
    assert got == expected


def test_kmeans_assignment_is_map_only(spark, monkeypatch):
    """The output assignment pass carries centroids in the plan (Arrow
    closure by default, literals with the flag off) — no join, no
    Exchange, never a row-at-a-time Python UDF: one scan at any corpus
    size. The flag-off plan must be pure expressions (the streaming /
    oracle-twin shape)."""
    plan = (
        sim.kmeans_clusters(spark, SF_ORACLE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan  # Arrow-batched, never per-row
    monkeypatch.setattr(sim, "KMEANS_ASSIGN_ARROW", False)
    plan_expr = (
        sim.kmeans_clusters(spark, SF_ORACLE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan_expr
    assert (
        "BatchEvalPython" not in plan_expr
        and "ArrowEvalPython" not in plan_expr
    )


def test_cluster_balanced_sample_bounds(spark):
    assigned = {r["vec_id"]: r["cluster"]
                for r in sim.kmeans_clusters(spark, SF_ORACLE).collect()}
    sample = sim.cluster_balanced_sample(spark, SF_ORACLE).collect()
    per_cluster: dict[int, int] = {}
    for r in sample:
        assert assigned[r["vec_id"]] == r["cluster"]  # subset of assignment
        per_cluster[r["cluster"]] = per_cluster.get(r["cluster"], 0) + 1
    assert per_cluster, "sample is empty"
    assert max(per_cluster.values()) <= sim.SAMPLE_PER_CLUSTER
    # every non-empty cluster is represented (cap is a max, not a filter)
    assert set(per_cluster) == set(assigned.values())


def test_kmeans_empty_cluster_keeps_seed_and_ties_go_low(spark, monkeypatch):
    """Duplicate seed vectors: every tie resolves to the smaller cluster id,
    so the larger seed's cluster is empty after assignment — the update must
    keep its previous centroid (coalesce path) and still converge."""
    rows = [(i, [float(i), 0.0]) for i in range(1, 5)]
    rows.append((5, [1.0, 0.0]))  # vec 5 duplicates vec 1's position
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])

    monkeypatch.setattr(sim, "CENTROID_IDS", (1, 5))
    monkeypatch.setattr(sim, "EMB_DIM", 2)
    monkeypatch.setattr(
        sim, "load_table", lambda _spark, _sf, _name: emb
    )
    got = {r["vec_id"]: r["cluster"]
           for r in sim.kmeans_clusters(spark, "unused").collect()}
    # Iteration 0: every vector ties between the two identical centroids
    # and lands in cluster 1 — cluster 5 is EMPTY, and the update must keep
    # its seed centroid (the coalesce path) instead of crashing. Cluster 1's
    # centroid moves to the global mean (2.2), so iteration 2 pulls the
    # points at x=1 back to the stationary duplicate seed; the final
    # assignment has vec 2 equidistant between centroids 3.0 and 1.0 and
    # the tie must break to the smaller cluster id.
    assert got == {1: 5, 2: 1, 3: 1, 4: 1, 5: 5}


def test_ivf_trained_no_fabricated_sims(spark):
    """Trained-centroid IVF hits must carry exact brute-force cosines (the
    coarse quantizer only blocks — it must never alter scores)."""
    brute = {r["vec_id"]: r["sim"] for r in
             sim.knn_brute_force(spark, SF_ORACLE, k=10**6).collect()}
    ann = sim.knn_ivf_trained(spark, SF_ORACLE).collect()
    assert 0 < len(ann) <= sim.TOP_K
    for r in ann:
        assert r["sim"] == pytest.approx(brute[r["vec_id"]], abs=1e-6)


def test_int8_recall_vs_exact(spark):
    """Scalar quantization at 127 levels barely moves cosine: the int8
    top-10 must recover >= 8 of the exact top-10."""
    from tests.conftest import SF_ORACLE

    exact = {r["vec_id"] for r in sim.knn_brute_force(spark, SF_ORACLE).collect()}
    quant = {r["vec_id"] for r in sim.knn_int8(spark, SF_ORACLE).collect()}
    assert len(exact & quant) >= 8, (exact, quant)


def test_int8_zero_shuffle_no_udf(spark):
    """Quantized brute force is one scan + a 1-row broadcast: no exchange
    other than the broadcast, no Python UDF (all Catalyst HOFs)."""
    from tests.conftest import SF_SMOKE

    plan = (
        sim.knn_int8(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange hashpartitioning" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_label_centroids_shape_and_accuracy(spark):
    """|labels|*dim rows; each centroid component within quantization error
    of a NumPy float64 mean."""
    import numpy as np

    from tests.conftest import SF_ORACLE

    from big_data_toolkit_spark.catalog import load_table

    rows = sim.label_centroids(spark, SF_ORACLE).collect()
    raw = load_table(spark, SF_ORACLE, "embeddings").collect()
    dim = len(raw[0]["embedding"])
    labels = {r["label"] for r in raw}
    assert len(rows) == len(labels) * dim
    by_label: dict[int, list] = {}
    for r in raw:
        by_label.setdefault(r["label"], []).append(r["embedding"])
    for r in rows[:50]:
        true = float(
            np.mean(np.array(by_label[r["label"]], dtype=np.float64)[:, r["pos"]])
        )
        assert abs(r["c"] - true) <= 1e-6 + 1e-9, (r, true)
        assert r["n"] == len(by_label[r["label"]])


def test_nearest_centroid_confusion_reconciles(spark):
    """Confusion counts sum to the corpus size; the diagonal dominates on
    the chance baseline on the synthetic labels (1/|labels| = 0.1;
    measured 0.41 — labels are noisy by construction, so the bound asserts
    signal, not separability)."""
    from tests.conftest import SF_ORACLE

    from big_data_toolkit_spark.catalog import load_table

    rows = sim.nearest_centroid_confusion(spark, SF_ORACLE).collect()
    total = load_table(spark, SF_ORACLE, "embeddings").count()
    assert sum(r["n"] for r in rows) == total
    acc = sum(r["n"] for r in rows if r["label"] == r["predicted"]) / total
    assert acc > 0.25, acc


def test_embedding_covariance_matches_numpy_exactly(spark):
    """The Arrow gram pass must equal a single-process numpy int64
    accumulation cell-for-cell — quantization is deterministic, so there
    is no tolerance, only equality."""
    import numpy as np

    from big_data_toolkit_spark.catalog import load_table
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings").orderBy("vec_id").collect()
    x = np.array([r["embedding"] for r in emb], dtype=np.float64)
    q = np.floor(x * sim.KMEANS_QUANT).astype(np.int64)
    g = q.T @ q
    s = q.sum(axis=0, dtype=np.int64)
    got = {
        (r["i"], r["j"]): (r["n"], r["s_i"], r["s_j"], r["s_ij"])
        for r in sim.embedding_covariance(spark, SF_SMOKE).collect()
    }
    assert len(got) == sim.EMB_DIM * (sim.EMB_DIM + 1) // 2
    for (i, j), (n, s_i, s_j, s_ij) in got.items():
        assert i <= j
        assert (n, s_i, s_j, s_ij) == (len(q), s[i], s[j], g[i, j])


def test_pca_variance_matches_numpy(spark):
    """Distributed-covariance eigen spectrum == single-process numpy on the
    same quantized data (top-PCA_TOP_K head, 6-decimal emitted precision);
    spectrum is PSD-descending and head ratios are consistent with the
    full trace."""
    import numpy as np

    from big_data_toolkit_spark.catalog import load_table
    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings").collect()
    x = np.array([r["embedding"] for r in emb], dtype=np.float64)
    q = np.floor(x * sim.KMEANS_QUANT)
    c = np.cov(q, rowvar=False, bias=True) / (sim.KMEANS_QUANT**2)
    want = np.linalg.eigvalsh(c)[::-1][: sim.PCA_TOP_K]
    rows = sim.pca_variance(spark, SF_SMOKE).orderBy("component").collect()
    assert len(rows) == sim.PCA_TOP_K
    got = np.array([r["eigenvalue"] for r in rows])
    assert np.allclose(got, want, atol=5.1e-7)  # 6-decimal rounding
    assert all(got[i] >= got[i + 1] for i in range(len(got) - 1))
    assert got[-1] > -1e-12  # PSD up to float error
    tr = float(np.trace(c))
    want_ratio = [round(v / tr, 6) for v in want]
    assert [r["var_ratio"] for r in rows] == pytest.approx(
        want_ratio, abs=5.1e-7
    )


def test_pca_variance_oracle_hash(spark):
    """The r11 verdict item: pca_variance is now hash-green — the deflated
    matrix-squaring oracle converges to the same 6-decimal head."""
    from tests.conftest import SF_SMOKE
    from tests.oracle_utils import compare

    compare(
        sim.pca_variance(spark, SF_SMOKE),
        sim.ORACLE_SQL["pca_variance"],
        SF_SMOKE,
    )


def test_pca_oracle_convergence_envelope(spark):
    """GATE INVARIANT (ADVICE r12): the matrix-squaring oracle's 6-decimal
    hash parity rests on two fixture properties the SQL cannot check for
    itself — (a) adjacent head eigenvalue ratios stay far enough below 1
    that (λ_{k+1}/λ_k)^(2^PCA_SQUARINGS) is negligible against the
    rounding, and (b) the all-ones start vector is not near-orthogonal to
    any head eigenvector (its projection seeds the power iteration; a ~0
    projection would stall convergence). Assert BOTH at every driver SF
    fixture so a future regeneration that drifts toward a degenerate
    spectrum fails HERE, not as an unexplained hash mismatch."""
    import numpy as np

    from big_data_toolkit_spark.catalog import load_table
    from tests.conftest import SF_ORACLE, SF_SMOKE

    for sf in (SF_SMOKE, SF_ORACLE):
        emb = load_table(spark, sf, "embeddings").collect()
        x = np.array([r["embedding"] for r in emb], dtype=np.float64)
        q = np.floor(x * sim.KMEANS_QUANT)
        c = np.cov(q, rowvar=False, bias=True) / (sim.KMEANS_QUANT**2)
        lam, vec = np.linalg.eigh(c)
        lam, vec = lam[::-1], vec[:, ::-1]
        steps = 2 ** sim.PCA_SQUARINGS
        ones = np.ones(sim.EMB_DIM) / np.sqrt(sim.EMB_DIM)
        for k in range(sim.PCA_TOP_K):
            # (a) residual after 2^s effective power steps, in eigenvalue
            # units, must sit far inside the 5e-7 rounding half-width
            ratio = lam[k + 1] / lam[k] if lam[k] > 0 else 0.0
            assert 0.0 <= ratio < 1.0, (sf, k, ratio)
            residual = ratio**steps * max(lam[k], 1.0)
            assert residual < 1e-9, (sf, k, ratio, residual)
            # (b) the ones-vector seeds every head component: projection
            # bounded away from orthogonal (1e-4 of unit norm leaves a
            # log(1/proj)/log(1/ratio) ≪ 2^s step penalty — harmless)
            proj = abs(float(vec[:, k] @ ones))
            assert proj > 1e-4, (sf, k, proj)


def test_embedding_covariance_single_exchange(spark):
    """One scan, one merge shuffle of partial cells — the gram pass never
    explodes or self-joins the corpus."""
    from tests.conftest import SF_SMOKE

    plan = (
        sim.embedding_covariance(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1
    assert plan.count("Scan parquet") == 1


def test_embedding_outliers_are_the_global_worst_fits(spark):
    """Top-k by own-centroid distance, recomputed independently with numpy:
    the flagged set must be exactly the k largest distances (ties by id)."""
    import numpy as np

    from big_data_toolkit_spark.catalog import load_table
    from tests.conftest import SF_SMOKE

    rows = load_table(spark, SF_SMOKE, "embeddings").collect()
    by_label: dict = {}
    for r in rows:
        by_label.setdefault(r["label"], []).append(r)
    dist = {}
    for label, rs in by_label.items():
        q = np.floor(
            np.array([r["embedding"] for r in rs], dtype=np.float64)
            * sim.CENTROID_QUANT
            + 0.5
        )
        c = q.sum(axis=0) / len(rs) / sim.CENTROID_QUANT
        for r in rs:
            d = np.array(r["embedding"], dtype=np.float64) - c
            dist[r["vec_id"]] = float((d * d).sum())
    want = sorted(dist, key=lambda v: (-round(dist[v], 6), v))[: sim.OUTLIER_K]
    got = [r["vec_id"] for r in sim.embedding_outliers(spark, SF_SMOKE).collect()]
    assert got == want


def test_knn_ivf_trained_unknown_query_id_fails_loud(spark):
    """A query_vec_id absent from the embeddings table must raise an
    explicit ValueError, not an opaque TypeError from first()[...]."""
    with pytest.raises(ValueError, match="query_vec_id"):
        sim.knn_ivf_trained(spark, SF_ORACLE, query_vec_id=10**12)


def test_index_vector_collection_refuses_degenerate_index(spark):
    """Missing designated index ids (empty table / misconfiguration) must
    raise an explicit ValueError from the shared fetch — a silent partial
    dict would build an LSH/IVF index with too few planes/centroids and
    degrade quality without any error."""
    emb = sim.load_table(spark, SF_ORACLE, "embeddings")
    with pytest.raises(ValueError, match="index vectors not found"):
        sim._collect_index_vectors(emb, (10**12, 10**12 + 1))


def test_pq_donors_encode_to_themselves(spark):
    """A codebook donor's nearest codebook subvector in EVERY subspace is
    its own (distance 0), so each donor's 8 codes must all be its own id —
    the PQ analog of 'centroids assign to themselves'."""
    codes = sim.pq_codes(spark, SF_ORACLE)
    donor_rows = codes.where(
        F.col("vec_id").isin(list(sim.PQ_CODEBOOK_IDS))
    ).collect()
    assert len(donor_rows) == len(sim.PQ_CODEBOOK_IDS) * sim.PQ_SUBSPACES
    for r in donor_rows:
        assert r["code"] == r["vec_id"], (r["vec_id"], r["subspace"], r["code"])


def test_pq_codes_shape_and_adc_consistency(spark):
    """Every vector gets exactly PQ_SUBSPACES codes drawn from the donor
    set, and knn_pq's ADC distances are reproducible from the code table +
    an independently computed integer LUT (the asymmetric-distance
    identity ADC(q, v) = sum_s LUT[s][code_s(v)])."""
    codes = sim.pq_codes(spark, SF_ORACLE)
    per_vec = codes.groupBy("vec_id").count().collect()
    assert all(r["count"] == sim.PQ_SUBSPACES for r in per_vec)
    donor_set = set(sim.PQ_CODEBOOK_IDS)
    assert all(
        r["code"] in donor_set for r in codes.limit(200).collect()
    )

    donors = sim._pq_codebook(spark, SF_ORACLE)
    from big_data_toolkit_spark.catalog import load_table

    q = sim._quantize(load_table(spark, SF_ORACLE, "embeddings"))
    qv = [
        int(x)
        for x in q.where(F.col("vec_id") == sim.QUERY_VEC_ID)
        .collect()[0]["qv"]
    ]
    lut = {
        (s, j): sum(
            (qv[s * sim.PQ_SUBDIM + d] - donors[j][s * sim.PQ_SUBDIM + d]) ** 2
            for d in range(sim.PQ_SUBDIM)
        )
        for s in range(sim.PQ_SUBSPACES)
        for j in donors
    }
    code_map = {}
    for r in codes.collect():
        code_map.setdefault(r["vec_id"], {})[r["subspace"]] = r["code"]
    for r in sim.knn_pq(spark, SF_ORACLE).collect():
        expect = sum(
            lut[(s, code_map[r["vec_id"]][s])]
            for s in range(sim.PQ_SUBSPACES)
        )
        assert r["adc_dist2"] == expect, r


def test_pq_rerank_recall_vs_exact(spark):
    """The re-ranked PQ pipeline must recover most of the TRUE quantized-L2
    top-k (the whole point of the shortlist+rerank shape) — and every
    returned distance must be the exact distance, not the ADC estimate."""
    from big_data_toolkit_spark.catalog import load_table

    got = sim.knn_pq_rerank(spark, SF_ORACLE).collect()
    assert len(got) == sim.TOP_K
    q = sim._quantize(load_table(spark, SF_ORACLE, "embeddings"))
    qv = [
        int(x)
        for x in q.where(F.col("vec_id") == sim.QUERY_VEC_ID)
        .collect()[0]["qv"]
    ]
    exact = []
    for r in q.where(F.col("vec_id") != sim.QUERY_VEC_ID).collect():
        v = [int(x) for x in r["qv"]]
        exact.append(
            (sum((a - b) ** 2 for a, b in zip(v, qv)), r["vec_id"])
        )
    exact.sort()
    true_top = {vid for _, vid in exact[: sim.TOP_K]}
    exact_d = dict(((vid, d) for d, vid in exact))
    for r in got:
        assert r["dist2"] == exact_d[r["vec_id"]]
    recall = len(true_top & {r["vec_id"] for r in got}) / sim.TOP_K
    assert recall >= 0.5, f"PQ rerank recall {recall} too low"


def test_ivfpq_probe_dial_converges_to_pq(spark):
    """The IVF probe dial's defining invariant: probing ALL 16 cells makes
    IVFADC identical to the flat PQ scan (same ADC integers, same order);
    the default nprobe returns a subset of cells' candidates whose ADC
    values agree with the flat scan wherever they appear."""
    flat = {r["vec_id"]: r["adc_dist2"]
            for r in sim.knn_pq(spark, SF_ORACLE, k=10**6).collect()}
    full = sim.knn_ivfpq(spark, SF_ORACLE, nprobe=len(sim.CENTROID_IDS)).collect()
    top_flat = sorted(flat.items(), key=lambda t: (t[1], t[0]))[: sim.TOP_K]
    assert [(r["vec_id"], r["adc_dist2"]) for r in full] == top_flat
    probed = sim.knn_ivfpq(spark, SF_ORACLE).collect()
    assert len(probed) == sim.TOP_K
    for r in probed:
        assert flat[r["vec_id"]] == r["adc_dist2"], r


def test_knn_join_pq_ranks_dense_and_monotone(spark):
    """Per incoming vector: ranks are 1..n contiguous (n <= k), ADC is
    non-decreasing along rank, and every ADC value agrees with the flat
    PQ scan's distance for that (query, match) pair."""
    rows = sim.knn_join_pq(spark, SF_ORACLE).collect()
    assert rows
    by_vec: dict = {}
    for r in rows:
        by_vec.setdefault(r["vec_id"], []).append(r)
    for vid, rs in by_vec.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1)), vid
        assert len(rs) <= sim.KNN_JOIN_K
        adcs = [r["adc_dist2"] for r in rs]
        assert adcs == sorted(adcs), vid
    # spot-check ADC agreement with the single-query flat scan machinery
    some_vid = sorted(by_vec)[0]
    flat = {r["vec_id"]: r["adc_dist2"]
            for r in sim.knn_pq(spark, SF_ORACLE, query_vec_id=some_vid,
                                k=10**6).collect()}
    for r in by_vec[some_vid]:
        assert flat[r["match_id"]] == r["adc_dist2"], r


def test_pq_ingest_arrow_matches_expression_path(spark):
    """The Arrow int64 ingest encode must be BIT-identical to the
    interpreted expression folds on both join sides — exact integer
    arithmetic and the same first-minimum tie rules leave no room for
    drift (the claim that let it become the default without touching the
    ann_pq_incremental / knn_join_pq oracles)."""
    for arrow in (False, True):
        new, corpus = sim._pq_ingest_sides(spark, SF_ORACLE, arrow=arrow)
        n = sorted(
            (
                r["vec_id"],
                r["cell"],
                tuple(tuple(r[f"_lut_{s}"]) for s in range(sim.PQ_SUBSPACES)),
            )
            for r in new.collect()
        )
        c = sorted(
            (
                r["match_id"],
                r["cell"],
                tuple(r[f"_pq_idx_{s}"] for s in range(sim.PQ_SUBSPACES)),
            )
            for r in corpus.collect()
        )
        if arrow:
            assert n == expr_new and c == expr_corpus
            assert len(n) > 0 and len(c) > 0
        else:
            expr_new, expr_corpus = n, c


def test_pq_nlist_derivation_and_gate_identity(spark):
    """nlist stays at the 16 pinned cells through every driver SF (the
    static ingest oracles depend on it), scales as a power of two past
    16×512 vectors, raises past the cap — and the derived quantizer at
    gate scale IS the pinned CENTROID_IDS set, vector for vector."""
    import pytest as _pytest

    from tests.conftest import SF_ORACLE

    assert sim.pq_nlist_for(1) == 16
    assert sim.pq_nlist_for(16 * sim.PQ_TARGET_CELL) == 16
    assert sim.pq_nlist_for(16 * sim.PQ_TARGET_CELL + 1) == 32
    assert sim.pq_nlist_for(199_000) == 512  # the ×32 probe scale
    assert sim.pq_nlist_for(sim.PQ_NLIST_CAP * sim.PQ_TARGET_CELL) == sim.PQ_NLIST_CAP
    with _pytest.raises(ValueError):
        sim.pq_nlist_for(sim.PQ_NLIST_CAP * sim.PQ_TARGET_CELL + 1)
    derived = sim.derived_quantizer_cells(spark, SF_ORACLE)
    pinned = sim._quantized_centroids(spark, SF_ORACLE)
    assert derived == pinned


def test_semantic_k_for_derivation():
    """Gate-scale corpora keep the oracle-pinned K=16; K scales as a
    power of two past 16×SEM_TARGET_CLUSTER vectors; past SEM_K_CAP the
    literal-centroid path refuses (the Bloom-m raise pattern)."""
    import pytest

    base = len(sim.CENTROID_IDS)
    # the three driver sfs (500 / 2,000 / 20,000 rows at sf0.001-0.1 ×
    # the ×32 probe): derivation must not disturb the pinned oracle K
    for n in (1, 500, 2000, base * sim.SEM_TARGET_CLUSTER):
        assert sim.semantic_k_for(n) == base, n
    assert sim.semantic_k_for(base * sim.SEM_TARGET_CLUSTER + 1) == base * 2
    assert sim.semantic_k_for(64_000) == 128  # the ×32 probe shape
    assert sim.semantic_k_for(640_000) == 2048  # ×320: GEMM-assigned
    assert (
        sim.semantic_k_for(sim.SEM_K_CAP * sim.SEM_TARGET_CLUSTER)
        == sim.SEM_K_CAP
    )
    with pytest.raises(ValueError, match="SEM_K_CAP"):
        sim.semantic_k_for(sim.SEM_K_CAP * sim.SEM_TARGET_CLUSTER + 1)


def test_gemm_assignment_matches_literal_fold(spark):
    """The beyond-ASSIGN_LITERAL_MAX_K GEMM assignment must agree with the
    oracle-exact literal fold on real data (ties are measure-zero on the
    fixture; the dispatch keeps the literal path wherever the oracle
    runs)."""
    from big_data_toolkit_spark.catalog import load_table
    from tests.conftest import SF_SMOKE

    q, cents = sim._lloyd(spark, SF_SMOKE)
    lit = {
        r["vec_id"]: r["cluster"]
        for r in sim._kmeans_assign(q, cents).select(
            "vec_id", "cluster"
        ).collect()
    }
    gemm = {
        r["vec_id"]: r["cluster"]
        for r in sim._kmeans_assign_gemm(q, cents).select(
            "vec_id", "cluster"
        ).collect()
    }
    assert lit == gemm
    # dispatch: beyond the literal cap is always the GEMM (Arrow plan)
    assert sim.kmeans_assign_auto(q, cents) is not None
    big = {i: cents[sorted(cents)[0]] for i in range(sim.ASSIGN_LITERAL_MAX_K + 1)}
    plan = (
        sim.kmeans_assign_auto(q, big)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ArrowEvalPython" in plan or "EvalPython" in plan


def test_kmeans_assign_arrow_exact_bitwise(spark, monkeypatch):
    """The default small-K Arrow assignment replays the literal fold's
    IEEE operation sequence, so it must agree with `_kmeans_assign`
    bit-for-bit on TRAINED (post-update, rational-double) centroids —
    a stronger claim than the GEMM's ties-are-measure-zero one — and
    the auto dispatch must flip plans with the flag."""
    from tests.conftest import SF_SMOKE

    q, cents = sim._lloyd(spark, SF_SMOKE)
    lit = {
        r["vec_id"]: r["cluster"]
        for r in sim._kmeans_assign(q, cents).select("vec_id", "cluster").collect()
    }
    arw = {
        r["vec_id"]: r["cluster"]
        for r in sim._kmeans_assign_arrow_exact(q, cents)
        .select("vec_id", "cluster")
        .collect()
    }
    assert lit == arw
    small_arrow = (
        sim.kmeans_assign_auto(q, cents)._jdf.queryExecution()
        .executedPlan().toString()
    )
    assert "EvalPython" in small_arrow  # default: Arrow path
    monkeypatch.setattr(sim, "KMEANS_ASSIGN_ARROW", False)
    small_expr = (
        sim.kmeans_assign_auto(q, cents)._jdf.queryExecution()
        .executedPlan().toString()
    )
    assert "EvalPython" not in small_expr  # flag restores the pure plan


def test_pair_dot_arrow_exact_bitwise(spark, monkeypatch):
    """The Arrow pair-verify dot replays `_dot`'s IEEE fold order, so on
    every real cross-pair of the smoke corpus (float32 storage, exact
    float64 conversion) the two paths must agree BIT-FOR-BIT — the same
    claim the kmeans ordered-fold assignment makes — and the auto
    dispatch must flip plans with the flag."""
    from tests.conftest import SF_SMOKE
    from big_data_toolkit_spark.catalog import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, SF_SMOKE, "embeddings").limit(40)
    a = emb.select(F.col("vec_id").alias("d1"), F.col("embedding").alias("e1"))
    b = emb.select(F.col("vec_id").alias("d2"), F.col("embedding").alias("e2"))
    pairs = a.crossJoin(b).where(F.col("d1") < F.col("d2"))
    both = pairs.select(
        "d1",
        "d2",
        sim._dot("e1", "e2").alias("lit"),
        sim.pair_dot_arrow_exact("e1", "e2").alias("arw"),
    ).collect()
    assert len(both) > 100
    for r in both:
        assert r["lit"] == r["arw"], (r["d1"], r["d2"])  # bitwise on doubles
    auto = pairs.select(sim.pair_dot_auto("e1", "e2").alias("d"))
    assert "EvalPython" in auto._jdf.queryExecution().executedPlan().toString()
    monkeypatch.setattr(sim, "PAIR_DOT_ARROW", False)
    expr = pairs.select(sim.pair_dot_auto("e1", "e2").alias("d"))
    assert (
        "EvalPython"
        not in expr._jdf.queryExecution().executedPlan().toString()
    )


def test_pair_dot_arrow_degenerate_inputs_match_expression(spark):
    """ADVICE r13: NULL arrays, ragged lengths, and NULL elements must
    yield NULL from BOTH dispatch paths (the r13 UDF raised on ragged
    batches and coerced element nulls to NaN). NaN payloads are the one
    documented DIVERGENCE: the Arrow boundary nulls NaN for double UDFs,
    and Spark orders NaN greatest, so expression-NaN passes a >=
    threshold where Arrow-NULL does not — call sites therefore require
    NaN-free embeddings (the engine's tables are finite by
    construction). This test pins both halves of that contract."""
    from pyspark.sql import functions as F

    rows = [
        (1, [1.0, 2.0], [3.0, 4.0]),       # clean
        (2, None, [1.0, 2.0]),             # NULL array
        (3, [1.0, 2.0, 5.0], [1.0, 2.0]),  # ragged
        (4, [1.0, None], [1.0, 2.0]),      # NULL element
        (6, [], []),                       # empty (fold seed: 0.0)
    ]
    df = spark.createDataFrame(rows, "id long, a array<double>, b array<double>")
    got = df.select(
        "id",
        sim._dot("a", "b").alias("lit"),
        sim.pair_dot_arrow_exact("a", "b").alias("arw"),
    ).collect()
    for r in got:
        assert r["lit"] == r["arw"] or (
            r["lit"] is None and r["arw"] is None
        ), (r["id"], r["lit"], r["arw"])
    # NaN payload: the documented divergence — expression NaN (ordered
    # greatest, passes >=) vs Arrow NULL (fails >=). If either half of
    # this pin moves (a Spark release that carries NaN across Arrow, or
    # changed NaN ordering), re-audit the dispatch contract.
    nan_df = spark.createDataFrame(
        [([float("nan"), 1.0], [1.0, 1.0])], "a array<double>, b array<double>"
    )
    r = nan_df.select(
        F.isnan(sim._dot("a", "b")).alias("lit_nan"),
        (sim._dot("a", "b") >= F.lit(0.0)).alias("lit_ge"),
        sim.pair_dot_arrow_exact("a", "b").alias("arw"),
    ).first()
    assert r["lit_nan"] and r["lit_ge"] and r["arw"] is None


def test_kmeans_assign_arrow_exact_tie_rule(spark):
    """EXACT distance ties break to the smallest cluster id on BOTH
    paths — the case the beyond-cap GEMM cannot guarantee but the
    ordered-fold Arrow path must: a point equidistant from two centroids
    (distances bit-equal by symmetry) assigns to the lower cid."""
    dim = sim.EMB_DIM
    q = spark.createDataFrame(
        [(1, [0.0] * dim, [0] * dim)],
        "vec_id long, embedding array<double>, qv array<bigint>",
    )
    cents = {7: [-1.0] + [0.0] * (dim - 1), 5: [1.0] + [0.0] * (dim - 1)}
    for fn in (sim._kmeans_assign, sim._kmeans_assign_arrow_exact):
        rows = fn(q, cents).select("cluster").collect()
        assert rows[0]["cluster"] == 5, fn.__name__


def test_with_pq_idx_arrow_matches_expression(spark):
    """The Arrow int64 code argmins equal the expression folds on every
    corpus row, and pass-through columns survive both paths."""
    from big_data_toolkit_spark.catalog import load_table
    from tests.conftest import SF_ORACLE

    donors = sim._pq_codebook(spark, SF_ORACLE)
    q = sim._quantize(load_table(spark, SF_ORACLE, "embeddings"))
    key = lambda df: sorted(  # noqa: E731
        (r["vec_id"], *[r[f"_pq_idx_{s}"] for s in range(sim.PQ_SUBSPACES)])
        for r in df.collect()
    )
    expr = key(sim._with_pq_idx(q, donors, arrow=False))
    arw = key(sim._with_pq_idx(q, donors, arrow=True))
    assert expr == arw and len(arw) > 0


def test_derived_quantizer_past_the_floor_is_one_job(spark, monkeypatch):
    """Past the 16-cell floor the quantizer is the nlist lowest vec_ids at
    or above CENTROID_IDS' start, each on the fixed-point grid, fetched
    by one job."""
    import numpy as np
    import pyarrow.parquet as pq

    from big_data_toolkit_spark.catalog import load_table, table_path
    from tests.conftest import count_jobs

    table = pq.read_table(table_path(SF_ORACLE, "embeddings")).to_pydict()
    emb = dict(zip(table["vec_id"], table["embedding"]))
    ids = sorted(i for i in emb if i >= sim.CENTROID_IDS[0])[:32]
    expected = {
        i: np.floor(np.asarray(emb[i], dtype=np.float64) * sim.KMEANS_QUANT)
        .astype(np.int64)
        .tolist()
        for i in ids
    }
    monkeypatch.setattr(sim, "pq_nlist_for", lambda n: 32)
    load_table(spark, SF_ORACLE, "embeddings")  # warm the schema cache
    derived, jobs = count_jobs(
        spark,
        "derived-quantizer-32",
        lambda: sim.derived_quantizer_cells(spark, SF_ORACLE),
    )
    assert derived == expected
    assert jobs == 1


def _lits_in_comprehensions(tree: ast.AST) -> list[int]:
    comps = (ast.ListComp, ast.SetComp, ast.DictComp, ast.GeneratorExp)
    return sorted(
        {
            node.lineno
            for comp in ast.walk(tree)
            if isinstance(comp, comps)
            for node in ast.walk(comp)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "lit"
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == "F"
        }
    )


def test_index_constants_are_not_built_one_literal_per_element():
    """An index-constant array built as ``F.array`` over ``F.lit``s pays
    several py4j calls per element; ``_int_array_sql`` parses the whole
    array as one SQL literal instead."""
    source = pathlib.Path(sim.__file__).read_text()
    assert _lits_in_comprehensions(ast.parse(source)) == []

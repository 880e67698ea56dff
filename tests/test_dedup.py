from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_toolkit_spark.operators import dedup
from tests.conftest import SF_ORACLE
from tests.oracle_utils import compare


@pytest.mark.parametrize("name", sorted(dedup.QUERIES))
def test_oracle_match(spark, name):
    df = dedup.QUERIES[name](spark, SF_ORACLE)
    compare(df, dedup.ORACLE_SQL[name], SF_ORACLE)


def test_near_dups_actually_found(spark):
    """TESTDATA plants near-duplicate docs; the detectors must find them."""
    jacc = dedup.dedup_ngram_jaccard(spark, SF_ORACLE)
    assert jacc.count() > 0


def test_minhash_recall_vs_exact(spark):
    """LSH candidates (verified) should recover ~all true Jaccard pairs."""
    exact = {
        (r["d1"], r["d2"]) for r in dedup.dedup_ngram_jaccard(spark, SF_ORACLE).collect()
    }
    lsh = {
        (r["d1"], r["d2"]) for r in dedup.dedup_minhash_lsh(spark, SF_ORACLE).collect()
    }
    assert lsh <= exact  # verify step guarantees no false positives
    assert len(lsh) >= 0.9 * len(exact)  # 4x4 banding @ j>=0.5: recall ~1


def test_simhash_no_udf_in_plan(spark):
    plan = (
        dedup.simhash_fingerprints(spark, SF_ORACLE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def _s64(x: int) -> int:
    """Python int → two's-complement signed 64-bit (Spark long)."""
    return x - (1 << 64) if x >= (1 << 63) else x


def test_simhash_banding_complete_for_hamming_3(spark):
    """Pigeonhole: any pair within hamming ≤ 3 must survive 4x16 banding."""
    import random

    rng = random.Random(7)
    rows, expected = [], set()
    for i in range(40):
        base = rng.getrandbits(64)
        twin = base
        for b in rng.sample(range(64), rng.randint(0, dedup.SIMHASH_MAX_HAMMING)):
            twin ^= 1 << b
        rows.append((2 * i, _s64(base)))
        rows.append((2 * i + 1, _s64(twin)))
        expected.add((2 * i, 2 * i + 1))
    fps = spark.createDataFrame(rows, "doc_id long, simhash long")
    found = {(r["d1"], r["d2"]) for r in dedup.simhash_pairs_from_fps(fps).collect()}
    assert expected <= found


def test_simhash_16bit_bands_bound_fanout(spark):
    """Adversarial corpus: every fingerprint shares the low byte of every
    8-bit block (the old 32-bit/8-bit banding would make ALL ~20k pairs
    candidates) but is unique per 16-bit band — candidate fan-out must be 0."""
    rows = []
    for i in range(200):
        band = ((i + 1) << 8) | 0x34  # low byte shared, high byte unique
        fp = 0
        for blk in range(dedup.SIMHASH_BANDS):
            fp |= band << (dedup.SIMHASH_BAND_BITS * blk)
        rows.append((i, _s64(fp)))
    fps = spark.createDataFrame(rows, "doc_id long, simhash long")
    assert dedup.simhash_candidates(fps).count() == 0


def test_ngram_dfcap_bounds_fanout(spark):
    """One stop-phrase shared by every doc: the df-cap must keep it out of
    the pair join (uncapped it alone creates n(n-1)/2 pairs)."""
    rows = [(i, "the quick fox") for i in range(100)] + [
        (i, f"uniq shingle {i}") for i in range(100)
    ]
    sh = spark.createDataFrame(rows, "doc_id long, shingle string")
    assert dedup._jaccard_pairs(sh, max_shingle_df=10).count() == 0
    assert dedup._jaccard_pairs(sh, max_shingle_df=1000).count() == 100 * 99 // 2


def test_ngram_no_broadcast_hint(spark):
    """The per-doc sizes table grows with the corpus — it must not carry a
    broadcast hint (AQE decides the join strategy from runtime stats)."""
    plan = (
        dedup.dedup_ngram_jaccard(spark, SF_ORACLE)
        ._jdf.queryExecution()
        .analyzed()
        .toString()
    )
    assert "ResolvedHint" not in plan


def test_emb_banding_bounds_fanout(spark):
    """Adversarial signatures: every vector shares its 8-bit prefix with 15
    others (the old single 8-bit bucket scheme made ~1.5k candidate pairs of
    this fixture), but every full 12-bit band is unique — banded candidates
    must be 0. Positive control: a band shared by all → all pairs."""
    uniq = [(i, format(i, "012b") * 2) for i in range(200)]
    sigs = spark.createDataFrame(uniq, "vec_id long, bits string")
    assert dedup.emb_band_candidates(sigs).count() == 0

    shared = [(i, "101010101010" + format(i, "012b")) for i in range(50)]
    sigs = spark.createDataFrame(shared, "vec_id long, bits string")
    assert dedup.emb_band_candidates(sigs).count() == 50 * 49 // 2


def test_embedding_lsh_subset_of_exact(spark):
    exact = {(r["d1"], r["d2"]): r["cos"]
             for r in dedup.dedup_embedding_cosine(spark, SF_ORACLE).collect()}
    lsh = {(r["d1"], r["d2"]): r["cos"]
           for r in dedup.dedup_embedding_lsh(spark, SF_ORACLE).collect()}
    assert set(lsh) <= set(exact)  # blocking never fabricates pairs
    for k, v in lsh.items():
        assert v == exact[k]


def test_embedding_ivf_recall_vs_exact(spark):
    """IVF blocking must keep useful recall at the moderate (0.45) threshold
    where sign-bit banding finds ~nothing: subset of exact + recall ≥ 0.5."""
    exact = {(r["d1"], r["d2"]): r["cos"]
             for r in dedup.dedup_embedding_cosine(spark, SF_ORACLE).collect()}
    ivf = {(r["d1"], r["d2"]): r["cos"]
           for r in dedup.dedup_embedding_ivf(spark, SF_ORACLE).collect()}
    assert set(ivf) <= set(exact)
    assert len(ivf) >= 0.5 * len(exact)
    for k, v in ivf.items():
        assert v == exact[k]


def test_components_equal_transitive_closure(spark):
    """Fixed-iteration label propagation must reach the TRUE connected
    components at sf0.01 (validates CC_ITERS ≥ cluster diameter, beyond
    the structural oracle match which would also pass pre-convergence)."""
    pairs = [(r["d1"], r["d2"])
             for r in dedup.dedup_minhash_lsh(spark, SF_ORACLE).collect()]
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    truth = {d: min(x for x in parent if find(x) == find(d)) for d in parent}
    got = {r["doc_id"]: r["component"]
           for r in dedup.dedup_components(spark, SF_ORACLE).collect()}
    assert got == truth


def _min_prop_rounds(pairs: list, rounds: int) -> dict:
    """Pure-Python replica of the fixed-round min-label propagation the
    unrolled oracle CTE computes (NOT full convergence)."""
    adj: dict = {}
    for a, b in pairs:
        adj.setdefault(a, set()).update({a, b})
        adj.setdefault(b, set()).update({a, b})
    labels = {v: v for v in adj}
    for _ in range(rounds):
        labels = {v: min(labels[u] for u in adj[v]) for v in adj}
    return labels


def test_components_early_exit_equals_fixed_rounds(spark):
    """Convergence early exit: the observed stop must return
    EXACTLY the fixed CC_ITERS-round result in both regimes — a star graph
    that converges in round 0 (the exit fires at the first probe) and a
    long path whose diameter exceeds CC_ITERS (the exit must NOT fire
    early, and the pre-convergence labels must still equal the unrolled
    oracle's fixed-round labels)."""
    star = [(50, 51), (50, 52), (50, 53), (50, 54)]
    chain = [(i, i + 1) for i in range(100, 112)]  # diameter 12 > CC_ITERS
    for raw in (star, chain, star + chain):
        pairs = spark.createDataFrame(raw, "d1 long, d2 long")
        got = {
            r["doc_id"]: r["component"]
            for r in dedup.dedup_components(
                spark, SF_ORACLE, pairs=pairs
            ).collect()
        }
        assert got == _min_prop_rounds(raw, dedup.CC_ITERS)


def test_star_components_matches_propagation_on_real_pairs(spark):
    """On the sf-oracle MinHash pair graph (shallow clusters, both methods
    fully converged) alternating-star must equal min-label propagation."""
    pairs = dedup.dedup_minhash_lsh(spark, SF_ORACLE).select("d1", "d2")
    via_star = {
        (r["doc_id"], r["component"])
        for r in dedup.star_components(spark, pairs).collect()
    }
    via_prop = {
        (r["doc_id"], r["component"])
        for r in dedup.dedup_components(spark, SF_ORACLE).collect()
        if r["doc_id"] in {d for d, _ in via_star}
    }
    assert via_star == via_prop


def test_star_components_converges_past_propagation_diameter(spark):
    """A 41-node path graph has diameter 40 — far beyond CC_ITERS=6 rounds
    of label propagation — and alternating-star must still fully converge
    (every node labeled 0) well inside its O(log^2 n) bound."""
    n = 41
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "d1 long, d2 long"
    )
    got = {
        (r["doc_id"], r["component"])
        for r in dedup.star_components(spark, pairs).collect()
    }
    assert got == {(i, 0) for i in range(n)}


def test_star_components_multiple_components(spark):
    pairs = spark.createDataFrame(
        [(10, 11), (11, 12), (20, 21), (30, 31), (31, 30)],
        "d1 long, d2 long",
    )
    got = {
        (r["doc_id"], r["component"])
        for r in dedup.star_components(spark, pairs).collect()
    }
    assert got == {
        (10, 10), (11, 10), (12, 10),
        (20, 20), (21, 20),
        (30, 30), (31, 30),
    }


def test_star_components_random_graphs_vs_union_find(spark):
    """Randomized cross-check: star components on random graphs must equal
    a plain Python union-find (fixed seeds, varied density and node count)."""
    import random

    def union_find(n_nodes, edge_list):
        parent = list(range(n_nodes))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edge_list:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # fully compress, then label each node with its component min
        roots = {}
        for v in range(n_nodes):
            roots.setdefault(find(v), []).append(v)
        return {
            v: min(members) for members in roots.values() for v in members
        }

    for seed, n, m in [(1, 30, 15), (2, 50, 60), (3, 80, 40)]:
        rng = random.Random(seed)
        edge_list = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(m)
        ]
        edge_list = [(a, b) for a, b in edge_list if a != b]
        pairs = spark.createDataFrame(edge_list, "d1 long, d2 long")
        got = {
            r["doc_id"]: r["component"]
            for r in dedup.star_components(spark, pairs).collect()
        }
        expected_all = union_find(n, edge_list)
        touched = {v for e in edge_list for v in e}
        expected = {v: expected_all[v] for v in touched}
        assert got == expected, f"seed={seed}"


def test_star_components_raises_on_round_exhaustion(spark, monkeypatch):
    """Exhausting STAR_MAX_ROUNDS must raise, never return possibly-wrong
    labels (the ADVICE r5 fail-loud guarantee)."""
    import pytest as _pytest

    monkeypatch.setattr(dedup, "STAR_MAX_ROUNDS", 0)
    pairs = spark.createDataFrame([(1, 2), (2, 3)], ["d1", "d2"])
    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup.star_components(spark, pairs).collect()


def test_kcore_raises_on_round_exhaustion(spark, monkeypatch):
    """A triangle with the path 3-4-5-6 hanging off it peels one path node
    per round and needs a fourth round to see the edge count hold, so two
    rounds must raise rather than return an unpeeled core."""
    import pytest as _pytest

    from big_data_toolkit_spark.operators import pagerank as pr

    monkeypatch.setattr(pr, "KCORE_MAX_ROUNDS", 2)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6)], ["d1", "d2"]
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        pr.kcore_subgraph(spark, "", pairs=pairs)


def test_span_dedup_drops_repeats(spark):
    """The corpus carries repeated token spans (near-dup docs share aligned
    passages), so dedup must actually remove occurrences, and exactly one
    occurrence of every distinct span must survive."""
    from big_data_toolkit_spark.functions.text import tokenize

    docs = dedup.load_table(spark, SF_ORACLE, "documents")
    total = (
        docs.select("doc_id", tokenize("text").alias("t"))
        .select(F.posexplode(F.expr(dedup._SPAN_CHUNKS)).alias("pos", "span"))
        .where(F.col("span") != "")
    )
    n_total = total.count()
    n_distinct = total.select("span").distinct().count()
    kept = dedup.span_dedup(spark, SF_ORACLE)
    n_kept = kept.agg(F.sum("n_kept")).collect()[0][0]
    assert n_distinct < n_total, "corpus should contain duplicate spans"
    assert n_kept == n_distinct


def test_semantic_dedup_decision_table(spark):
    """Drops actually occur at this threshold, every vector gets a decision,
    and a cluster's minimum vec_id can never be dropped (it has no lower-id
    witness)."""
    out = dedup.semantic_dedup(spark, SF_ORACLE).cache()
    try:
        n_emb = dedup.load_table(spark, SF_ORACLE, "embeddings").count()
        assert out.count() == n_emb
        assert out.where(~F.col("kept")).count() > 0
        min_dropped = (
            out.groupBy("cluster")
            .agg(F.min("vec_id").alias("vec_id"))
            .join(out.where(~F.col("kept")), ["cluster", "vec_id"])
            .count()
        )
        assert min_dropped == 0
    finally:
        out.unpersist()


def test_semantic_dedup_sharded_one_cell_equals_flat(spark):
    """A 1-cell quantizer must reproduce the flat ``semantic_dedup``
    bit-for-bit: the sharded form reuses the same ``_lloyd_q`` /
    ``_semantic_decide`` machinery per slice, so sharding is pure
    routing — the equality gate the SEM_K_CAP escape hatch rests on.
    (On the contiguous-id fixture the slice's derived seeding resolves
    to the same CENTROID_IDS seed set as the flat path's pinned one.)"""
    from big_data_toolkit_spark.operators.similarity import EMB_DIM

    one_cell = {0: [0] * EMB_DIM}
    sharded = dedup.semantic_dedup_sharded(spark, SF_ORACLE, cents_q=one_cell)
    assert sharded.select("cell").distinct().collect()[0]["cell"] == 0
    got = sorted(
        (r["vec_id"], r["cluster"], r["kept"])
        for r in sharded.select("vec_id", "cluster", "kept").collect()
    )
    want = sorted(
        (r["vec_id"], r["cluster"], r["kept"])
        for r in dedup.semantic_dedup(spark, SF_ORACLE).collect()
    )
    assert got == want


def test_semantic_dedup_sharded_partitions_and_prunes(spark):
    """Real 16-cell quantizer: the shard union is a PARTITION of the
    corpus (every vector decided exactly once), drops occur, and no
    (cell, cluster) minimum vec_id is ever dropped — the flat
    decision-table invariants, per shard."""
    out = dedup.semantic_dedup_sharded(spark, SF_ORACLE).cache()
    try:
        n_emb = dedup.load_table(spark, SF_ORACLE, "embeddings").count()
        assert out.count() == n_emb
        assert out.select("vec_id").distinct().count() == n_emb
        assert out.select("cell").distinct().count() > 1
        assert out.where(~F.col("kept")).count() > 0
        min_dropped = (
            out.groupBy("cell", "cluster")
            .agg(F.min("vec_id").alias("vec_id"))
            .join(out.where(~F.col("kept")), ["cell", "cluster", "vec_id"])
            .count()
        )
        assert min_dropped == 0
    finally:
        out.unpersist()


def test_span_dedup_no_window_operator(spark):
    """Winner selection must be the partial-aggregated groupBy(span).min,
    never a window sort over span text."""
    plan = (
        dedup.span_dedup(spark, SF_ORACLE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan
    assert "partial_min" in plan


def test_cross_source_leakage_is_cross_source_only(spark):
    """Every reported source pair is genuinely cross-source and canonically
    ordered; counts reconcile with the labeled pair set."""
    from pyspark.sql import functions as F

    from big_data_toolkit_spark.catalog import load_table

    rows = dedup.cross_source_leakage(spark, SF_ORACLE).collect()
    assert rows  # the synthetic corpus duplicates across sources
    for r in rows:
        assert r["source_a"] < r["source_b"]
        assert 0.0 < r["max_jaccard"] <= 1.0
    docs = {
        r["doc_id"]: r["source"]
        for r in load_table(spark, SF_ORACLE, "documents")
        .select("doc_id", "source")
        .collect()
    }
    pairs = dedup.dedup_minhash_lsh(spark, SF_ORACLE).collect()
    expect = sum(1 for p in pairs if docs[p["d1"]] != docs[p["d2"]])
    assert sum(r["n_pairs"] for r in rows) == expect


def test_duplicate_ngram_spans_overlap_semantics(spark):
    """A passage duplicated across two docs must be flagged at EVERY token
    offset it covers in both docs (stride-1 overlap — the property that
    separates exact-substring detection from span_dedup's chunking); a doc
    shorter than the window emits nothing; unique text is never flagged."""
    from pyspark.sql import Row

    W = dedup.DUP_NGRAM_W
    # the pinned tokenizer splits on non-LETTER runs (digits vanish), so
    # fixture tokens must be distinct alphabetic words
    def words(prefix, n):
        return " ".join(f"{prefix}{'abcdefghijklmnopqrstuvwxyz'[i]}" for i in range(n))

    shared = words("tok", W + 3)  # W+3 distinct tokens
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=f"alpha beta {shared} gamma"),
            Row(doc_id=2, text=f"{shared} delta epsilon"),
            Row(doc_id=3, text="just a short one"),  # < W tokens
            Row(doc_id=4, text=words("uniq", W + 5)),
        ]
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        docs.write.parquet(f"{d}/documents.parquet")
        out = dedup.duplicate_ngram_spans(spark, d).collect()
    by_doc: dict[int, set[int]] = {}
    for r in out:
        assert r["n_occurrences"] >= 2
        by_doc.setdefault(r["doc_id"], set()).add(r["pos"])
    # doc1: shared starts at token 2; shared has W+3 tokens -> 4 full
    # windows inside it, at offsets 2..5. doc2: offsets 0..3.
    assert by_doc.get(1) == {2, 3, 4, 5}
    assert by_doc.get(2) == {0, 1, 2, 3}
    assert 3 not in by_doc and 4 not in by_doc


def test_remove_duplicate_spans_cuts_later_occurrence_only(spark):
    """First occurrence (minimum doc_id, pos) survives untouched; the later
    doc loses exactly the duplicated passage (union of its overlapping
    flagged windows); unique and short docs pass through whole."""
    from pyspark.sql import Row

    W = dedup.DUP_NGRAM_W

    def words(prefix, n):
        return " ".join(
            f"{prefix}{'abcdefghijklmnopqrstuvwxyz'[i]}" for i in range(n)
        )

    shared = words("tok", W + 3)
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=f"alpha beta {shared} gamma"),
            Row(doc_id=2, text=f"{shared} delta epsilon"),
            Row(doc_id=3, text="just a short one"),
            Row(doc_id=4, text=words("uniq", W + 5)),
        ]
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        docs.write.parquet(f"{d}/documents.parquet")
        out = {r["doc_id"]: r for r in
               dedup.remove_duplicate_spans(spark, d).collect()}
    assert out[1]["n_tokens_kept"] == (W + 3) + 3  # untouched (first occ.)
    assert out[1]["clean_text"] == f"alpha beta {shared} gamma"
    assert out[2]["n_tokens_kept"] == 2
    assert out[2]["clean_text"] == "delta epsilon"
    assert out[3]["n_tokens_kept"] == 4
    assert out[4]["n_tokens_kept"] == W + 5


def test_bloom_incremental_equals_exact_plan(spark):
    """The Bloom prefilter must not change the RESULT — identical survivor
    sets to dedup_incremental (zero false negatives by construction)."""
    exact = {
        (r["doc_id"], r["content_md5"])
        for r in dedup.dedup_incremental(spark, SF_ORACLE).collect()
    }
    bloom = {
        (r["doc_id"], r["content_md5"])
        for r in dedup.dedup_incremental_bloom(spark, SF_ORACLE).collect()
    }
    assert bloom == exact
    assert exact, "fixture must have survivors"


def test_bloom_prefilter_actually_prunes(spark):
    """The point of the Bloom pass: most definitely-new docs must skip the
    exact join. With m=2^20 and kn << m, the false-positive rate is tiny,
    so bloom-positive count ~= true-dup count (+ a sliver)."""
    from big_data_toolkit_spark.catalog import load_table
    from big_data_toolkit_spark.functions.text import tokenize

    docs = load_table(spark, SF_ORACLE, "documents")
    fp = docs.select(
        "doc_id",
        F.md5(
            F.concat_ws(" ", F.array_sort(F.array_distinct(tokenize("text"))))
        ).alias("content_md5"),
    )
    is_new = F.col("doc_id") % dedup.NEW_BATCH_MOD == dedup.NEW_BATCH_MOD - 1
    n_new = fp.where(is_new).count()
    survivors = dedup.dedup_incremental(spark, SF_ORACLE).count()
    true_dups = n_new - survivors
    # replicate the bloom-positive count from the operator's own pieces,
    # including its auto-sized m
    existing = fp.where(~is_new).select("content_md5").distinct()
    import numpy as np

    m = dedup.bloom_m_for(existing.count())
    pos = np.array(
        [
            r["p"]
            for r in existing.select(
                F.explode(
                    dedup._bloom_position_array("content_md5", m)
                ).alias("p")
            )
            .distinct()
            .collect()
        ],
        dtype=np.int64,
    )
    bitmap = np.zeros(m, dtype=bool)
    bitmap[pos] = True
    new_rows = fp.where(is_new).select(
        dedup._bloom_position_array("content_md5", m).alias("bpos")
    ).collect()
    hits = sum(1 for r in new_rows if all(bitmap[p] for p in r["bpos"]))
    false_pos = hits - true_dups
    assert false_pos >= 0
    # kn/m ~ 2e-3 here -> fp rate ~ (kn/m)^k is ~0; allow a generous 5%
    assert false_pos <= max(1, int(0.05 * n_new)), (false_pos, n_new)


def test_bloom_m_auto_sizing():
    """m grows with the corpus so fill stays <= 10% (fp ~ 1e-5): floor at
    2^20 for small corpora, next power of two covering k*n/-ln(0.9)
    above, and FAIL LOUD past the 2^27 single-broadcast cap (pointing at
    the sharded form) — never a silent saturation."""
    import math

    assert dedup.bloom_m_for(0) == dedup.BLOOM_M_MIN
    assert dedup.bloom_m_for(10_000) == dedup.BLOOM_M_MIN
    for n in (50_000, 500_000, 2_000_000):
        m = dedup.bloom_m_for(n)
        assert m <= dedup.BLOOM_M_MAX
        fill = 1 - math.exp(-dedup.BLOOM_K * n / m)
        assert fill <= 0.10 + 1e-9, (n, m, fill)
        # minimal: half the bitmap would overfill (unless at the floor)
        if m > dedup.BLOOM_M_MIN:
            half_fill = 1 - math.exp(-dedup.BLOOM_K * n / (m // 2))
            assert half_fill > 0.10, (n, m, half_fill)
    with pytest.raises(ValueError, match="sharded"):
        dedup.bloom_m_for(10**9)


def test_bloom_positions_respect_m(spark):
    """Kirsch-Mitzenmacher positions stay in [0, m) for every m in the
    auto-size range, and distinct fingerprints spread across the space
    (no degenerate clustering from the double-hash form)."""
    fps = spark.createDataFrame(
        [(f"fingerprint-{i}",) for i in range(200)], ["content_md5"]
    )
    for m in (dedup.BLOOM_M_MIN, 1 << 23, dedup.BLOOM_M_MAX):
        rows = fps.select(
            F.explode(
                dedup._bloom_position_array("content_md5", m)
            ).alias("p")
        ).collect()
        ps = [r["p"] for r in rows]
        assert len(ps) == 200 * dedup.BLOOM_K
        assert all(0 <= p < m for p in ps), (m, min(ps), max(ps))
        # 1000 draws over >=2^20 slots should be essentially collision-free
        assert len(set(ps)) > 0.99 * len(ps)


def test_bloom_incremental_empty_corpus(spark):
    """Empty existing corpus -> empty bitmap -> every new doc is
    definitely-new and the exact join sees zero rows."""
    from big_data_toolkit_spark.catalog import load_table

    docs = load_table(spark, SF_ORACLE, "documents")
    # restrict to the new batch only by filtering the table into a temp view
    only_new = docs.where(
        F.col("doc_id") % dedup.NEW_BATCH_MOD == dedup.NEW_BATCH_MOD - 1
    )
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        sf = os.path.join(td)
        only_new.write.parquet(os.path.join(sf, "documents.parquet"))
        out = dedup.dedup_incremental_bloom(spark, sf)
        n = out.count()
        assert n == only_new.count()


def test_bloom_sharded_equals_broadcast_form(spark):
    """The partitioned Bloom changes only the plan: survivors must equal
    both the broadcast-bitmap form and the plain incremental op, and the
    membership test must run as a COGROUP (no bitmap broadcast) — the
    beyond-broadcast-cap design actually exercised."""
    sharded = dedup.dedup_incremental_bloom_sharded(spark, SF_ORACLE)
    plan = sharded._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan, plan
    rows = lambda df: sorted(  # noqa: E731
        (r["doc_id"], r["content_md5"]) for r in df.collect()
    )
    got = rows(sharded)
    assert got == rows(dedup.dedup_incremental_bloom(spark, SF_ORACLE))
    assert got == rows(dedup.dedup_incremental(spark, SF_ORACLE))


def test_bloom_shard_table_shape(spark):
    """Shard bitmaps: ≤ BLOOM_SHARDS rows, every bitmap exactly m/8 bytes,
    every set position attributable to that shard's own fingerprints."""
    import numpy as np

    from big_data_toolkit_spark.catalog import load_table
    from big_data_toolkit_spark.functions.text import tokenize

    docs = load_table(spark, SF_ORACLE, "documents")
    fp = docs.select(
        F.md5(
            F.concat_ws(" ", F.array_sort(F.array_distinct(tokenize("text"))))
        ).alias("content_md5")
    ).distinct()
    m = dedup.bloom_m_for(-(-fp.count() // dedup.BLOOM_SHARDS))
    tbl = dedup.bloom_shard_table(spark, fp, m).collect()
    assert 0 < len(tbl) <= dedup.BLOOM_SHARDS
    expected = {}
    for r in fp.select(
        dedup._bloom_shard_col("content_md5").alias("s"),
        dedup._bloom_position_array("content_md5", m).alias("pos"),
    ).collect():
        expected.setdefault(r["s"], set()).update(r["pos"])
    for r in tbl:
        bits = np.unpackbits(
            np.frombuffer(bytes(r["bitmap"]), dtype=np.uint8)
        ).astype(bool)
        assert len(bits) == m
        assert set(np.flatnonzero(bits).tolist()) == expected[r["shard"]]


def test_leakage_safe_split_no_straddling_pairs(spark):
    """The op's defining guarantee: NO near-dup pair straddles a split
    boundary (both members share the component, components share the
    split); every doc is assigned; fractions land near 80/10/10."""
    split = {
        r["doc_id"]: (r["component"], r["split"])
        for r in dedup.leakage_safe_split(spark, SF_ORACLE).collect()
    }
    from big_data_toolkit_spark.catalog import load_table

    n_docs = load_table(spark, SF_ORACLE, "documents").count()
    assert len(split) == n_docs
    pairs = dedup.dedup_minhash_lsh(spark, SF_ORACLE).collect()
    assert pairs, "fixture must contain near-dup pairs"
    for r in pairs:
        c1, s1 = split[r["d1"]]
        c2, s2 = split[r["d2"]]
        assert c1 == c2 and s1 == s2, (r["d1"], r["d2"], s1, s2)
    from collections import Counter

    frac = Counter(s for _, s in split.values())
    assert 0.6 * n_docs < frac["train"] < 0.95 * n_docs
    assert frac["val"] > 0 and frac["test"] > 0


def test_keep_canonical_exactly_one_per_component(spark):
    """Survivor semantics: every doc assigned, EXACTLY one kept member
    per component, the kept member is the component minimum, and every
    near-dup pair loses at least one member."""
    rows = dedup.dedup_keep_canonical(spark, SF_ORACLE).collect()
    from big_data_toolkit_spark.catalog import load_table

    assert len(rows) == load_table(spark, SF_ORACLE, "documents").count()
    by_comp: dict = {}
    for r in rows:
        by_comp.setdefault(r["component"], []).append(r)
    for comp, members in by_comp.items():
        kept = [r for r in members if r["kept"]]
        assert len(kept) == 1, (comp, members)
        assert kept[0]["doc_id"] == comp == min(r["doc_id"] for r in members)
    flags = {r["doc_id"]: r["kept"] for r in rows}
    pairs = dedup.dedup_minhash_lsh(spark, SF_ORACLE).collect()
    assert pairs
    for p in pairs:
        assert not (flags[p["d1"]] and flags[p["d2"]]), (p["d1"], p["d2"])


def test_keep_best_keeps_highest_quality_per_component(spark):
    """Quality-ordered survivor semantics: every doc assigned, exactly
    one kept member per component, the kept member has the component's
    MAX rounded quality (ties to the smaller doc_id), and every near-dup
    pair loses at least one member. On a corpus with real near-dup
    clusters the best member must differ from the canonical minimum for
    at least one cluster somewhere — otherwise the op degenerates."""
    rows = dedup.dedup_keep_best(spark, SF_ORACLE).collect()
    from big_data_toolkit_spark.catalog import load_table

    assert len(rows) == load_table(spark, SF_ORACLE, "documents").count()
    by_comp: dict = {}
    for r in rows:
        by_comp.setdefault(r["component"], []).append(r)
    for comp, members in by_comp.items():
        kept = [r for r in members if r["kept"]]
        assert len(kept) == 1, (comp, members)
        best = min(members, key=lambda r: (-r["quality"], r["doc_id"]))
        assert kept[0]["doc_id"] == best["doc_id"], (comp, members)
    flags = {r["doc_id"]: r["kept"] for r in rows}
    pairs = dedup.dedup_minhash_lsh(spark, SF_ORACLE).collect()
    assert pairs
    for p in pairs:
        assert not (flags[p["d1"]] and flags[p["d2"]]), (p["d1"], p["d2"])
    # same component structure as the canonical variant, kept counts equal
    canon = dedup.dedup_keep_canonical(spark, SF_ORACLE).collect()
    assert {r["doc_id"]: r["component"] for r in canon} == {
        r["doc_id"]: r["component"] for r in rows
    }
    assert sum(r["kept"] for r in canon) == sum(r["kept"] for r in rows)


def test_bloom_shard_margin_covers_md5_skew():
    """The 20% per-shard sizing margin (prose-asserted until r12): md5
    sharding over realistic populations never loads a shard past
    mean × 1.2 at the scales where the margin matters (per-shard mean ≥
    ~10k — near the broadcast cap, which is exactly when the sharded
    form is the right choice). Max-of-16-binomials at that mean sits
    ~4σ ≈ 4% over mean, far inside the 20% margin."""
    import hashlib

    n, shards = 200_000, dedup.BLOOM_SHARDS
    for seed in range(3):
        counts = [0] * shards
        for i in range(n):
            fp = hashlib.md5(f"doc-{seed}-{i}".encode()).hexdigest()
            counts[int(hashlib.md5(fp.encode()).hexdigest()[30:32], 16)
                   % shards] += 1
        assert max(counts) <= 1.2 * n / shards, (seed, max(counts))


def test_bloom_sharded_exact_under_planted_skew(spark):
    """Adversarially plant EVERY fingerprint in one shard (texts mined so
    md5(fingerprint) hex chars 31-32 ≡ shard 0): the loaded shard's fill
    blows past the sizing target, but the output must stay EXACT — the
    margin tunes the false-positive rate, never correctness (Bloom
    positives always re-check against the exact anti-join)."""
    import hashlib
    import os
    import tempfile

    def shard_of(text: str) -> int:
        toks = sorted(set(t for t in __import__("re").split(
            "[^a-zA-Z]+", text.lower()) if t))
        fp = hashlib.md5(" ".join(toks).encode()).hexdigest()
        return int(hashlib.md5(fp.encode()).hexdigest()[30:32], 16) \
            % dedup.BLOOM_SHARDS

    def alpha(i: int) -> str:
        # tokenizer drops non-letters, so salts must be alphabetic
        s = ""
        i += 1
        while i:
            s += chr(ord("a") + i % 26)
            i //= 26
        return s

    def mine(base: str) -> str:
        for i in range(10_000):
            t = f"{base} salt{alpha(i)}"
            if shard_of(t) == 0:
                return t
        raise AssertionError("mining failed")

    # 20 corpus docs (10 distinct contents x2 copies), delta = 10 docs:
    # 5 exact dups of corpus contents + 5 genuinely new
    contents = [
        mine(f"planted skew corpus text number {alpha(j)}") for j in range(10)
    ]
    fresh = [
        mine(f"planted skew brand new text number {alpha(j)}")
        for j in range(5)
    ]
    rows = []
    did = 0
    for c in contents:  # corpus: ids with doc_id % MOD != MOD-1
        for _ in range(2):
            while did % dedup.NEW_BATCH_MOD == dedup.NEW_BATCH_MOD - 1:
                did += 1
            rows.append((did, c))
            did += 1
    delta_ids = []
    did = dedup.NEW_BATCH_MOD - 1
    for j, c in enumerate(contents[:5] + fresh):  # delta ids ≡ MOD-1
        rows.append((did, c))
        delta_ids.append((did, c))
        did += dedup.NEW_BATCH_MOD
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with tempfile.TemporaryDirectory() as td:
        df.write.parquet(os.path.join(td, "documents.parquet"))
        got = sorted(
            r["doc_id"]
            for r in dedup.dedup_incremental_bloom_sharded(spark, td).collect()
        )
        want = sorted(
            r["doc_id"]
            for r in dedup.dedup_incremental(spark, td).collect()
        )
        assert got == want
        # the planted-new docs survive, the planted dups do not
        assert set(got) == {d for d, c in delta_ids if c in fresh}

from __future__ import annotations

import duckdb
import numpy as np
import pytest

from big_data_toolkit_spark.operators import pagerank as pr
from tests.conftest import SF_SMOKE


def _numpy_ppr(edges, sources, alpha, iters):
    """Straight NumPy replica of a4/RunPersonalizedPageRankBasic semantics."""
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    out = {i: [] for i in range(n)}
    for s, d in edges:
        out[idx[s]].append(idx[d])
    rank = np.zeros(n)
    src_idx = [idx[s] for s in sources]
    for i in src_idx:
        rank[i] = 1.0 / len(sources)
    for _ in range(iters):
        incoming = np.zeros(n)
        dangling = 0.0
        for i in range(n):
            if out[i]:
                share = rank[i] / len(out[i])
                for j in out[i]:
                    incoming[j] += share
            else:
                dangling += rank[i]
        new = (1 - alpha) * incoming
        for i in src_idx:
            new[i] += (1 - alpha) * dangling / len(sources) + alpha / len(sources)
        rank = new
    return {nodes[i]: rank[i] for i in range(n)}


def test_matches_numpy_replica(spark):
    edges_df = pr.derive_graph(spark, SF_SMOKE)
    edges = [(r["src"], r["dst"]) for r in edges_df.collect()]
    expected = _numpy_ppr(edges, pr.DEFAULT_SOURCES, pr.ALPHA, pr.DEFAULT_ITERS)

    got = {
        r["node"]: r["rank"]
        for r in pr.personalized_pagerank(spark, edges_df).collect()
    }
    assert got.keys() == expected.keys()
    for node, val in expected.items():
        assert got[node] == pytest.approx(val, abs=1e-9), f"node {node}"


def test_dangling_and_teleport_mass_conservation(spark):
    """Total rank stays ~1: dangling mass is recycled to sources, teleport
    adds alpha; with everything linear, sum(rank) == 1 each iteration."""
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 1)], ["src", "dst"]
    )  # node 3 dangles
    ranks = pr.personalized_pagerank(spark, df, sources=(1,), iters=5)
    total = sum(r["rank"] for r in ranks.collect())
    assert total == pytest.approx(1.0, abs=1e-9)


def test_no_cache_leak(spark):
    """Library callers must not accrete executor storage: every DataFrame
    personalized_pagerank caches internally is unpersisted before return."""
    spark.catalog.clearCache()
    df = spark.createDataFrame([(1, 2), (2, 3), (4, 1)], ["src", "dst"])
    ranks = pr.personalized_pagerank(spark, df, sources=(1,), iters=5)
    ranks.collect()
    cached = spark.sparkContext._jsc.getPersistentRDDs()  # java.util.Map
    # localCheckpoint RDDs are reclaimed by GC, not tracked as user caches;
    # what must be gone are the cache()d node_deg/base/wedges DataFrames.
    leaked = [
        str(rdd)
        for rdd in cached.values()
        if "localcheckpoint" not in str(rdd).lower()
    ]
    assert not leaked, f"leaked cached RDDs: {leaked}"


def test_top20_shape(spark):
    out = pr.pagerank_top20(spark, SF_SMOKE)
    rows = out.collect()
    assert len(rows) == 20
    vals = [r["rank"] for r in rows]
    assert vals == sorted(vals, reverse=True)


def test_pagerank_oracle_parity(spark):
    """The unrolled-CTE DuckDB oracle reproduces pagerank_top20 exactly
    (after the 6-decimal rounding both sides apply)."""
    from tests.oracle_utils import compare

    compare(
        pr.pagerank_top20(spark, SF_SMOKE),
        pr.ORACLE_SQL["pagerank_top20"],
        SF_SMOKE,
    )


def test_triangle_count_oracle(spark):
    from tests.conftest import SF_ORACLE
    from tests.oracle_utils import compare

    compare(
        pr.triangle_count(spark, SF_ORACLE),
        pr.ORACLE_SQL["triangle_count"],
        SF_ORACLE,
    )


def test_triangle_count_matches_python_enumeration(spark):
    """Ground truth: enumerate triangles of the near-dup graph in Python."""
    from itertools import combinations

    from big_data_toolkit_spark.operators.dedup import dedup_minhash_lsh
    from tests.conftest import SF_ORACLE

    edges = {
        (r["d1"], r["d2"])
        for r in dedup_minhash_lsh(spark, SF_ORACLE).collect()
    }
    adj: dict = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    truth = sum(
        1
        for a in adj
        for b, c in combinations(sorted(adj[a]), 2)
        if a < b and (b, c) in edges
    )
    row = pr.triangle_count(spark, SF_ORACLE).collect()[0]
    assert row["n_triangles"] == truth
    assert truth > 0, "near-dup clusters should contain triangles"


def test_kcore_peels_tendrils_keeps_triangle(spark):
    """Ground truth on a hand-built graph: a triangle with a 3-node path
    hanging off it. The path (degrees 1) peels away transitively; the
    triangle survives with every core degree exactly 2."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6)], ["d1", "d2"]
    )
    core = pr.kcore_subgraph(spark, "", pairs=pairs).collect()
    assert {r["doc_id"]: r["core_deg"] for r in core} == {1: 2, 2: 2, 3: 2}


def test_kcore_subgraph_invariants(spark):
    """Every surviving node has core degree >= K, and the core's nodes are
    a subset of the near-dup pair graph's nodes."""
    from tests.conftest import SF_ORACLE

    from big_data_toolkit_spark.operators.dedup import dedup_minhash_lsh

    core = pr.kcore_subgraph(spark, SF_ORACLE).collect()
    assert core  # triangles exist on this corpus, so a 2-core must too
    assert all(r["core_deg"] >= pr.KCORE_K for r in core)
    pair_nodes = {
        r["d1"] for r in dedup_minhash_lsh(spark, SF_ORACLE).collect()
    } | {r["d2"] for r in dedup_minhash_lsh(spark, SF_ORACLE).collect()}
    assert {r["doc_id"] for r in core} <= pair_nodes


def test_kcore_subgraph_oracle(spark):
    from tests.conftest import SF_ORACLE
    from tests.oracle_utils import compare

    compare(
        pr.kcore_subgraph(spark, SF_ORACLE),
        pr.ORACLE_SQL["kcore_subgraph"],
        SF_ORACLE,
    )


def test_lpa_labels_valid_and_nontrivial(spark):
    """Every graph node gets exactly one community label drawn from the
    node-id space, and propagation actually merges labels (fewer distinct
    communities than nodes)."""
    from tests.conftest import SF_ORACLE

    rows = pr.label_propagation_communities(spark, SF_ORACLE).collect()
    assert rows
    nodes = {r["part"] for r in rows}
    assert len(rows) == len(nodes)  # one label per node
    comms = {r["community"] for r in rows}
    assert comms <= nodes  # labels are node ids
    assert len(comms) < len(nodes)  # some propagation happened

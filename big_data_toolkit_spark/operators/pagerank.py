"""Multi-source personalized PageRank (reference a4, Spark-first).

Reference shapes replaced:

* ``a4/BuildPersonalizedPageRankRecords.java:39-104`` (U5): adjacency text →
  typed PageRankNode records with per-source init mass → here a plain
  ``(src, dst)`` edges DataFrame plus a ranks DataFrame initialized
  ``1/|S|`` on sources, 0 elsewhere (linear space — doubles remove the
  reference's log-space underflow motivation, SURVEY §1).
* ``a4/RunPersonalizedPageRankBasic.java:108-161,274-381`` (U4): one Hadoop
  job per iteration with rank state in SequenceFiles and dangling mass in a
  side file. Engine: a driver loop over cached DataFrames — per iteration
  ranks ⋈ edges → groupBy(dst).sum() with two corrections applied exactly as
  the reference does:
    - dangling (no out-edge) mass is redistributed to the SOURCE nodes only
      (``:140-155``), not uniformly;
    - the α teleport also lands only on sources, α/|S| each (``:329-337,415``).
  Lineage is truncated with ``localCheckpoint`` every few iterations by
  ``plans/iterate.py`` — replacing the reference's per-iteration HDFS
  round-trip while keeping the plan from growing unboundedly.
* ``a4/FindMaxPageRankNodes.java:40-103`` (A12/O5): bounded-heap top-k →
  ``orderBy(desc).limit(k)`` (TakeOrderedAndProject — no global sort).
* ``a4/PartitionGraph.java:103-130`` (U6): hash/range partitioning →
  ``repartition(n, 'src')`` on the edges once, so every iteration's join
  reuses the same co-located layout instead of re-shuffling the graph.

Scale: edges are repartitioned by src once and cached; per iteration the only
shuffles are ranks-by-src (small: one row per node) and the groupBy(dst)
aggregation. Dangling mass is a 1-row aggregate crossed in via broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from big_data_toolkit_spark.catalog import load_table, local_table
from big_data_toolkit_spark.plans.iterate import checkpoint, iterate

ALPHA = 0.15  # a4/RunPersonalizedPageRankBasic.java:415
DEFAULT_SOURCES = (0, 1, 2)
DEFAULT_ITERS = 10
N_NODES_MOD = 100  # derived-graph size for the TESTDATA bench
CHECKPOINT_EVERY = 5


def derive_graph(spark: SparkSession, sf_dir: str, mod: int = N_NODES_MOD) -> DataFrame:
    """Deterministic (src, dst) edge list derived from lineitem.

    Stands in for the reference's adjacency-list text input
    (``a4/BuildPersonalizedPageRankRecords.java:70-94``): src = orderkey mod
    ``mod``, dst = partkey mod ``mod``, distinct, self-loops dropped.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select(
            (F.col("l_orderkey") % mod).cast("long").alias("src"),
            (F.col("l_partkey") % mod).cast("long").alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def personalized_pagerank(
    spark: SparkSession,
    edges: DataFrame,
    sources: tuple[int, ...] = DEFAULT_SOURCES,
    alpha: float = ALPHA,
    iters: int = DEFAULT_ITERS,
) -> DataFrame:
    """Run ``iters`` iterations; returns (node, rank) in linear space.

    Per iteration (reference semantics, a4/RunPersonalizedPageRankBasic):
      contrib(n→m) = rank(n) / outdeg(n) for each edge n→m
      dangling     = Σ rank(n) over nodes with outdeg 0
      rank'(m)     = (1-α)·(Σ contrib(·→m) + [m∈S]·dangling/|S|)
                     + [m∈S]·α/|S|
    """
    n_sources = len(sources)

    # The edge list feeds two separate jobs — the degree aggregation below
    # and the weighted-edge materialization — and its plan (scan +
    # distinct) is the expensive part of both.  Cache it lazily: the first
    # job pays the scan once, the second reads the cache, no extra action
    # (measured: one full lineitem scan + distinct removed from the
    # wedges job at sf0.1).  Only install (and later release) the cache if
    # the CALLER had not already cached this plan — Spark's cache is keyed
    # by logical plan, so an unconditional unpersist() here would silently
    # evict a caller's own cache of the identical edges frame.
    _edges_cache_installed = not edges.is_cached
    if _edges_cache_installed:
        edges = edges.cache()

    # ONE exploded-ends aggregation yields the node set, out-degrees, AND the
    # dangling set (deg == 0) in a single shuffle — replacing the separate
    # union+distinct node scan, degree groupBy, and dangling anti-join.
    node_deg = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("src").alias("node"), F.lit(1).alias("out")),
                    F.struct(F.col("dst").alias("node"), F.lit(0).alias("out")),
                )
            ).alias("e")
        )
        .select("e.*")
        .groupBy("node")
        .agg(F.sum("out").alias("deg"))
        .cache()
    )
    nodes = node_deg.select("node")
    # Dangling correction as data, not as a per-iteration aggregate job: a
    # node with no out-edges gets |S| virtual edges to the sources, weight
    # 1/|S| each — algebraically identical to the reference's side-file mass
    # redistribution (a4/RunPersonalizedPageRankBasic.java:140-155) but it
    # keeps every iteration a single join+agg with NO driver-side action.
    real = edges.join(
        node_deg.withColumnRenamed("node", "src"), "src"
    ).select("src", "dst", (F.lit(1.0) / F.col("deg")).alias("w"))
    virtual = (
        node_deg.where(F.col("deg") == 0)
        .select(F.col("node").alias("src"))
        .crossJoin(
            F.broadcast(
                local_table(
                    edges.sparkSession, [(int(s),) for s in sources], "dst long"
                )
            )
        )
        .select("src", "dst", F.lit(1.0 / n_sources).alias("w"))
    )
    # Co-locate the (static) weighted edge list by src once; every
    # iteration's join reuses this layout (a4/PartitionGraph analogue).
    # Partition count is sized by edge count (~1M weighted edges per
    # partition) rather than the global shuffle default: the iteration loop
    # re-executes over this exact layout 10+ times, so a layout with more
    # tasks than data costs 10× the scheduler overhead, while at billions
    # of edges the same rule scales the task count up with the graph. The
    # count comes from the (cached, needed-anyway) degree table: real edges
    # = Σdeg, virtual dangling edges = |deg==0|·|S| — no extra edge scan.
    stats = node_deg.agg(
        F.sum("deg").alias("e"),
        F.sum((F.col("deg") == 0).cast("long")).alias("d"),
    ).first()
    n_edges = int(stats["e"] or 0) + int(stats["d"] or 0) * n_sources
    n_parts = max(1, min(n_edges // 1_000_000 + 1, 2000))
    wedges = real.union(virtual).repartition(n_parts, "src").cache()
    wedges.count()  # materialize once
    if _edges_cache_installed:  # both consumers (degrees, wedges) are done
        edges.unpersist()

    is_source = F.col("node").isin(list(sources))

    # Static per-node teleport mass (α/|S| on sources, 0 elsewhere). Keeping
    # the zero rows makes the union below a complete substitute for the
    # reference's node⋈messages cogroup: every node appears in the aggregate
    # even if it received no message, so no outer join is needed.
    base = nodes.select(
        "node",
        F.when(is_source, F.lit(alpha / n_sources)).otherwise(F.lit(0.0)).alias("m"),
    ).cache()
    base.count()  # materialize so node_deg can be released now
    node_deg.unpersist()

    # Initial ranks read from the cached base (not node_deg, already
    # released): 1/|S| on sources, 0 elsewhere.
    ranks = base.select(
        "node",
        F.when(is_source, F.lit(1.0 / n_sources)).otherwise(F.lit(0.0)).alias("rank"),
    )

    def _round(ranks: DataFrame, _probed: bool) -> DataFrame:
        # rank'(m) = Σ (1-α)·rank(n)·w(n→m)  ⊎  base(m) — messages pre-scaled
        # so the whole iteration is one union + ONE groupBy shuffle, instead
        # of contribs-groupBy + nodes-left-join (two shuffles + outer join).
        msgs = ranks.join(wedges, ranks.node == wedges.src).select(
            F.col("dst").alias("node"),
            ((1.0 - alpha) * F.col("rank") * F.col("w")).alias("m"),
        )
        return msgs.unionByName(base).groupBy("node").agg(F.sum("m").alias("rank"))

    # The last round's checkpoint also lets the cached inputs go: without it
    # the returned (lazy) plan still references wedges/base, and library
    # callers would accrete executor storage with every invocation.
    ranks = iterate(
        ranks, _round, rounds=iters, every=CHECKPOINT_EVERY, what="pagerank"
    )
    wedges.unpersist()
    base.unpersist()
    return ranks


def pagerank_top20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 nodes by personalized rank on the derived graph (A12/O5).

    Rank rounded to 6 decimals (the reference prints ``%.5f``,
    a4/FindMaxPageRankNodes.java:99). Oracle-checked: the fixed iteration
    count makes the power iteration SQL-expressible by unrolling each step
    as a chained CTE (see ``pagerank_oracle_sql``); the 6-decimal rounding
    absorbs summation-order float drift between engines. Exact-value parity
    vs a NumPy power-iteration replica is additionally asserted in tests.
    """
    edges = derive_graph(spark, sf_dir)
    ranks = personalized_pagerank(spark, edges)
    return (
        ranks.select("node", F.round("rank", 6).alias("rank"))
        .orderBy(F.desc("rank"), "node")
        .limit(20)
    )


def partition_graph(edges: DataFrame, n: int, mode: str = "hash") -> DataFrame:
    """U6 (``a4/PartitionGraph.java:103-130``): hash or range partitioning of
    the edge list by source node, for iteration-stable co-location."""
    if mode == "hash":
        return edges.repartition(n, "src")
    if mode == "range":
        return edges.repartitionByRange(n, "src")
    raise ValueError(f"mode must be 'hash' or 'range', got {mode!r}")


def pagerank_oracle_sql(
    sources: tuple[int, ...] = DEFAULT_SOURCES,
    alpha: float = ALPHA,
    iters: int = DEFAULT_ITERS,
    mod: int = N_NODES_MOD,
    k: int = 20,
) -> str:
    """ANSI-SQL replica of ``pagerank_top20`` with the iteration unrolled.

    A fixed iteration count is just a 10-deep expression DAG, so the whole
    algorithm — graph derivation, out-degrees, dangling-to-sources virtual
    edges, pre-scaled message union, α-teleport — is one SQL statement of
    chained CTEs r0..rN, each the exact relational form of one Spark
    iteration. Every arithmetic step ((1-α)·rank·w, 1/|S|, α/|S|) is the
    same IEEE-double expression both engines evaluate, so after ROUND(...,6)
    the hash-compare is exact.
    """
    n = len(sources)
    src_list = ", ".join(str(s) for s in sources)
    vals = ", ".join(f"({s})" for s in sources)
    sql = f"""WITH edges AS (
  SELECT DISTINCT CAST(l_orderkey % {mod} AS BIGINT) AS src,
                  CAST(l_partkey % {mod} AS BIGINT) AS dst
  FROM lineitem
  WHERE (l_orderkey % {mod}) <> (l_partkey % {mod})
), node_deg AS (
  SELECT node, SUM(out) AS deg FROM (
    SELECT src AS node, 1 AS out FROM edges
    UNION ALL
    SELECT dst AS node, 0 AS out FROM edges
  ) GROUP BY node
), wedges AS (
  SELECT e.src, e.dst, 1.0 / d.deg AS w
  FROM edges e JOIN node_deg d ON e.src = d.node
  UNION ALL
  SELECT d.node AS src, s.dst, 1.0 / {n} AS w
  FROM node_deg d CROSS JOIN (VALUES {vals}) AS s(dst)
  WHERE d.deg = 0
), base AS (
  SELECT node,
         CASE WHEN node IN ({src_list}) THEN {alpha} / {n} ELSE 0.0 END AS m
  FROM node_deg
), r0 AS (
  SELECT node,
         CASE WHEN node IN ({src_list}) THEN 1.0 / {n} ELSE 0.0 END AS "rank"
  FROM node_deg
)"""
    for i in range(1, iters + 1):
        sql += f""", r{i} AS (
  SELECT node, SUM(m) AS "rank" FROM (
    SELECT w.dst AS node, (1.0 - {alpha}) * r."rank" * w.w AS m
    FROM r{i - 1} r JOIN wedges w ON r.node = w.src
    UNION ALL
    SELECT node, m FROM base
  ) GROUP BY node
)"""
    sql += f"""
SELECT node, ROUND("rank", 6) AS "rank" FROM r{iters}
ORDER BY "rank" DESC, node LIMIT {k}"""
    return sql


def triangle_count(
    spark: SparkSession, sf_dir: str, pairs: DataFrame | None = None
) -> DataFrame:
    """(n_wedges, n_triangles): degree-oriented triangle count of the
    MinHash near-dup graph — how clique-like the duplicate clusters are.

    Graph-analytics extension beyond the reference's a4 suite (PageRank +
    partitioning; it has no motif counting). The algorithm is the
    MapReduce-classic degree orientation (Suri & Vassilvitskii 2011,
    "Counting Triangles and the Curse of the Last Reducer"): orient every
    undirected edge from its lower-(degree, id) endpoint to the higher one,
    build wedges by joining oriented edges on their source, and close each
    wedge against the canonical edge set. Orientation bounds per-vertex
    fan-out by O(sqrt(|E|)) — the hub that would emit deg² wedges under
    naive id-ordering emits almost none, which is exactly the skew that
    kills the last reducer at 100 TB.

    All-integer arithmetic (no float risk); the two global counts are
    1-row aggregates crossed into a single row.

    ``pairs`` (optional) supplies a pre-materialized near-dup pair table
    (columns d1, d2; see ``plans.materialize``) — the 100 TB consumption
    pattern where the MinHash pair graph is built ONCE and shared across
    graph analyses instead of recomputed in-plan per query.
    """
    from big_data_toolkit_spark.operators.dedup import dedup_minhash_lsh

    if pairs is None:
        # Materialize the in-plan pair graph ONCE: the degree computation,
        # orientation joins, wedge self-join and closing join reference the
        # edge set ~15 times, and without this each reference re-expands
        # the whole tokenize→shingle→minhash→band pipeline in the plan
        # (measured 2.1x slower at sf0.1; the checkpointed leaf is the
        # same bytes the materialized variant reads from parquet).
        pairs = dedup_minhash_lsh(spark, sf_dir).localCheckpoint()
    e = pairs.select("d1", "d2")
    deg = (
        e.select(F.col("d1").alias("node"))
        .union(e.select(F.col("d2").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    ed = e.join(
        deg.select(F.col("node").alias("d1"), F.col("deg").alias("deg1")), "d1"
    ).join(
        deg.select(F.col("node").alias("d2"), F.col("deg").alias("deg2")), "d2"
    )
    lower = (F.col("deg1") < F.col("deg2")) | (
        (F.col("deg1") == F.col("deg2")) & (F.col("d1") < F.col("d2"))
    )
    o = ed.select(
        F.when(lower, F.col("d1")).otherwise(F.col("d2")).alias("src"),
        F.when(lower, F.col("d2")).otherwise(F.col("d1")).alias("dst"),
        F.when(lower, F.col("deg2")).otherwise(F.col("deg1")).alias("deg_dst"),
    )
    x = o.select(
        "src", F.col("dst").alias("a"), F.col("deg_dst").alias("dega")
    )
    y = o.select(
        "src", F.col("dst").alias("b"), F.col("deg_dst").alias("degb")
    )
    wedges = (
        x.join(y, "src")
        .where(
            (F.col("dega") < F.col("degb"))
            | ((F.col("dega") == F.col("degb")) & (F.col("a") < F.col("b")))
        )
        .select("a", "b")
    )
    closed = wedges.join(
        e,
        (F.col("d1") == F.least("a", "b")) & (F.col("d2") == F.greatest("a", "b")),
    )
    return (
        wedges.agg(F.count("*").alias("n_wedges"))
        .crossJoin(closed.agg(F.count("*").alias("n_triangles")))
    )


def _triangle_oracle_sql() -> str:
    """Same degree orientation over the shared MinHash-pair CTE chain."""
    from big_data_toolkit_spark.operators.dedup import _MINHASH_CTES

    return f"""
    WITH {_MINHASH_CTES},
    e AS (SELECT d1, d2 FROM mh),
    deg AS (
      SELECT node, count(*) AS deg FROM (
        SELECT d1 AS node FROM e UNION ALL SELECT d2 AS node FROM e
      ) GROUP BY node
    ),
    o AS (
      SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.d1 < e.d2)
                  THEN e.d1 ELSE e.d2 END AS src,
             CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.d1 < e.d2)
                  THEN e.d2 ELSE e.d1 END AS dst,
             CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.d1 < e.d2)
                  THEN db.deg ELSE da.deg END AS deg_dst
      FROM e
      JOIN deg da ON da.node = e.d1
      JOIN deg db ON db.node = e.d2
    ),
    w AS (
      SELECT x.dst AS a, y.dst AS b
      FROM o x JOIN o y ON x.src = y.src
      WHERE x.deg_dst < y.deg_dst
         OR (x.deg_dst = y.deg_dst AND x.dst < y.dst)
    )
    SELECT (SELECT count(*) FROM w) AS n_wedges,
           (SELECT count(*)
            FROM w JOIN e ON e.d1 = least(w.a, w.b)
                         AND e.d2 = greatest(w.a, w.b)) AS n_triangles
"""


KCORE_K = 2
KCORE_MAX_ROUNDS = 12


def kcore_subgraph(
    spark: SparkSession, sf_dir: str, pairs: DataFrame | None = None
) -> DataFrame:
    """(doc_id, core_deg): the 2-core of the MinHash near-dup graph — every
    node's degree after iteratively peeling all degree-<2 nodes.

    Third graph-analytics extension (with PageRank and triangle counting):
    the k-core is the standard "dense part" extractor — tree-like tendrils
    of weakly-linked near-dups peel away, leaving the mutually-duplicated
    clusters worth human review. Peeling is the textbook fixpoint
    (Matula & Beck 1983): drop nodes with degree < k, recompute, repeat.

    Scale shape: each round is ONE degree aggregate + one semi-join-shaped
    filter over the CURRENT edge set — which only shrinks — with the edge
    set ``localCheckpoint``-ed per round so lineage stays flat. Convergence
    is an exact edge-count probe: successive edge sets are subsets, so an
    equal count IS set equality (no probabilistic signature needed, unlike
    ``star_components``). Exhausting ``KCORE_MAX_ROUNDS`` raises rather
    than returning an unpeeled (wrong) core; the oracle unrolls the same
    round count, and rounds past the fixpoint are identity, so any
    in-budget convergence matches it.

    ``pairs`` (optional): pre-materialized near-dup pair table (d1, d2),
    see ``plans.materialize``.
    """
    from big_data_toolkit_spark.operators.dedup import dedup_minhash_lsh

    if pairs is None:
        pairs = dedup_minhash_lsh(spark, sf_dir)

    def _peel(edges: DataFrame, _probed: bool) -> DataFrame:
        deg = (
            edges.select(F.col("d1").alias("node"))
            .union(edges.select(F.col("d2").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("deg"))
        )
        keep = deg.where(F.col("deg") >= KCORE_K).select("node")
        return (
            edges.join(keep.withColumnRenamed("node", "d1"), "d1")
            .join(keep.withColumnRenamed("node", "d2"), "d2")
            .select("d1", "d2")
        )

    # The edge count rides each checkpoint job, the starting one included.
    # Running out of rounds means a pathologically deep peel hierarchy:
    # raise KCORE_MAX_ROUNDS and the oracle's unroll together.
    count = [F.count(F.lit(1)).alias("n")]
    edges = iterate(
        checkpoint(pairs.select("d1", "d2"), count),
        _peel,
        rounds=KCORE_MAX_ROUNDS,
        observe=count,
        stop=lambda prev, cur: prev.metrics["n"] == cur.metrics["n"],
        must_converge=True,
        what="kcore_subgraph",
    )
    return (
        edges.select(F.col("d1").alias("doc_id"))
        .union(edges.select(F.col("d2").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count("*").alias("core_deg"))
    )


def _kcore_oracle_sql(k: int = KCORE_K, rounds: int = KCORE_MAX_ROUNDS) -> str:
    """Peel loop unrolled as CTEs e0..eN over the shared MinHash pair chain.

    Rounds at/past the Spark fixpoint are identity filters, so the fixed
    unroll equals any earlier convergence; the Spark side raises if it ever
    needs more than ``rounds``. Every e{{i}} is MATERIALIZED: each round
    references its predecessor three times (degree table twice + the edge
    filter), so DuckDB's default inline-per-reference expansion would
    re-evaluate the whole chain 3^rounds times — materialization is the
    oracle-side analogue of the Spark loop's ``localCheckpoint``.
    """
    from big_data_toolkit_spark.operators.dedup import _MINHASH_CTES

    sql = f"""
    WITH {_MINHASH_CTES},
    e0 AS MATERIALIZED (SELECT d1, d2 FROM mh)"""
    for i in range(1, rounds + 1):
        sql += f""",
    d{i - 1} AS MATERIALIZED (
      SELECT node, count(*) AS deg FROM (
        SELECT d1 AS node FROM e{i - 1}
        UNION ALL SELECT d2 AS node FROM e{i - 1}
      ) GROUP BY node
    ),
    e{i} AS MATERIALIZED (
      SELECT e.d1, e.d2 FROM e{i - 1} e
      JOIN d{i - 1} a ON a.node = e.d1 AND a.deg >= {k}
      JOIN d{i - 1} b ON b.node = e.d2 AND b.deg >= {k}
    )"""
    sql += f"""
    SELECT node AS doc_id, count(*) AS core_deg FROM (
      SELECT d1 AS node FROM e{rounds} UNION ALL SELECT d2 AS node FROM e{rounds}
    ) GROUP BY node"""
    return sql


LPA_ROUNDS = 4
LPA_MIN_PAIRS = 3


def label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(part, community): synchronous label propagation over the co-purchase
    graph — community detection, the fourth graph-algorithm family (after
    PageRank, triangles, k-core).

    Edges are part pairs co-purchased in ≥3 orders (in-row pair
    generation, no self-join on the basket key). LPA (Raghavan et al.
    2007) in its SYNCHRONOUS fixed-round form WITH SELF-VOTES: every
    round, each node adopts the most frequent label among its neighbours
    and itself, ties broken by the SMALLEST label. The self-vote is the
    standard synchronous-LPA fix for bipartite label oscillation (a lone
    edge would otherwise swap labels forever); min-tie-break makes every
    round an exact integer/min operation, so a fixed round count is
    deterministic and cross-engine reproducible even pre-convergence
    (the dedup_components precedent). Each round is one exchange-free
    join (edges pinned on the join key once; labels come out of their
    aggregation already node-partitioned) + ONE ``mode(deterministic)``
    aggregation — Spark's ties-to-lowest mode IS the LPA vote rule, and
    it partial-aggregates map-side; labels ``localCheckpoint`` per
    round.
    """
    li = load_table(spark, sf_dir, "lineitem")
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("parts")
    )
    pairs = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(parts, x -> "
                    "transform(filter(parts, y -> y > x), "
                    "y -> struct(x AS a, y AS b))))"
                )
            ).alias("p")
        )
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_ab"))
        .where(F.col("n_ab") >= LPA_MIN_PAIRS)
    )
    return lpa_labels(spark, pairs).select(
        F.col("node").alias("part"), "community"
    )


def lpa_labels(
    spark: SparkSession, pairs: DataFrame, rounds: int = LPA_ROUNDS
) -> DataFrame:
    """(node, community) after ``rounds`` synchronous self-vote LPA rounds
    over an undirected distinct pair set (a, b) — the core loop of
    ``label_propagation_communities``, factored out so property tests can
    drive it over arbitrary generated graphs against a pure-Python
    replica."""
    # Stage the aggregated pair table ONCE before fanning out: the
    # symmetrize union references `pairs` twice, the self-loop union a
    # third time (via the node distinct), and the label init a fourth —
    # with `pairs` lazy, the edges checkpoint plan embedded FOUR copies
    # of the upstream scan+aggregate chain and the labels checkpoint two
    # more (captured: 4 + 2 parquet-scan operators per loop setup; exchange
    # reuse does not reliably merge the differently-projected branches —
    # the dedup_components lesson). The pair table is edge-sized (≪
    # corpus), so one cheap materialization turns every downstream
    # reference into an RDD scan: the corpus is now scanned once per
    # query instead of up to six times.
    pairs = pairs.select("a", "b").localCheckpoint()
    sym = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst")).union(
        pairs.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    nodes = sym.select(F.col("src").alias("node")).distinct()
    # ONE shuffle per round (was three): the neighbour-vote argmax with
    # its smallest-label tie-break IS Spark's deterministic ``mode()``
    # aggregate (ties -> lowest value) — one partial-aggregable groupBy
    # replaces the (node, community) count plus the row_number window.
    # Edges pre-partition by the join key ONCE (localCheckpoint pins the
    # physical partitioning), and each round's label frame comes out of
    # its aggregation hash-partitioned on node — so the per-round join
    # needs NO exchange on either side and the only shuffle left is the
    # vote regroup by src. At 100 TB that is rounds x one edge-sized
    # exchange instead of rounds x three.
    edges = (
        sym.union(  # self-loops carry each node's own vote via the join
            # exactly ONE self-loop per node — mode() counts votes, so
            # (unlike the MIN closure) duplicate self-loops would
            # double-count self-votes; the distinct is load-bearing.
            nodes.select(F.col("node").alias("src"), F.col("node").alias("dst"))
        )
        .repartition("dst")
        .localCheckpoint()
    )
    labels = (
        nodes.repartition("node")
        .withColumn("community", F.col("node"))
        .localCheckpoint()
    )

    def _round(labels: DataFrame, probed: bool) -> DataFrame:
        # Probed rounds also keep each node's OWN previous label (the
        # single self-loop row is the src == dst join partner) for the
        # changed-label count.
        aggs = [F.mode("community", True).alias("community")]
        if probed:
            own = F.when(edges["src"] == edges["dst"], F.col("community"))
            aggs.append(F.min(own).alias("_prev"))
        return (
            edges.join(labels, edges["dst"] == labels["node"])
            .groupBy(edges["src"].alias("node"))
            .agg(*aggs)
        )

    # Materialize every SECOND round (plus the last): the aggregation
    # already leaves labels hash-partitioned on node, so a 2-round lazy
    # chain still joins exchange-free; materializing half as often halves
    # the loop's action count while keeping every plan ≤ 2 joins deep (the
    # dedup_components cadence). changed == 0 (or None: empty graph)
    # means labels_i == labels_{i-1}; the synchronous vote is a
    # deterministic function of the labels, so every later round is a no-op
    # and stopping returns EXACTLY the fixed-round oracle result (the mode
    # vote is idempotent at its fixpoint).
    changed = F.sum((F.col("community") != F.col("_prev")).cast("long"))
    return iterate(
        labels,
        _round,
        rounds=rounds,
        every=2,
        observe=[changed.alias("chg")],
        stop=lambda _prev, cur: not cur.metrics["chg"],
        what="lpa_labels",
    )


def _lpa_oracle_sql(rounds: int = LPA_ROUNDS) -> str:
    """Fixed-round synchronous LPA unrolled as MATERIALIZED CTEs."""
    sql = f"""
    WITH baskets AS MATERIALIZED (
      SELECT l_orderkey, list_sort(list(DISTINCT l_partkey)) AS parts
      FROM lineitem GROUP BY l_orderkey
    ),
    ex AS MATERIALIZED (
      SELECT l_orderkey, unnest(parts) AS part FROM baskets
    ),
    pairs AS MATERIALIZED (
      SELECT x.part AS a, y.part AS b
      FROM ex x JOIN ex y
        ON x.l_orderkey = y.l_orderkey AND y.part > x.part
      GROUP BY x.part, y.part
      HAVING count(*) >= {LPA_MIN_PAIRS}
    ),
    sym AS MATERIALIZED (
      SELECT a AS src, b AS dst FROM pairs
      UNION ALL SELECT b AS src, a AS dst FROM pairs
    ),
    nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM sym),
    edges AS MATERIALIZED (
      SELECT src, dst FROM sym
      UNION ALL SELECT node AS src, node AS dst FROM nodes
    ),
    l0 AS MATERIALIZED (
      SELECT node, node AS community FROM nodes
    )"""
    for i in range(1, rounds + 1):
        sql += f""",
    l{i} AS MATERIALIZED (
      SELECT node, community FROM (
        SELECT e.src AS node, l.community, count(*) AS votes,
               row_number() OVER (PARTITION BY e.src
                                  ORDER BY count(*) DESC, l.community) AS rk
        FROM edges e JOIN l{i - 1} l ON e.dst = l.node
        GROUP BY e.src, l.community
      ) WHERE rk = 1
    )"""
    sql += f"""
    SELECT node AS part, community FROM l{rounds}"""
    return sql


QUERIES = {
    "pagerank_top20": pagerank_top20,
    "triangle_count": triangle_count,
    "kcore_subgraph": kcore_subgraph,
    "label_propagation_communities": label_propagation_communities,
}
ORACLE_SQL = {
    "pagerank_top20": pagerank_oracle_sql(),
    "triangle_count": _triangle_oracle_sql(),
    "kcore_subgraph": _kcore_oracle_sql(),
    "label_propagation_communities": _lpa_oracle_sql(),
}

"""Inverted index build + boolean retrieval (reference a3, Spark-first).

Reference shapes replaced:

* ``a3/BuildInvertedIndexCompressed.java:44-128``: per (term, docno) tf via
  secondary-sorted MapReduce shuffle, postings delta-encoded as VInts into a
  sorted MapFile. Engine: ``explode(tokens) → groupBy(term, doc_id).count()``
  and the per-term document frequency as a window count. Parquet's
  dictionary/RLE/ZSTD encoding replaces hand-rolled VInt compression, and a
  term-range-partitioned, term-sorted parquet layout replaces the MapFile:
  point lookups (``term = x``) hit one partition via predicate pushdown +
  min/max row-group skipping — the distributed analogue of
  ``MapFile.Reader.get(term)`` (``a3/BooleanRetrievalCompressed.java:66-74``).
* ``a3/BooleanRetrievalCompressed.java:80-135``: postfix stack machine over
  AND/OR whose operands are decoded postings sets. Engine keeps the ~30-line
  driver-side postfix parser (U7 in SURVEY §2.10) but each stack entry is a
  *DataFrame plan* of doc_ids; AND compiles to an inner join, OR to
  union+distinct, and Catalyst optimizes/broadcasts the composed tree.
  Fetching matched text (``:185-191`` raw-collection seek) is a join back to
  the documents table.

Scale: postings build is one shuffle on (term, doc_id) — high cardinality,
partial-aggregated. Retrieval per term scans only that term's partition
(pushdown); AND/OR over k terms joins k small doc-id sets, all broadcastable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from big_data_toolkit_spark.catalog import load_table, read_parquet
from big_data_toolkit_spark.functions.text import DUCKDB_TOKENS, tokenize

# Test-bench retrieval queries (postfix, reference a3 query format).
QUERY_AND = "spark fast AND"
QUERY_OR = "spark fast OR"
QUERY_MIXED = "spark fast AND slow OR"
QUERY_NOT = "spark slow NOT"


def postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-form inverted index: (term, doc_id, tf, df).

    tf = term occurrences within the doc; df = number of docs containing the
    term. Long form (rather than ARRAY<STRUCT>) keeps the result join-able
    and the oracle comparison exact; ``postings_nested`` packs the classic
    per-term postings-list layout.
    """
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(tokenize("text")).alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count("*").alias("tf"))
    )
    return tf.withColumn("df", F.count("*").over(Window.partitionBy("term")))


INDEX_BATCH_MOD = 5  # doc_id % 5 == 4 → the incoming indexing delta (20%)


def index_merge_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(term, doc_id, tf, df): the updated postings for every term touched
    by an incoming document batch — index MAINTENANCE without a rebuild.

    The reference rebuilds its index from scratch every run (a3 has no
    update path); at 100 TB the standing index is a materialized postings
    table and each ingest batch must only touch the terms it contains.
    Plan: the delta's tf table (20% slice, filter pushed to the scan)
    yields the touched-term set; the standing side contributes ONLY those
    terms' postings via a semi-join-shaped filter (term-keyed — at scale
    this is a partition-pruned read of a term-bucketed postings table);
    union, then one window recount of df over exactly the affected terms.
    The oracle recomputes those postings FROM SCRATCH over the full
    corpus, so the driver hash proves the incremental result equals a
    rebuild — the invariant that makes in-place maintenance trustworthy.
    """
    docs = load_table(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % INDEX_BATCH_MOD == INDEX_BATCH_MOD - 1
    tok = docs.select("doc_id", F.explode(tokenize("text")).alias("term"))

    def tf_of(side: DataFrame) -> DataFrame:
        return side.groupBy("term", "doc_id").agg(F.count("*").alias("tf"))

    delta_tf = tf_of(tok.where(is_new))
    touched = delta_tf.select("term").distinct()
    standing_tf = tf_of(tok.where(~is_new)).join(touched, "term", "left_semi")
    merged = standing_tf.unionByName(delta_tf)
    return merged.withColumn(
        "df", F.count("*").over(Window.partitionBy("term"))
    )


PHRASE = ("spark", "fast")  # test-bench phrase query


def phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_matches): documents containing the exact phrase
    'spark fast' — POSITIONAL retrieval, beyond the reference's
    non-positional a3 index (which can only AND the terms and
    over-matches docs where they never touch).

    The positional-postings plan: ``posexplode`` keeps each term's offset
    on the same scan that builds tf; per (doc, term) the offsets pack
    into a sorted array (bounded by per-doc term frequency); the phrase
    test is then ONE equi-join of the two terms' per-doc position sets
    with the adjacency check as an in-row ``array_intersect`` of
    (positions(w1)+1) with positions(w2) — no per-position row explosion
    through the join, no window over the token stream. n_matches counts
    the adjacent pairs exactly.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(tokenize("text")).alias("pos", "term")
    ).where(F.col("term").isin(list(PHRASE)))
    per_doc = tok.groupBy("doc_id", "term").agg(
        F.sort_array(F.collect_list("pos")).alias("ps")
    )
    a = per_doc.where(F.col("term") == PHRASE[0]).select(
        "doc_id", F.col("ps").alias("pa")
    )
    b = per_doc.where(F.col("term") == PHRASE[1]).select(
        "doc_id", F.col("ps").alias("pb")
    )
    return (
        a.join(b, "doc_id")
        .select(
            "doc_id",
            F.size(
                F.array_intersect(
                    F.expr("transform(pa, p -> p + 1)"), F.col("pb")
                )
            )
            .cast("long")
            .alias("n_matches"),
        )
        .where(F.col("n_matches") > 0)
    )


def postings_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-term postings list: (term, df, postings ARRAY<STRUCT<doc_id,tf>>).

    The engine-native analogue of the reference's MapFile record
    (``a3/BuildInvertedIndexCompressed.java:107-118``): docno-sorted postings
    plus df, with Parquet encoding standing in for VInt delta compression.
    """
    tf = postings(spark, sf_dir).drop("df")
    return tf.groupBy("term").agg(
        F.count("*").alias("df"),
        F.sort_array(F.collect_list(F.struct("doc_id", "tf"))).alias("postings"),
    )


def write_index(spark: SparkSession, sf_dir: str, out_path: str) -> None:
    """Persist the index term-range-partitioned and term-sorted (S6 sink).

    ``repartitionByRange`` gives disjoint term ranges per file and
    ``sortWithinPartitions`` makes parquet row-group min/max statistics tight,
    so a ``term = x`` lookup prunes to a single file + row group — the
    cluster-scale replacement for the reference's sorted MapFile.
    """
    (
        postings_nested(spark, sf_dir)
        .repartitionByRange(8, "term")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .parquet(out_path)
    )


def lookup_term(spark: SparkSession, index_path: str, term: str) -> DataFrame:
    """Point lookup against a written index (S7: MapFile.get equivalent)."""
    return read_parquet(spark, index_path).where(F.col("term") == F.lit(term))


def boolean_retrieval(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    """Evaluate a postfix boolean query; returns (doc_id, text).

    Postfix stack machine per ``a3/BooleanRetrievalCompressed.java:80-99``,
    with DataFrames of doc_ids as stack entries. Unknown terms yield empty
    sets (missing MapFile keys in the reference).
    """
    docs = load_table(spark, sf_dir, "documents")
    term_docs = docs.select(
        "doc_id", F.explode(F.array_distinct(tokenize("text"))).alias("term")
    )

    stack: list[DataFrame] = []
    for tok in query.split():
        if tok == "AND":
            right, left = stack.pop(), stack.pop()
            stack.append(left.join(right, "doc_id"))
        elif tok == "OR":
            right, left = stack.pop(), stack.pop()
            stack.append(left.union(right).distinct())
        elif tok == "NOT":
            # binary difference: docs in left minus docs in right — the set
            # op the reference's a3 stack machine lacks (AND/OR only);
            # plans as a LeftAnti join, never a cartesian complement.
            right, left = stack.pop(), stack.pop()
            stack.append(left.join(right, "doc_id", "left_anti"))
        else:
            stack.append(
                term_docs.where(F.col("term") == F.lit(tok)).select("doc_id")
            )
    if len(stack) != 1:
        raise ValueError(f"malformed postfix query: {query!r}")
    return stack[0].join(docs.select("doc_id", "text"), "doc_id").select(
        "doc_id", "text"
    )


def boolean_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    return boolean_retrieval(spark, sf_dir, QUERY_AND)


def boolean_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    return boolean_retrieval(spark, sf_dir, QUERY_OR)


def boolean_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return boolean_retrieval(spark, sf_dir, QUERY_MIXED)


def boolean_and_not(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs containing 'spark' but NOT 'slow' — the difference operator the
    reference's AND/OR-only stack machine lacks (U7 completion)."""
    return boolean_retrieval(spark, sf_dir, QUERY_NOT)


RANKED_TERMS = ("spark", "fast", "slow")
RANKED_TOP_K = 20


def ranked_retrieval_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, score): tf-idf ranked retrieval, top-20 by score.

    Ranked extension of the reference's boolean stack machine (a3 stops at
    set operations): score(d) = Σ_{t ∈ q ∩ d} tf(t,d) · log10(N/df(t)).
    The term filter lands ON the scan (only query-term postings are built);
    N is an in-plan one-row broadcast; df is a window count over the 3
    surviving term groups. The per-doc sum folds over the SORTED tf·idf
    list so float addition order is pinned — both engines produce
    bit-identical scores, making the top-k cut deterministic (ties break by
    doc_id). Top-k itself is TakeOrderedAndProject: per-partition heaps,
    k rows to the driver.
    """
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.agg(F.count("*").alias("n"))
    tf = (
        docs.select("doc_id", F.explode(tokenize("text")).alias("term"))
        .where(F.col("term").isin(list(RANKED_TERMS)))
        .groupBy("term", "doc_id")
        .agg(F.count("*").alias("tf"))
    )
    scored = (
        tf.withColumn("df", F.count("*").over(Window.partitionBy("term")))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            (F.col("tf") * F.log10(F.col("n").cast("double") / F.col("df"))).alias(
                "w"
            ),
        )
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("w")).alias("ws"))
        .select(
            "doc_id",
            F.expr("aggregate(ws, 0D, (acc, v) -> acc + v)").alias("score_raw"),
        )
    )
    return (
        scored.orderBy(F.desc("score_raw"), "doc_id")
        .limit(RANKED_TOP_K)
        .select("doc_id", F.round("score_raw", 6).alias("score"))
    )


BM25_K1 = 1.2
BM25_B = 0.75


def ranked_retrieval_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, score): Okapi BM25 ranked retrieval, top-20 by score.

    Second ranked extension of the reference's boolean stack machine (a3
    stops at set operations; ``ranked_retrieval_tfidf`` is the first):

        score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
        idf(t)   = ln((N − df + 0.5)/(df + 0.5) + 1)      (Lucene variant)

    with k1=1.2, b=0.75. Every input is computed in-plan: doc length dl is
    ``size(tokens)`` on the same scan that feeds tf (no second pass over
    text), and (N, avgdl) is a one-row broadcast. avgdl is pinned as
    ``sum(dl)::double / count(*)`` in BOTH engines — the sum over bigints is
    exact, so the single division is bit-identical and no engine-specific
    mean accumulation can drift. As in tf-idf, the per-doc sum folds over
    the SORTED weight list so float addition order is pinned and the top-k
    cut (ties by doc_id) is deterministic. Top-k is TakeOrderedAndProject.

    Scale: the term filter prunes postings to the query's terms before the
    (term, doc_id) shuffle; dl rides along as one int column; the only
    driver-bound data is k rows.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokenize("text").alias("toks"))
    dl = toks.select("doc_id", F.size("toks").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    tf = (
        toks.select("doc_id", F.explode("toks").alias("term"))
        .where(F.col("term").isin(list(RANKED_TERMS)))
        .groupBy("term", "doc_id")
        .agg(F.count("*").alias("tf"))
    )
    idf = F.log(
        (F.col("n") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    denom = F.col("tf") + F.lit(BM25_K1) * (
        F.lit(1.0) - F.lit(BM25_B) + F.lit(BM25_B) * F.col("dl") / F.col("avgdl")
    )
    scored = (
        tf.withColumn("df", F.count("*").over(Window.partitionBy("term")))
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (idf * (F.col("tf") * F.lit(BM25_K1 + 1.0)) / denom).alias("w"),
        )
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("w")).alias("ws"))
        .select(
            "doc_id",
            F.expr("aggregate(ws, 0D, (acc, v) -> acc + v)").alias("score_raw"),
        )
    )
    return (
        scored.orderBy(F.desc("score_raw"), "doc_id")
        .limit(RANKED_TOP_K)
        .select("doc_id", F.round("score_raw", 6).alias("score"))
    )


RRF_K = 60
HYBRID_TOP_K = 10


def hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, rrf): hybrid lexical+semantic retrieval via reciprocal-rank
    fusion, top-10.

    The modern RAG retrieval shape the reference's boolean engine predates:
    run the BM25 lexical leg (query terms) and an ANN semantic leg (the
    query embedding, through the IVF index — the 100 TB path, not brute
    force; ``embeddings.vec_id`` is 1:1 with ``documents.doc_id``) and fuse
    with RRF (Cormack et al. 2009):

        rrf(d) = Σ_legs 1/(k + rank_leg(d)),  k = 60

    RRF needs only ranks, which sidesteps cross-leg score calibration —
    and makes the fusion exactly reproducible: both legs' outputs are
    deterministic (rounded scores, doc-id tie-breaks), so the ranks and
    the tiny rational sums are bit-identical cross-engine. Each leg is
    top-k (TakeOrderedAndProject); the fusion is a full outer join of two
    k-row sets — driver-scale work after distributed retrieval.
    """
    from big_data_toolkit_spark.operators.similarity import knn_ivf

    lex = ranked_retrieval_bm25(spark, sf_dir).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("score"), "doc_id"))
        .alias("r_lex"),
    )
    sem = knn_ivf(spark, sf_dir).select(
        F.col("vec_id").alias("sem_id"),
        F.row_number()
        .over(Window.orderBy(F.desc("sim"), "vec_id"))
        .alias("r_sem"),
    )
    fused = lex.join(sem, lex["doc_id"] == sem["sem_id"], "full").select(
        F.coalesce("doc_id", "sem_id").alias("doc_id"),
        (
            F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("r_lex")), F.lit(0.0))
            + F.coalesce(
                F.lit(1.0) / (F.lit(RRF_K) + F.col("r_sem")), F.lit(0.0)
            )
        ).alias("rrf_raw"),
    )
    return (
        fused.orderBy(F.desc("rrf_raw"), "doc_id")
        .limit(HYBRID_TOP_K)
        .select("doc_id", F.round("rrf_raw", 6).alias("rrf"))
    )


# ---------------------------------------------------------------------------
# DuckDB oracle SQL
# ---------------------------------------------------------------------------

_TOKENS = DUCKDB_TOKENS.format(col="text")

_TERM_DOCS = f"""
  SELECT doc_id, unnest(list_distinct({_TOKENS})) AS term FROM documents
"""


def _contains(term: str) -> str:
    return f"SELECT doc_id FROM term_docs WHERE term = '{term}'"


ORACLE_SQL: dict[str, str] = {
    "inverted_index": f"""
        WITH tok AS (SELECT doc_id, unnest({_TOKENS}) AS term FROM documents),
        tf AS (SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY term, doc_id)
        SELECT term, doc_id, tf, count(*) OVER (PARTITION BY term) AS df
        FROM tf
    """,
    "index_merge_incremental": f"""
        WITH tok AS (SELECT doc_id, unnest({_TOKENS}) AS term FROM documents),
        tf AS (SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY term, doc_id),
        touched AS (
          SELECT DISTINCT term FROM tok
          WHERE doc_id % {INDEX_BATCH_MOD} = {INDEX_BATCH_MOD - 1}
        )
        SELECT term, doc_id, tf, count(*) OVER (PARTITION BY term) AS df
        FROM tf JOIN touched USING (term)
    """,
    "boolean_and": f"""
        WITH term_docs AS ({_TERM_DOCS}),
        hits AS ({_contains("spark")} INTERSECT {_contains("fast")})
        SELECT d.doc_id, d.text FROM hits JOIN documents d USING (doc_id)
    """,
    "boolean_or": f"""
        WITH term_docs AS ({_TERM_DOCS}),
        hits AS ({_contains("spark")} UNION {_contains("fast")})
        SELECT d.doc_id, d.text FROM hits JOIN documents d USING (doc_id)
    """,
    "phrase_search": f"""
        WITH tok AS (
          SELECT doc_id, unnest({_TOKENS}) AS term,
                 unnest(range(0, len({_TOKENS}))) AS pos
          FROM documents
        ),
        pd AS (
          SELECT doc_id, term, list_sort(list(pos)) AS ps
          FROM tok WHERE term IN ('{PHRASE[0]}', '{PHRASE[1]}')
          GROUP BY doc_id, term
        )
        SELECT a.doc_id,
               CAST(len(list_intersect(list_transform(a.ps, p -> p + 1),
                                       b.ps)) AS BIGINT) AS n_matches
        FROM pd a JOIN pd b USING (doc_id)
        WHERE a.term = '{PHRASE[0]}' AND b.term = '{PHRASE[1]}'
          AND len(list_intersect(list_transform(a.ps, p -> p + 1), b.ps)) > 0
    """,
    "boolean_and_not": f"""
        WITH term_docs AS ({_TERM_DOCS}),
        hits AS ({_contains("spark")} EXCEPT {_contains("slow")})
        SELECT d.doc_id, d.text FROM hits JOIN documents d USING (doc_id)
    """,
    "boolean_mixed": f"""
        WITH term_docs AS ({_TERM_DOCS}),
        hits AS (
          ({_contains("spark")} INTERSECT {_contains("fast")})
          UNION {_contains("slow")}
        )
        SELECT d.doc_id, d.text FROM hits JOIN documents d USING (doc_id)
    """,
    "ranked_retrieval_tfidf": f"""
        WITH tok AS (SELECT doc_id, unnest({_TOKENS}) AS term FROM documents),
        tf AS (
          SELECT term, doc_id, count(*) AS tf FROM tok
          WHERE term IN ('spark', 'fast', 'slow')
          GROUP BY term, doc_id
        ),
        df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        n AS (SELECT count(*) AS n FROM documents),
        s AS (
          SELECT tf.doc_id,
                 list_sum(list_sort(list(tf.tf * log10(n.n::DOUBLE / df.df))))
                   AS score_raw
          FROM tf JOIN df USING (term), n
          GROUP BY tf.doc_id
        )
        SELECT doc_id, round(score_raw, 6) AS score
        FROM s ORDER BY score_raw DESC, doc_id LIMIT 20
    """,
    "ranked_retrieval_bm25": f"""
        WITH toks AS (SELECT doc_id, {_TOKENS} AS toks FROM documents),
        dl AS (SELECT doc_id, len(toks) AS dl FROM toks),
        stats AS (
          SELECT count(*) AS n, sum(dl)::DOUBLE / count(*) AS avgdl FROM dl
        ),
        tf AS (
          SELECT term, doc_id, count(*) AS tf
          FROM (SELECT doc_id, unnest(toks) AS term FROM toks)
          WHERE term IN ('spark', 'fast', 'slow')
          GROUP BY term, doc_id
        ),
        tfdf AS (
          SELECT *, count(*) OVER (PARTITION BY term) AS df FROM tf
        ),
        w AS (
          SELECT t.doc_id,
                 ln((s.n - t.df + 0.5) / (t.df + 0.5) + 1.0)
                   * (t.tf * 2.2)
                   / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl))
                   AS w
          FROM tfdf t JOIN dl USING (doc_id), stats s
        ),
        scored AS (
          SELECT doc_id, list_sum(list_sort(list(w))) AS score_raw
          FROM w GROUP BY doc_id
        )
        SELECT doc_id, round(score_raw, 6) AS score
        FROM scored ORDER BY score_raw DESC, doc_id LIMIT 20
    """,
}

def _hybrid_oracle_sql() -> str:
    """RRF oracle composing the two legs' own oracle SQL as nested CTEs, so
    the fusion is checked against the exact leg definitions (any drift in a
    leg's oracle flows through automatically)."""
    from big_data_toolkit_spark.operators import similarity

    return f"""
    WITH lex0 AS ({ORACLE_SQL["ranked_retrieval_bm25"]}),
    sem0 AS ({similarity.ORACLE_SQL["knn_ivf"]}),
    lex AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY score DESC, doc_id) AS r_lex
      FROM lex0
    ),
    sem AS (
      SELECT vec_id,
             row_number() OVER (ORDER BY sim DESC, vec_id) AS r_sem
      FROM sem0
    ),
    fused AS (
      SELECT coalesce(l.doc_id, s.vec_id) AS doc_id,
             coalesce(1.0::DOUBLE / ({RRF_K} + l.r_lex), 0.0::DOUBLE)
               + coalesce(1.0::DOUBLE / ({RRF_K} + s.r_sem), 0.0::DOUBLE)
               AS rrf_raw
      FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.vec_id
    )
    SELECT doc_id, round(rrf_raw, 6) AS rrf
    FROM fused ORDER BY rrf_raw DESC, doc_id LIMIT {HYBRID_TOP_K}
"""


ORACLE_SQL["hybrid_retrieval"] = _hybrid_oracle_sql()

QUERIES = {
    "inverted_index": postings,
    "index_merge_incremental": index_merge_incremental,
    "boolean_and_not": boolean_and_not,
    "phrase_search": phrase_search,
    "boolean_and": boolean_and,
    "boolean_or": boolean_or,
    "boolean_mixed": boolean_mixed,
    "ranked_retrieval_tfidf": ranked_retrieval_tfidf,
    "ranked_retrieval_bm25": ranked_retrieval_bm25,
    "hybrid_retrieval": hybrid_retrieval,
}

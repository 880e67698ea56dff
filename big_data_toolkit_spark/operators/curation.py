"""Training-data curation: deterministic sampling, source mixing, shard packing.

Beyond-the-reference operators a 100 TB pretraining pipeline needs between
"raw corpus" and "training shards". The reference's only sampling-adjacent
op is the seeded random shuffle before SGD (``a5/TrainSpamClassifier.scala:44-46``);
everything here generalizes that idea with *hash-deterministic* randomness —
``md5(doc_id)`` replaces RNG state, so every operator is reproducible,
cluster-size-independent, and expressible in ANSI SQL for the DuckDB oracle.

Scale design:

* **No RNG, no collect.** Sampling decisions are pure column expressions on a
  content hash; re-running on 1 or 1000 executors yields byte-identical
  output (``F.rand`` is partition-dependent; hashes are not).
* **Mix quotas are integer arithmetic** (largest whole number of mix units),
  computed as a tiny per-source aggregate joined back by broadcast — no
  driver round-trip, no float boundary drift between engines.
* **Shard packing is a distributed prefix sum**: within-bucket running sums
  (windows partitioned by hash bucket) plus a bucket-offset table (one row
  per bucket, broadcast back). The only global ordering ever materialized is
  over ``N_BUCKETS`` rows, so the 100 TB case never funnels the corpus
  through a single-partition window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from big_data_toolkit_spark.catalog import load_table, local_table

SAMPLE_BP = 1000  # basis points of 10000 → 10% deterministic sample
STRATUM_K = 10  # docs kept per source in the stratified sample
N_BUCKETS = 32  # prefix-sum fan-out; sized ~ cluster parallelism at scale
SHARD_TOKENS = 4096  # token budget per training shard

# Pinned source → integer mix weight (srcN ↦ N%4+1). Integer weights make
# quota arithmetic exact in both engines: u = min_s floor(cnt_s / w_s) mix
# units, quota_s = w_s · u.
MIX_WEIGHTS = {f"src{i}": (i % 4) + 1 for i in range(20)}


def _hash32(col):
    """Deterministic 32-bit hash via md5 hex prefix (same value in DuckDB)."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast(
        "long"
    )


_H32_SQL = "('0x' || substr(md5(CAST({col} AS VARCHAR)), 1, 8))::BIGINT"


def hash_sample_predicate(rate_bp: int = SAMPLE_BP):
    """The sampling decision as a Column — stateless, so the same predicate
    drops into batch plans and readStream pipelines unchanged (a stream
    sample needs no state store; oracle-checked via the batch form)."""
    return _hash32(F.col("doc_id")) % 10000 < rate_bp


def hash_sample(
    spark: SparkSession, sf_dir: str, rate_bp: int = SAMPLE_BP
) -> DataFrame:
    """Deterministic ~``rate_bp``/10000 Bernoulli sample of documents.

    ``md5(doc_id) % 10000 < rate_bp`` — the sample is a pure filter (no
    shuffle, no RNG), so it composes with any downstream plan and pushes
    into the scan where the predicate allows.
    """
    docs = load_table(spark, sf_dir, "documents")
    return docs.where(hash_sample_predicate(rate_bp)).select(
        "doc_id", "source", "n_chars"
    )


def stratified_sample(
    spark: SparkSession, sf_dir: str, k: int = STRATUM_K
) -> DataFrame:
    """First ``k`` docs per source in hash order — equal-allocation strata.

    One shuffle (window partitioned by source); hash order makes the pick
    pseudo-random yet reproducible.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("h", "doc_id")
    return (
        docs.select("doc_id", "source", _hash32(F.col("doc_id")).alias("h"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("doc_id", "source")
    )


def source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample sources to the pinned MIX_WEIGHTS ratios, maximally.

    u = min over sources of floor(count_s / weight_s) is the largest whole
    number of "mix units" every source can supply; each source then
    contributes its first weight_s·u docs in hash order. All-integer, so
    Spark and the oracle agree exactly.

    Hot-source guard: ``u`` is fetched as ONE scalar from a |sources|-row
    aggregate (the same plan-parameterizing fetch the kNN index build
    uses — not a data collect), which makes the rank cut-off a literal.
    The literal ``rn <= max_quota`` filter sits directly on the window, so
    Catalyst plans WindowGroupLimit: each map task keeps only the top
    max_quota rows per source BEFORE the shuffle-sort, and a source owning
    90% of the corpus is rank-pruned instead of fully sorted in one
    partition (max_quota is bounded by the smallest source, so the prune is
    sharpest exactly when the mix is skewed). The exact per-source quota
    then filters within the surviving rows.
    """
    docs = load_table(spark, sf_dir, "documents")
    weights = local_table(
        spark, [(s, w) for s, w in MIX_WEIGHTS.items()], "source string, w long"
    )
    counts = docs.groupBy("source").agg(F.count("*").alias("cnt"))
    u_row = (
        counts.join(F.broadcast(weights), "source")
        .select(F.floor(F.col("cnt") / F.col("w")).alias("u_s"))
        .agg(F.min("u_s").alias("u"))
        .first()
    )
    u = int(u_row["u"] or 0)
    quotas = {s: w * u for s, w in MIX_WEIGHTS.items()}
    max_quota = max(quotas.values()) if u else 0
    quota = local_table(
        spark, [(s, q) for s, q in quotas.items()], "source string, quota long"
    )
    w_rank = Window.partitionBy("source").orderBy("h", "doc_id")
    return (
        docs.select("doc_id", "source", _hash32(F.col("doc_id")).alias("h"))
        .withColumn("rn", F.row_number().over(w_rank))
        .where(F.col("rn") <= F.lit(max_quota))  # literal → WindowGroupLimit
        .join(F.broadcast(quota), "source")
        .where(F.col("rn") <= F.col("quota"))
        .select("doc_id", "source")
    )


def with_shard_id(
    b: DataFrame, budget: int, part: list[str] | None = None
) -> DataFrame:
    """``b`` + ``shard_id``: the distributed-exclusive-prefix-sum shard
    assignment — THE single definition of the packing shape, shared by
    ``shard_pack`` (global) and the manifest ops (``part=["split"]``).

    ``b`` must carry (doc_id, ws_tokens, h, bucket, *part). Per
    partition group: a window partitioned by (*part, bucket) computes
    the within-bucket exclusive running token sum (hash order);
    per-bucket totals (``N_BUCKETS`` rows per group) get a per-group
    exclusive prefix and broadcast back. shard_id = token offset DIV
    budget — integer arithmetic end to end. The heavy windows stay
    partitioned by bucket at any scale; only the tiny offset table is
    per-group ordered."""
    part = part or []
    w_in = (
        Window.partitionBy(*part, "bucket")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pre = b.withColumn(
        "pre", F.coalesce(F.sum("ws_tokens").over(w_in), F.lit(0))
    )
    w_off = (
        Window.partitionBy(*part)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        b.groupBy(*part, "bucket")
        .agg(F.sum("ws_tokens").alias("btot"))
        .withColumn("off", F.coalesce(F.sum("btot").over(w_off), F.lit(0)))
        .select(*part, "bucket", "off")
    )
    return (
        pre.join(F.broadcast(offsets), [*part, "bucket"])
        .withColumn("shard_id", F.expr(f"(pre + off) DIV {budget}"))
        .drop("pre", "off")
    )


def shard_pack(
    spark: SparkSession, sf_dir: str, budget: int = SHARD_TOKENS
) -> DataFrame:
    """Assign each doc to a ~``budget``-token training shard — the global
    form of ``with_shard_id`` (see there for the prefix-sum shape)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.size(F.filter(F.split("text", " +"), lambda t: t != F.lit("")))
    b = docs.select(
        "doc_id",
        toks.cast("long").alias("ws_tokens"),
        _hash32(F.col("doc_id")).alias("h"),
    ).withColumn("bucket", F.col("h") % N_BUCKETS)
    return with_shard_id(b, budget).select("doc_id", "ws_tokens", "shard_id")


SEQ_LEN = 512  # tokens per packed training sequence


def sequence_pack(
    spark: SparkSession,
    sf_dir: str,
    seq_len: int = SEQ_LEN,
    epoch: str | None = None,
) -> DataFrame:
    """(doc_id, seq_id, offset_in_seq, frag_tokens): concatenate-then-slice
    SAMPLE PACKING — the map from documents to the fixed-length training
    sequences a data loader actually feeds the model, one row per
    (document × sequence) fragment.

    ``shard_pack`` assigns whole docs to ~4k-token STORAGE shards;
    training additionally needs every doc laid onto a global token line
    cut into exact ``seq_len``-token sequences, docs crossing cuts split
    into fragments (GPT-style packing: no padding, boundaries recorded
    so the loader can reset attention masks). The token line is the same
    deterministic (hash32(doc_id), doc_id) order the shard packer pins —
    reproducible from the corpus alone.

    Plan shape = ``with_shard_id``'s two-level exclusive prefix sum
    (within-bucket window + broadcast ``N_BUCKETS``-row offset table)
    to place each doc's global start, then a MAP-ONLY in-row explode of
    the sequence-id range it spans — fragments per doc =
    ceil-ish(ws_tokens / seq_len) ≤ 1 + ws_tokens/seq_len, so output
    size is O(total_tokens / seq_len + n_docs): linear, no extra
    shuffle after the placement. Zero-token docs carry no trainable
    content and emit no fragment (documented; the manifest ops keep
    their audit rows instead).

    100 TB note: the heavy window stays bucket-partitioned; the only
    ordered structure is the offset table (N_BUCKETS rows). Cutting
    sequences never shuffles — each fragment's (seq_id, offset, length)
    is row-local arithmetic on the doc's start.

    ``epoch`` (optional): multi-epoch training wants a DIFFERENT
    placement each pass, still a pure function of (corpus, epoch) so
    restarts replay it — seed the order key exactly as
    ``corpus_shuffle`` does, md5('{epoch}:' || doc_id), and the whole
    two-level placement (bucket, within-bucket rank, global start)
    reshuffles with one literal while every tiling invariant is
    preserved (same prefix-sum algebra, invariant-tested per epoch).
    ``None`` keeps the bare-doc_id key — the registered oracle form.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.size(F.filter(F.split("text", " +"), lambda t: t != F.lit("")))
    key = (
        F.col("doc_id")
        if epoch is None
        else F.concat(F.lit(f"{epoch}:"), F.col("doc_id"))
    )
    b = (
        docs.select(
            "doc_id",
            toks.cast("long").alias("ws_tokens"),
            _hash32(key).alias("h"),
        )
        .where(F.col("ws_tokens") > 0)
        .withColumn("bucket", F.col("h") % N_BUCKETS)
    )
    w_in = (
        Window.partitionBy("bucket")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pre = b.withColumn(
        "pre", F.coalesce(F.sum("ws_tokens").over(w_in), F.lit(0))
    )
    w_off = (
        Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        b.groupBy("bucket")
        .agg(F.sum("ws_tokens").alias("btot"))
        .withColumn("off", F.coalesce(F.sum("btot").over(w_off), F.lit(0)))
        .select("bucket", "off")
    )
    placed = pre.join(F.broadcast(offsets), "bucket").withColumn(
        "start", (F.col("pre") + F.col("off")).cast("long")
    )
    return (
        placed.select(
            "doc_id",
            "start",
            "ws_tokens",
            F.explode(
                F.expr(
                    f"sequence(start DIV {seq_len}, "
                    f"(start + ws_tokens - 1) DIV {seq_len})"
                )
            ).alias("seq_id"),
        )
        .select(
            "doc_id",
            "seq_id",
            (
                F.greatest(F.col("start"), F.col("seq_id") * seq_len)
                - F.col("seq_id") * seq_len
            ).alias("offset_in_seq"),
            (
                F.least(
                    F.col("start") + F.col("ws_tokens"),
                    (F.col("seq_id") + 1) * seq_len,
                )
                - F.greatest(F.col("start"), F.col("seq_id") * seq_len)
            ).alias("frag_tokens"),
        )
    )


TEMPERATURE_BUDGET_DIV = 2  # keep total DIV 2 docs across the mixed corpus


def temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source): temperature-scaled source mixing, τ = 0.5.

    The LLM data-mixing op: sample sources proportionally to count^τ
    (τ < 1 upweights small sources vs natural frequency; τ = 0.5 uses
    ``sqrt``, which is correctly-rounded IEEE — bit-identical in Python,
    Spark, and DuckDB, unlike a libm ``pow``). Per-source quota =
    floor(B·√n_s / Σ√n), B = total DIV 2; the Σ folds over sources in
    sorted order on BOTH engines so double addition order is pinned.

    Quotas are computed from a |sources|-row aggregate fetch (the same
    plan-parameterizing pattern as ``source_mix``'s ``u``), making the
    rank cut-off a literal: the ``rn <= max_quota`` filter plans as
    WindowGroupLimit, so a hot source is top-k-pruned map-side instead of
    fully sorted in one partition. Selection is deterministic hash order.
    """
    import math

    docs = load_table(spark, sf_dir, "documents")
    counts = sorted(
        (r["source"], r["cnt"])
        for r in docs.groupBy("source").agg(F.count("*").alias("cnt")).collect()
    )
    wsum = sum(math.sqrt(c) for _, c in counts)  # sorted-source fold order
    budget = sum(c for _, c in counts) // TEMPERATURE_BUDGET_DIV
    quotas = {s: int(math.floor(budget * math.sqrt(c) / wsum)) for s, c in counts}
    max_quota = max(quotas.values(), default=0)
    quota = local_table(
        spark, [(s, q) for s, q in quotas.items()], "source string, quota long"
    )
    w_rank = Window.partitionBy("source").orderBy("h", "doc_id")
    return (
        docs.select("doc_id", "source", _hash32(F.col("doc_id")).alias("h"))
        .withColumn("rn", F.row_number().over(w_rank))
        .where(F.col("rn") <= F.lit(max_quota))  # literal → WindowGroupLimit
        .join(F.broadcast(quota), "source")
        .where(F.col("rn") <= F.col("quota"))
        .select("doc_id", "source")
    )


CHUNK_TOKENS = 32  # context-window chunk length (tokens)
CHUNK_STRIDE = 24  # start-to-start stride → 8-token overlap


def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, chunk_id, n_chunk_tokens, chunk_text): fixed-window chunking.

    Context-window splitting for training/RAG ingestion: overlapping
    ``CHUNK_TOKENS``-token windows every ``CHUNK_STRIDE`` tokens (the
    standard HF-style ``range(0, len, stride)`` sweep, last chunk ragged).
    Pure in-row array expressions — chunk generation is map-only with no
    shuffle, so it inherits the scan's partitioning at any corpus size.
    Whitespace tokens (not the letters-only tokenizer) so chunk text
    round-trips the original words.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = F.filter(F.split("text", " +"), lambda w: w != F.lit(""))
    chunks = F.expr(
        f"transform(sequence(0, (size(t) - 1) DIV {CHUNK_STRIDE}), "
        f"k -> struct(k AS chunk_id, "
        f"concat_ws(' ', slice(t, k * {CHUNK_STRIDE} + 1, {CHUNK_TOKENS})) "
        f"AS chunk_text))"
    )
    return (
        docs.select("doc_id", t.alias("t"))
        .where(F.size("t") > 0)
        .select("doc_id", F.explode(chunks).alias("c"))
        .select(
            "doc_id",
            F.col("c.chunk_id").alias("chunk_id"),
            F.size(F.split("c.chunk_text", " ")).alias("n_chunk_tokens"),
            F.col("c.chunk_text").alias("chunk_text"),
        )
    )


def training_manifest(
    spark: SparkSession,
    sf_dir: str,
    budget: int = SHARD_TOKENS,
    comp: DataFrame | None = None,
    scored: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, component, split, quality, ws_tokens, shard_id): the
    END-TO-END curated-corpus emission — near-dup survivor selection,
    leakage-safe train/val/test assignment, and token-budget shard
    packing composed into ONE oracle-checked plan. This is the manifest
    a training job actually reads: every surviving doc with its split
    and its shard, nothing else needed.

    Stages (each is the already-gated op's exact logic, composed, so
    the pipeline cannot drift from its pieces):

    1. **Survive** (``dedup_keep_best`` semantics): each near-dup
       component keeps its highest-quality member (rounded-score order,
       ties to the smaller doc_id); singletons survive trivially.
    2. **Split** (``leakage_safe_split`` semantics): the split keys on
       the COMPONENT hash, so a survivor and its dropped near-twins all
       belonged to one split — no eval contamination by construction.
       (Survivor selection never moves a doc across splits: one
       component → one split → one survivor inside it.)
    3. **Pack** (``shard_pack`` semantics, partitioned per split):
       distributed exclusive prefix sum over hash buckets WITHIN each
       split, so shard_id is a per-split global token offset DIV
       ``budget``. The heavy windows stay partitioned by (split,
       bucket); only the 3×``N_BUCKETS``-row offset table is
       per-split ordered, and it broadcasts back.

    Scale notes: quality + token counts are one map-only pass over the
    corpus scan; the component closure is pair-graph-sized (at 100 TB,
    the materialized ``neardup_components`` artifact replaces the
    in-plan closure). The survivors frame is ``localCheckpoint``ed
    before packing: the prefix-sum structure reads it twice (per-row
    window + offsets aggregate), and without the checkpoint the entire
    survive+split subplan doubles into both branches (measured 52
    exchanges in one plan; with the checkpoint the survive+split stage
    runs once and the packing plan is 4). A real pipeline stages the
    survivor manifest to storage at exactly this boundary anyway.
    """
    from big_data_toolkit_spark.operators.dedup import (
        dedup_components,
        split_col,
    )
    from big_data_toolkit_spark.operators.quality import quality_expressions

    if scored is None:
        docs = load_table(spark, sf_dir, "documents")
        e = quality_expressions()
        ws = F.size(F.filter(F.split("text", " +"), lambda t: t != F.lit("")))
        # Checkpointed: the best-per-component branch and the output branch
        # both read this frame, and map-only branches have no exchange to
        # reuse — without the checkpoint the regex-heavy quality scan
        # evaluates twice. Three narrow columns per doc, the cheap thing to
        # stage vs re-reading text. ``scored`` (optional) lets a composing
        # caller (``manifest_compact``) stage this once for both its post
        # and prev pipelines instead of paying the scan per pipeline.
        scored = docs.select(
            "doc_id",
            F.round(e["score"], 6).alias("quality"),
            ws.cast("long").alias("ws_tokens"),
        ).localCheckpoint()
    if comp is None:
        comp = dedup_components(spark, sf_dir)
    w_best = Window.partitionBy("component").orderBy(
        F.col("quality").desc(), F.col("doc_id")
    )
    best = (
        comp.join(scored.select("doc_id", "quality"), "doc_id")
        .withColumn("_rk", F.row_number().over(w_best))
        .where(F.col("_rk") == 1)
        .select("component", F.col("doc_id").alias("_best_doc"))
    )
    kept = (
        scored.join(comp, "doc_id", "left")
        .withColumn("component", F.coalesce("component", F.col("doc_id")))
        .join(best, "component", "left")
        .where(
            F.col("_best_doc").isNull()
            | (F.col("doc_id") == F.col("_best_doc"))
        )
        .withColumn("split", split_col(F.col("component")))
        .withColumn("h", _hash32(F.col("doc_id")))
        .withColumn("bucket", F.col("h") % N_BUCKETS)
        .localCheckpoint()
    )
    return with_shard_id(kept, budget, part=["split"]).select(
        "doc_id", "component", "split", "quality", "ws_tokens", "shard_id"
    )


def manifest_ingest_delta(
    spark: SparkSession,
    sf_dir: str,
    budget: int = SHARD_TOKENS,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, component, split, quality, ws_tokens, kept, shard_id):
    the INTRA-DAY complement of ``training_manifest`` — manifest rows
    for an arriving delta batch (the shared ``doc_id % NEW_BATCH_MOD``
    convention), corpus-relative: the nightly manifest is immutable,
    the delta appends.

    Per new doc:

    * **kept** = no MinHash near-dup in the EXISTING corpus (the
      ``dedup_minhash_incremental`` check — arrival order wins: the
      corpus' member is already the manifest's survivor). Within-batch
      pairs are deliberately out of scope, per the incremental-dedup
      family's corpus-relative contract — the next nightly rebuild
      settles them.
    * **component** = for a dropped doc, the minimum existing component
      among its matches (so the audit row points INTO the nightly
      manifest); for a kept doc, itself (a genuinely new singleton).
      The corpus closure here is CORPUS-ONLY pairs (both endpoints
      outside the delta) — the closure the nightly manifest ran,
      not one contaminated by the arriving batch.
    * **split** = the component hash — a dropped doc therefore shows
      the SPLIT ITS NEAR-TWIN LIVES IN, and a kept doc's assignment
      uses the same rule the nightly manifest will apply.  The
      no-straddle guarantee is scoped to DELTA-VS-CORPUS pairs: two
      kept delta twins (within-batch near-dups, out of scope here)
      each get component = self and independent splits, and may
      straddle until the next nightly rebuild merges their components
      (``manifest_compact`` is that rebuild — it re-keys the split on
      the merged component and reports every such move).
    * **shard_id** = delta-local token-budget packing of the KEPT docs
      per split (the ``shard_pack`` prefix-sum shape): the delta opens
      NEW shards starting at 0 — stored shards are immutable, an
      append never rewrites one. NULL for dropped docs.

    ``pairs`` (optional): the FULL stored near-dup pair table
    (``plans.materialize``'s ``neardup_pairs``) — both the corpus-only
    closure and the cross matches then derive from the store and the
    in-plan MinHash passes disappear.
    """
    from big_data_toolkit_spark.operators.dedup import (
        NEW_BATCH_MOD,
        dedup_components,
        dedup_minhash_lsh,
        split_col,
    )
    from big_data_toolkit_spark.operators.quality import quality_expressions

    def _is_new(col):
        return col % NEW_BATCH_MOD == NEW_BATCH_MOD - 1

    if pairs is None:
        # ONE MinHash pass: the full verified pair table is checkpointed
        # and BOTH the corpus-only closure and the cross matches filter
        # it — running dedup_minhash_incremental as a separate branch
        # would re-execute the whole shingle+signature pipeline a second
        # time for a subset of the pairs this table already holds.
        pairs = dedup_minhash_lsh(spark, sf_dir).localCheckpoint()
    corpus_pairs = pairs.where(~_is_new(F.col("d1")) & ~_is_new(F.col("d2")))
    comp = dedup_components(spark, sf_dir, pairs=corpus_pairs)
    # The pair table holds every verified pair (d1 < d2); the cross
    # slice in either orientation IS the incremental check's match set
    # (same banding, same threshold — asserted against
    # dedup_minhash_incremental in the semantics test, and bit-equal
    # through the stored-pairs form in tests/test_materialize.py).
    matches = (
        pairs.where(_is_new(F.col("d1")) & ~_is_new(F.col("d2")))
        .select(F.col("d1").alias("doc_id"), F.col("d2").alias("dup_of"))
        .unionByName(
            pairs.where(_is_new(F.col("d2")) & ~_is_new(F.col("d1"))).select(
                F.col("d2").alias("doc_id"), F.col("d1").alias("dup_of")
            )
        )
    )
    match_comp = (
        matches.join(
            comp.select(F.col("doc_id").alias("dup_of"), "component"),
            "dup_of",
            "left",
        )
        .select(
            "doc_id",
            F.coalesce("component", F.col("dup_of")).alias("component"),
        )
        .groupBy("doc_id")
        .agg(F.min("component").alias("_mcomp"))
    )

    docs = load_table(spark, sf_dir, "documents")
    e = quality_expressions()
    ws = F.size(F.filter(F.split("text", " +"), lambda t: t != F.lit("")))
    delta = docs.where(_is_new(F.col("doc_id"))).select(
        "doc_id",
        F.round(e["score"], 6).alias("quality"),
        ws.cast("long").alias("ws_tokens"),
    )
    kb = (
        delta.join(match_comp, "doc_id", "left")
        .select(
            "doc_id",
            "quality",
            "ws_tokens",
            F.coalesce("_mcomp", F.col("doc_id")).alias("component"),
            F.col("_mcomp").isNull().alias("kept"),
        )
        .withColumn("split", split_col(F.col("component")))
        .withColumn("h", _hash32(F.col("doc_id")))
        .withColumn("bucket", F.col("h") % N_BUCKETS)
        # same stage boundary as training_manifest: the packing reads
        # the kept slice twice; checkpoint so the upstream runs once
        .localCheckpoint()
    )
    packed = with_shard_id(kb.where("kept"), budget, part=["split"]).select(
        "doc_id", "shard_id"
    )
    return kb.join(packed, "doc_id", "left").select(
        "doc_id",
        "component",
        "split",
        "quality",
        "ws_tokens",
        "kept",
        "shard_id",
    )


def manifest_compact(
    spark: SparkSession,
    sf_dir: str,
    budget: int = SHARD_TOKENS,
    pairs: DataFrame | None = None,
    comp: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, component, split, prev_split, split_moved, prev_kept,
    quality, ws_tokens, shard_id): the NIGHTLY REBUILD that closes the
    manifest lifecycle — ``training_manifest`` emits the nightly
    snapshot, ``manifest_ingest_delta`` appends intra-day with
    corpus-relative (arrival-order-wins, within-batch-blind) semantics,
    and THIS op is the next night: survivor selection re-runs over the
    UNIONED corpus with the FULL closure (corpus + cross + within-batch
    pairs), so every provisional delta decision is settled.

    One row per POST-compaction survivor (the manifest a training job
    reads), each carrying its pre-compaction state for the audit:

    * ``prev_split`` / ``prev_kept`` = what the base manifest (corpus
      docs, corpus-only closure) or the delta append (delta docs,
      cross-match rule) had assigned.
    * ``split_moved`` = the component merge re-keyed the split hash —
      exactly the within-batch-twin straddle window the ingest-delta
      docstring scopes out; compaction is where it closes.
    * a survivor with ``prev_kept = false`` is a delta doc that LOST to
      arrival order intra-day but WINS on quality at the rebuild (the
      corpus twin it matched was lower-quality) — the semantic
      difference between the incremental and nightly rules, surfaced
      as data.

    Plan shape: ONE MinHash pass (the checkpointed pair table feeds the
    full closure, the corpus-only closure, and the cross matches), two
    pair-graph-sized propagation closures, and ONE staged quality scan
    whose (quality, ws_tokens) serve both the ``training_manifest``
    pipeline over the full closure AND the prev-state columns (the post
    and prev scores are the same 6-decimal expression, so the scan is
    shared, not repeated). ``pairs`` (optional):
    the stored ``neardup_pairs`` artifact — the production shape, where
    compaction costs zero MinHash work; ``comp`` (optional): the stored
    ``neardup_components`` closure (it covers the FULL pair graph,
    delta nodes included), which also skips the full-closure propagation
    rounds — the materialized form then runs only the corpus-only
    closure in-plan (see ``plans.materialize``).
    """
    from big_data_toolkit_spark.operators.dedup import (
        NEW_BATCH_MOD,
        dedup_components,
        dedup_minhash_lsh,
        split_col,
    )
    from big_data_toolkit_spark.operators.quality import quality_expressions

    def _is_new(col):
        return col % NEW_BATCH_MOD == NEW_BATCH_MOD - 1

    if pairs is None:
        pairs = dedup_minhash_lsh(spark, sf_dir).localCheckpoint()
    corpus_pairs = pairs.where(~_is_new(F.col("d1")) & ~_is_new(F.col("d2")))
    # The corpus-only closure shares only the CHECKPOINTED pair table with
    # the post pipeline and writes nothing, so its eager checkpoint chain
    # is an independent job DAG — run it from a side thread (guide §2.6,
    # the ``build_artifacts`` pattern) so its rounds back-fill the
    # stragglers of the full closure + quality scan + post manifest built
    # on the main thread (r14, VERDICT r13 item 4). Neither chain reads
    # the ``events`` table, so the nanosAsLong set/restore in
    # ``load_table`` is not in play across these threads. Both threads read
    # parquet through ``catalog.read_parquet``'s shared schema cache, which
    # is safe to share: lookups are atomic dict gets, the bounded store
    # takes a lock, and at worst both threads infer the same schema.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=1) as pool:
        corp_fut = pool.submit(
            lambda: dedup_components(
                spark, sf_dir, pairs=corpus_pairs
            ).localCheckpoint()
        )
        full_comp = (
            dedup_components(spark, sf_dir, pairs=pairs)
            if comp is None
            else comp
        )
        # ONE quality pass serves both pipelines: the post manifest's
        # (quality, ws_tokens) and the prev state's q_prev are the same
        # 6-decimal-rounded score over the same corpus scan, so staging it
        # once and handing it to ``training_manifest`` halves the
        # regex-heavy map work this op used to pay (the old shape ran the
        # scan once per pipeline).
        docs = load_table(spark, sf_dir, "documents")
        e = quality_expressions()
        ws = F.size(F.filter(F.split("text", " +"), lambda t: t != F.lit("")))
        scored = docs.select(
            "doc_id",
            F.round(e["score"], 6).alias("quality"),
            ws.cast("long").alias("ws_tokens"),
        ).localCheckpoint()
        # The post state IS training_manifest over the full closure — the
        # pipeline cannot drift from the gated op because it IS the gated
        # op.
        post = training_manifest(
            spark, sf_dir, budget, comp=full_comp, scored=scored
        )
        corp_comp = corp_fut.result()
    prev_scored = scored.select("doc_id", F.col("quality").alias("q_prev"))
    matches = (
        pairs.where(_is_new(F.col("d1")) & ~_is_new(F.col("d2")))
        .select(F.col("d1").alias("doc_id"), F.col("d2").alias("dup_of"))
        .unionByName(
            pairs.where(_is_new(F.col("d2")) & ~_is_new(F.col("d1"))).select(
                F.col("d2").alias("doc_id"), F.col("d1").alias("dup_of")
            )
        )
    )
    match_comp = (
        matches.join(
            corp_comp.select(F.col("doc_id").alias("dup_of"), "component"),
            "dup_of",
            "left",
        )
        .select(
            "doc_id",
            F.coalesce("component", F.col("dup_of")).alias("component"),
        )
        .groupBy("doc_id")
        .agg(F.min("component").alias("_mcomp"))
    )
    w_prev = Window.partitionBy("_pcomp").orderBy(
        F.col("q_prev").desc(), F.col("doc_id")
    )
    corpus_prev = (
        prev_scored.where(~_is_new(F.col("doc_id")))
        .join(corp_comp, "doc_id", "left")
        .withColumn("_pcomp", F.coalesce("component", F.col("doc_id")))
        .withColumn("_rk", F.row_number().over(w_prev))
        .select("doc_id", "_pcomp", (F.col("_rk") == 1).alias("prev_kept"))
    )
    delta_prev = (
        prev_scored.where(_is_new(F.col("doc_id")))
        .join(match_comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("_mcomp", F.col("doc_id")).alias("_pcomp"),
            F.col("_mcomp").isNull().alias("prev_kept"),
        )
    )
    prev = corpus_prev.unionByName(delta_prev).select(
        "doc_id",
        split_col(F.col("_pcomp")).alias("prev_split"),
        "prev_kept",
    )
    return post.join(prev, "doc_id").select(
        "doc_id",
        "component",
        "split",
        "prev_split",
        (F.col("split") != F.col("prev_split")).alias("split_moved"),
        "prev_kept",
        "quality",
        "ws_tokens",
        "shard_id",
    )


# ---------------------------------------------------------------------------
# DuckDB oracle SQL
# ---------------------------------------------------------------------------

PRIORITY_SAMPLE_N = 100


def priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, weight, key): weight-proportional sample of
    ``PRIORITY_SAMPLE_N`` docs via A-ES exponential jittering.

    Weighted sampling without replacement — the curation step "sample docs
    proportionally to length/quality" — as a PURE EXPRESSION plus top-k
    (Efraimidis & Spirakis 2006, exponential-clocks form): each doc draws
    ``key = -ln(u)/w`` with u hash-deterministic in (0,1) (md5, like every
    sampler here — reproducible, partitioning-independent, no RNG state)
    and the N smallest keys win. No shuffle: TakeOrderedAndProject keeps N
    rows per partition; the full sort never happens. The same expression
    ranks identically in both engines (one ln, one division on identical
    doubles), ties broken by doc_id.
    """
    docs = load_table(spark, sf_dir, "documents")
    u = (_hash32(F.col("doc_id")) + F.lit(0.5)) / F.lit(float(2**32))
    key = -F.log(u) / F.col("n_chars").cast("double")
    return (
        docs.select(
            "doc_id", F.col("n_chars").alias("weight"), key.alias("key_raw")
        )
        .orderBy("key_raw", "doc_id")
        .limit(PRIORITY_SAMPLE_N)
        .select("doc_id", "weight", F.round("key_raw", 6).alias("key"))
    )


_H = _H32_SQL.format(col="doc_id")
_MIX_VALUES = ", ".join(f"('{s}', {w})" for s, w in MIX_WEIGHTS.items())

ORACLE_SQL: dict[str, str] = {
    "hash_sample": f"""
        SELECT doc_id, source, n_chars
        FROM documents
        WHERE {_H} % 10000 < {SAMPLE_BP}
    """,
    "stratified_sample": f"""
        WITH r AS (
          SELECT doc_id, source,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY {_H}, doc_id) AS rn
          FROM documents
        )
        SELECT doc_id, source FROM r WHERE rn <= {STRATUM_K}
    """,
    "source_mix": f"""
        WITH weights(source, w) AS (VALUES {_MIX_VALUES}),
        counts AS (
          SELECT source, count(*) AS cnt FROM documents GROUP BY source
        ),
        units AS (
          SELECT min(cnt // w) AS u
          FROM counts JOIN weights USING (source)
        ),
        quota AS (
          SELECT source, w * u AS quota FROM weights CROSS JOIN units
        ),
        r AS (
          SELECT doc_id, source,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY {_H}, doc_id) AS rn
          FROM documents
        )
        SELECT doc_id, r.source
        FROM r JOIN quota ON r.source = quota.source
        WHERE rn <= quota
    """,
    "shard_pack": f"""
        WITH b AS (
          SELECT doc_id,
                 len(list_filter(string_split_regex(text, ' +'),
                                 t -> t <> ''))::BIGINT AS ws_tokens,
                 {_H} AS h,
                 {_H} % {N_BUCKETS} AS bucket
          FROM documents
        ),
        pre AS (
          -- DuckDB widens SUM(BIGINT) windows to HUGEINT; pin BIGINT so the
          -- driver hash matches Spark's long (BASELINE.md integer protocol).
          SELECT *,
                 CAST(COALESCE(SUM(ws_tokens) OVER (
                   PARTITION BY bucket ORDER BY h, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS pre
          FROM b
        ),
        offsets AS (
          SELECT bucket,
                 CAST(COALESCE(SUM(SUM(ws_tokens)) OVER (
                   ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS off
          FROM b GROUP BY bucket
        )
        SELECT pre.doc_id, pre.ws_tokens,
               CAST((pre.pre + offsets.off) // {SHARD_TOKENS} AS BIGINT)
                 AS shard_id
        FROM pre JOIN offsets USING (bucket)
    """,
}

ORACLE_SQL["chunk_documents"] = f"""
    WITH x AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, ' +'), w -> w <> '') AS t
      FROM documents
    ),
    c AS (
      SELECT doc_id,
             unnest([{{'chunk_id': k,
                       'chunk_text': array_to_string(
                         list_slice(t, k * {CHUNK_STRIDE} + 1,
                                    k * {CHUNK_STRIDE} + {CHUNK_TOKENS}), ' ')}}
                     for k in range(0, (len(t) - 1) // {CHUNK_STRIDE} + 1)],
                    recursive := true)
      FROM x WHERE len(t) > 0
    )
    SELECT doc_id, chunk_id,
           len(string_split(chunk_text, ' ')) AS n_chunk_tokens,
           chunk_text
    FROM c
"""

ORACLE_SQL["temperature_mix"] = f"""
    WITH counts AS (
      SELECT source, count(*) AS cnt FROM documents GROUP BY source
    ),
    agg AS (
      SELECT list_sort(list({{'source': source, 'cnt': cnt}})) AS arr
      FROM counts
    ),
    w AS (
      SELECT list_sum(list_transform(arr, x -> sqrt(x.cnt))) AS wsum,
             list_sum(list_transform(arr, x -> x.cnt)) AS total
      FROM agg
    ),
    quota AS (
      SELECT c.source,
             floor(((w.total // {TEMPERATURE_BUDGET_DIV}) * sqrt(c.cnt)) / w.wsum)::BIGINT
               AS quota
      FROM counts c, w
    ),
    ranked AS (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source ORDER BY {_H32_SQL.format(col="doc_id")}, doc_id
             ) AS rn
      FROM documents
    )
    SELECT doc_id, source
    FROM ranked JOIN quota USING (source)
    WHERE rn <= quota
"""

ORACLE_SQL["priority_sample"] = f"""
    SELECT doc_id, n_chars AS weight,
           round(-ln(({_H} + 0.5) / {float(2**32)}) /
                 CAST(n_chars AS DOUBLE), 6) AS key
    FROM documents
    ORDER BY -ln(({_H} + 0.5) / {float(2**32)}) / CAST(n_chars AS DOUBLE),
             doc_id
    LIMIT {PRIORITY_SAMPLE_N}
"""

def _training_manifest_sql() -> str:
    """Composed from the gated pieces' own SQL fragments (component
    CTEs, quality score expression, the shard_pack prefix-sum shape) so
    the pipeline oracle cannot drift from the stage oracles."""
    from big_data_toolkit_spark.operators.dedup import (
        CC_ITERS,
        SPLIT_TRAIN_PCT,
        SPLIT_VAL_PCT,
        dedup_components_oracle_sql,
    )
    from big_data_toolkit_spark.operators.quality import (
        QUALITY_FEATURES_SQL,
        QUALITY_SCORE_EXPR_SQL,
    )

    h_comp = _H32_SQL.format(col="component") + " % 100"
    return f"""
    WITH comp AS ({dedup_components_oracle_sql(CC_ITERS)}),
    q AS (
      SELECT doc_id, round({QUALITY_SCORE_EXPR_SQL}, 6) AS quality
      FROM ({QUALITY_FEATURES_SQL})
    ),
    tok AS (
      SELECT doc_id,
             len(list_filter(string_split_regex(text, ' +'),
                             t -> t <> ''))::BIGINT AS ws_tokens
      FROM documents
    ),
    best AS (
      SELECT component, doc_id AS best_doc FROM (
        SELECT c.component, c.doc_id,
               row_number() OVER (PARTITION BY c.component
                 ORDER BY q.quality DESC, c.doc_id) AS rk
        FROM comp c JOIN q ON q.doc_id = c.doc_id
      ) WHERE rk = 1
    ),
    kept AS (
      SELECT d.doc_id,
             coalesce(c.component, d.doc_id) AS component,
             q.quality, tok.ws_tokens
      FROM documents d
      JOIN q ON q.doc_id = d.doc_id
      JOIN tok ON tok.doc_id = d.doc_id
      LEFT JOIN comp c ON c.doc_id = d.doc_id
      LEFT JOIN best b ON b.component = coalesce(c.component, d.doc_id)
      WHERE b.best_doc IS NULL OR d.doc_id = b.best_doc
    ),
    kb AS (
      SELECT *,
             CASE WHEN {h_comp} < {SPLIT_TRAIN_PCT} THEN 'train'
                  WHEN {h_comp} < {SPLIT_VAL_PCT} THEN 'val'
                  ELSE 'test' END AS split,
             {_H} AS h, {_H} % {N_BUCKETS} AS bucket
      FROM kept
    ),
    pre AS (
      -- BIGINT pins per the window-HUGEINT protocol (see shard_pack)
      SELECT *,
             CAST(COALESCE(SUM(ws_tokens) OVER (
               PARTITION BY split, bucket ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS pre
      FROM kb
    ),
    offsets AS (
      SELECT split, bucket,
             CAST(COALESCE(SUM(SUM(ws_tokens)) OVER (
               PARTITION BY split ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS off
      FROM kb GROUP BY split, bucket
    )
    SELECT p.doc_id, p.component, p.split, p.quality, p.ws_tokens,
           (p.pre + o.off) // {SHARD_TOKENS} AS shard_id
    FROM pre p
    JOIN offsets o ON o.split = p.split AND o.bucket = p.bucket
"""


ORACLE_SQL["training_manifest"] = _training_manifest_sql()


def _manifest_ingest_delta_sql() -> str:
    """Composed from the same gated fragments as the pipeline oracle:
    the full MinHash pair CTEs (``mh``), the components chain with the
    corpus-only ``pair_filter``, the shared quality-score SQL, and the
    shard_pack prefix-sum shape over the kept slice."""
    from big_data_toolkit_spark.operators.dedup import (
        CC_ITERS,
        NEW_BATCH_MOD,
        SPLIT_TRAIN_PCT,
        SPLIT_VAL_PCT,
        _MINHASH_CTES,
        dedup_components_oracle_sql,
    )
    from big_data_toolkit_spark.operators.quality import (
        QUALITY_FEATURES_SQL,
        QUALITY_SCORE_EXPR_SQL,
    )

    new = f"% {NEW_BATCH_MOD} = {NEW_BATCH_MOD - 1}"
    old = f"% {NEW_BATCH_MOD} <> {NEW_BATCH_MOD - 1}"
    corpus_only = f"WHERE d1 {old} AND d2 {old}"
    h_comp = _H32_SQL.format(col="component") + " % 100"
    return f"""
    WITH {_MINHASH_CTES},
    comp AS ({dedup_components_oracle_sql(CC_ITERS, corpus_only)}),
    matches AS (
      SELECT d1 AS doc_id, d2 AS dup_of FROM mh
      WHERE d1 {new} AND d2 {old}
      UNION ALL
      SELECT d2 AS doc_id, d1 AS dup_of FROM mh
      WHERE d2 {new} AND d1 {old}
    ),
    mc AS (
      SELECT m.doc_id,
             min(coalesce(c.component, m.dup_of)) AS mcomp
      FROM matches m LEFT JOIN comp c ON c.doc_id = m.dup_of
      GROUP BY m.doc_id
    ),
    q AS (
      SELECT doc_id, round({QUALITY_SCORE_EXPR_SQL}, 6) AS quality
      FROM ({QUALITY_FEATURES_SQL})
    ),
    tok AS (
      SELECT doc_id,
             len(list_filter(string_split_regex(text, ' +'),
                             t -> t <> ''))::BIGINT AS ws_tokens
      FROM documents
    ),
    kb AS (
      SELECT d.doc_id,
             coalesce(mc.mcomp, d.doc_id) AS component,
             (mc.doc_id IS NULL) AS kept,
             q.quality, tok.ws_tokens,
             {_H32_SQL.format(col="d.doc_id")} AS h,
             {_H32_SQL.format(col="d.doc_id")} % {N_BUCKETS} AS bucket
      FROM documents d
      JOIN q ON q.doc_id = d.doc_id
      JOIN tok ON tok.doc_id = d.doc_id
      LEFT JOIN mc ON mc.doc_id = d.doc_id
      WHERE d.doc_id {new}
    ),
    kb2 AS (
      SELECT *,
             CASE WHEN {h_comp} < {SPLIT_TRAIN_PCT} THEN 'train'
                  WHEN {h_comp} < {SPLIT_VAL_PCT} THEN 'val'
                  ELSE 'test' END AS split
      FROM kb
    ),
    pre AS (
      SELECT *,
             CAST(COALESCE(SUM(ws_tokens) OVER (
               PARTITION BY split, bucket ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS pre
      FROM kb2 WHERE kept
    ),
    offsets AS (
      SELECT split, bucket,
             CAST(COALESCE(SUM(SUM(ws_tokens)) OVER (
               PARTITION BY split ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS off
      FROM kb2 WHERE kept GROUP BY split, bucket
    ),
    packed AS (
      SELECT p.doc_id, (p.pre + o.off) // {SHARD_TOKENS} AS shard_id
      FROM pre p JOIN offsets o ON o.split = p.split AND o.bucket = p.bucket
    )
    SELECT k.doc_id, k.component, k.split, k.quality, k.ws_tokens, k.kept,
           pk.shard_id
    FROM kb2 k LEFT JOIN packed pk ON pk.doc_id = k.doc_id
"""


ORACLE_SQL["manifest_ingest_delta"] = _manifest_ingest_delta_sql()


def _manifest_compact_sql() -> str:
    """Composed from the same gated fragments as the other two manifest
    oracles: the FULL closure (post state = the training_manifest body),
    the corpus-only closure + cross matches (prev state = the base
    manifest / ingest-delta rules), the shared quality-score SQL, and
    the shard_pack prefix-sum shape.  The MinHash pipeline appears once
    per closure (the oracle is deliberately self-contained; the engine
    shares ONE checkpointed pair table across all three uses)."""
    from big_data_toolkit_spark.operators.dedup import (
        CC_ITERS,
        NEW_BATCH_MOD,
        SPLIT_TRAIN_PCT,
        SPLIT_VAL_PCT,
        _MINHASH_CTES,
        dedup_components_oracle_sql,
    )
    from big_data_toolkit_spark.operators.quality import (
        QUALITY_FEATURES_SQL,
        QUALITY_SCORE_EXPR_SQL,
    )

    new = f"% {NEW_BATCH_MOD} = {NEW_BATCH_MOD - 1}"
    old = f"% {NEW_BATCH_MOD} <> {NEW_BATCH_MOD - 1}"
    corpus_only = f"WHERE d1 {old} AND d2 {old}"
    h_comp = _H32_SQL.format(col="component") + " % 100"
    h_pcomp = _H32_SQL.format(col="pcomp") + " % 100"
    split_case = (
        f"CASE WHEN {{h}} < {SPLIT_TRAIN_PCT} THEN 'train' "
        f"WHEN {{h}} < {SPLIT_VAL_PCT} THEN 'val' ELSE 'test' END"
    )
    return f"""
    WITH {_MINHASH_CTES},
    comp AS ({dedup_components_oracle_sql(CC_ITERS)}),
    compc AS ({dedup_components_oracle_sql(CC_ITERS, corpus_only)}),
    matches AS (
      SELECT d1 AS doc_id, d2 AS dup_of FROM mh
      WHERE d1 {new} AND d2 {old}
      UNION ALL
      SELECT d2 AS doc_id, d1 AS dup_of FROM mh
      WHERE d2 {new} AND d1 {old}
    ),
    mc AS (
      SELECT m.doc_id,
             min(coalesce(c.component, m.dup_of)) AS mcomp
      FROM matches m LEFT JOIN compc c ON c.doc_id = m.dup_of
      GROUP BY m.doc_id
    ),
    q AS (
      SELECT doc_id, round({QUALITY_SCORE_EXPR_SQL}, 6) AS quality
      FROM ({QUALITY_FEATURES_SQL})
    ),
    tok AS (
      SELECT doc_id,
             len(list_filter(string_split_regex(text, ' +'),
                             t -> t <> ''))::BIGINT AS ws_tokens
      FROM documents
    ),
    best AS (
      SELECT component, doc_id AS best_doc FROM (
        SELECT c.component, c.doc_id,
               row_number() OVER (PARTITION BY c.component
                 ORDER BY q.quality DESC, c.doc_id) AS rk
        FROM comp c JOIN q ON q.doc_id = c.doc_id
      ) WHERE rk = 1
    ),
    kept AS (
      SELECT d.doc_id,
             coalesce(c.component, d.doc_id) AS component,
             q.quality, tok.ws_tokens
      FROM documents d
      JOIN q ON q.doc_id = d.doc_id
      JOIN tok ON tok.doc_id = d.doc_id
      LEFT JOIN comp c ON c.doc_id = d.doc_id
      LEFT JOIN best b ON b.component = coalesce(c.component, d.doc_id)
      WHERE b.best_doc IS NULL OR d.doc_id = b.best_doc
    ),
    kb AS (
      SELECT *,
             {split_case.format(h=h_comp)} AS split,
             {_H} AS h, {_H} % {N_BUCKETS} AS bucket
      FROM kept
    ),
    pre AS (
      SELECT *,
             CAST(COALESCE(SUM(ws_tokens) OVER (
               PARTITION BY split, bucket ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS pre
      FROM kb
    ),
    offsets AS (
      SELECT split, bucket,
             CAST(COALESCE(SUM(SUM(ws_tokens)) OVER (
               PARTITION BY split ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS off
      FROM kb GROUP BY split, bucket
    ),
    post AS (
      SELECT p.doc_id, p.component, p.split, p.quality, p.ws_tokens,
             (p.pre + o.off) // {SHARD_TOKENS} AS shard_id
      FROM pre p
      JOIN offsets o ON o.split = p.split AND o.bucket = p.bucket
    ),
    prev_corpus AS (
      SELECT d.doc_id,
             coalesce(cc.component, d.doc_id) AS pcomp,
             row_number() OVER (
               PARTITION BY coalesce(cc.component, d.doc_id)
               ORDER BY q.quality DESC, d.doc_id) = 1 AS prev_kept
      FROM documents d
      JOIN q ON q.doc_id = d.doc_id
      LEFT JOIN compc cc ON cc.doc_id = d.doc_id
      WHERE d.doc_id {old}
    ),
    prev_delta AS (
      SELECT d.doc_id,
             coalesce(mc.mcomp, d.doc_id) AS pcomp,
             (mc.doc_id IS NULL) AS prev_kept
      FROM documents d LEFT JOIN mc ON mc.doc_id = d.doc_id
      WHERE d.doc_id {new}
    ),
    prev AS (
      SELECT doc_id,
             {split_case.format(h=h_pcomp)} AS prev_split,
             prev_kept
      FROM (SELECT * FROM prev_corpus UNION ALL SELECT * FROM prev_delta)
    )
    SELECT t.doc_id, t.component, t.split, v.prev_split,
           (t.split <> v.prev_split) AS split_moved,
           v.prev_kept, t.quality, t.ws_tokens, t.shard_id
    FROM post t JOIN prev v ON v.doc_id = t.doc_id
"""


ORACLE_SQL["manifest_compact"] = _manifest_compact_sql()

ORACLE_SQL["sequence_pack"] = f"""
    WITH b AS (
      SELECT doc_id,
             len(list_filter(string_split_regex(text, ' +'),
                             t -> t <> ''))::BIGINT AS ws_tokens,
             {_H} AS h,
             {_H} % {N_BUCKETS} AS bucket
      FROM documents
      WHERE len(list_filter(string_split_regex(text, ' +'),
                            t -> t <> '')) > 0
    ),
    pre AS (
      SELECT *,
             CAST(COALESCE(SUM(ws_tokens) OVER (
               PARTITION BY bucket ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS pre
      FROM b
    ),
    offsets AS (
      SELECT bucket,
             CAST(COALESCE(SUM(SUM(ws_tokens)) OVER (
               ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS off
      FROM b GROUP BY bucket
    ),
    placed AS (
      SELECT pre.doc_id, pre.ws_tokens,
             CAST(pre.pre + offsets.off AS BIGINT) AS start
      FROM pre JOIN offsets USING (bucket)
    ),
    frags AS (
      SELECT doc_id, start, ws_tokens,
             CAST(unnest(range(start // {SEQ_LEN},
                               (start + ws_tokens - 1) // {SEQ_LEN} + 1))
               AS BIGINT) AS seq_id
      FROM placed
    )
    SELECT doc_id, seq_id,
           CAST(greatest(start, seq_id * {SEQ_LEN})
                - seq_id * {SEQ_LEN} AS BIGINT) AS offset_in_seq,
           CAST(least(start + ws_tokens, (seq_id + 1) * {SEQ_LEN})
                - greatest(start, seq_id * {SEQ_LEN}) AS BIGINT)
             AS frag_tokens
    FROM frags
"""

QUERIES = {
    "hash_sample": hash_sample,
    "stratified_sample": stratified_sample,
    "source_mix": source_mix,
    "temperature_mix": temperature_mix,
    "shard_pack": shard_pack,
    "chunk_documents": chunk_documents,
    "priority_sample": priority_sample,
    "training_manifest": training_manifest,
    "manifest_ingest_delta": manifest_ingest_delta,
    "manifest_compact": manifest_compact,
    "sequence_pack": sequence_pack,
}


N_SHUFFLE_SHARDS = 8
SHUFFLE_EPOCH = "ep0"  # seed prefix; a new epoch string reshuffles everything


def corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shard, pos): deterministic global training-order shuffle —
    every document gets a shard and a position within it, uniformly random
    w.r.t. the md5 order key yet fully reproducible from the epoch seed.

    The epoch-shuffle pass every large-scale trainer needs (data order
    drives convergence; restarts must replay the identical order). Keyed
    on md5('{epoch}:' || doc_id) so the permutation is independent of the
    sampling hash (``hash_sample`` uses bare doc_id) and rotates per
    epoch by changing one literal.

    Scale shape: shard assignment is a pure map expression; the position
    is ONE row_number window per shard — exactly the per-shard sorted
    write a 100 TB shuffle materializes (each output shard is written
    sorted by the random key; readers stream shards sequentially). No
    global sort, no driver state; shard count scales the parallelism.
    """
    docs = load_table(spark, sf_dir, "documents")
    h = _hash32(F.concat(F.lit(SHUFFLE_EPOCH + ":"), F.col("doc_id")))
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return (
        docs.select("doc_id", h.alias("h"))
        .withColumn("shard", F.col("h") % N_SHUFFLE_SHARDS)
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .select("doc_id", "shard", "pos")
    )


_SHUF_H = _H32_SQL.format(col=f"'{SHUFFLE_EPOCH}:' || doc_id")

ORACLE_SQL["corpus_shuffle"] = f"""
    SELECT doc_id,
           {_SHUF_H} % {N_SHUFFLE_SHARDS} AS shard,
           row_number() OVER (
             PARTITION BY {_SHUF_H} % {N_SHUFFLE_SHARDS}
             ORDER BY {_SHUF_H}, doc_id
           ) AS pos
    FROM documents
"""

QUERIES["corpus_shuffle"] = corpus_shuffle

"""Corpus curation — the compositions a training-data run actually
executes: dedup → near-dup removal → quality gate, eval-set
decontamination, per-source mixture sampling, and context-window
chunking.

Each stage is one of the already-oracled primitives (dedup_exact,
dedup_survivors/jaccard_pairs, quality thresholds), composed in the fixed
order every large-scale curation pipeline uses:

1. **exact dedup first** — identical bytes are the cheapest to kill and
   doing it first shrinks every later stage's input (keep the lowest-id
   copy per md5 fingerprint);
2. **near-dup removal on the survivors** — pair detection never re-scores
   pairs of identical documents (they are already collapsed), so the
   inverted index is built over unique texts only;
3. **quality gate last** — token-count bounds and stopword-ratio cap
   (the reference point for thresholds is q20's definition), cheap
   per-row predicates that need no cross-row state.

Plan shape: stage 1 is one keyed shuffle on the 16-byte fingerprint;
stage 2 is the documented inverted-index/pair machinery plus a broadcast
anti-join; stage 3 is a codegen filter. The corpus text is shuffled
exactly once (stage 1); stages 2-3 move ids and grams only.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window
from pyspark.sql.functions import broadcast

from streaming_feature_store_spark import commit
from streaming_feature_store_spark.operators.dedup import (
    dedup_exact,
    dedup_survivors,
)


def curate_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    jaccard_threshold: float = 0.5,
    min_tokens: int = 10,
    max_tokens: int = 1000,
    max_stopword_ratio: float = 0.5,
) -> DataFrame:
    """The curated corpus: rows of ``df`` that survive exact dedup,
    near-dup removal (shingle-Jaccard ≥ ``jaccard_threshold`` drops the
    higher id), and the quality gate. Returns the surviving rows with
    their original columns plus ``n_tokens``."""
    uniq = dedup_exact(df, text_col, id_col)
    survivors = dedup_survivors(
        uniq, text_col, id_col, n=n, threshold=jaccard_threshold
    )
    toks = F.split(F.col(text_col), " ")
    n_tokens = F.size(toks)
    stop_ratio = F.size(
        F.filter(toks, lambda x: (x == "the") | (x == "a"))
    ) / n_tokens.cast("double")
    return (
        survivors.withColumn("n_tokens", n_tokens)
        .filter(
            (F.col("n_tokens") >= min_tokens)
            & (F.col("n_tokens") <= max_tokens)
            & (stop_ratio < max_stopword_ratio)
        )
    )


def decontaminate(
    train_df: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    max_containment: float = 0.0,
) -> DataFrame:
    """Eval-set contamination report: for each eval document, how much of
    its n-gram mass also appears anywhere in the training corpus.

    The GPT-3/PaLM decontamination rule — flag an eval example if any long
    n-gram (13 tokens there; parameterized here) collides with training
    text — generalized to a containment score so the caller can pick a
    threshold: ``containment = |grams(eval_doc) ∩ grams(train)| /
    |grams(eval_doc)|``, with ``is_contaminated`` true when it exceeds
    ``max_containment`` (0.0 = the strict any-collision rule).

    Plan shape: both corpora reduce to distinct 8-byte gram hashes
    (``_shingle_index`` — the mapInPandas set kernel, no shuffle); the
    train side further collapses to a DISTINCT gram-hash relation, so
    document text never crosses the wire. One hash join on the gram key +
    one per-eval-doc count. At 100 TB the train gram set is the big side —
    the standard scale path swaps the exact distinct relation for a Bloom
    filter broadcast (one-sided error only *inflates* containment, never
    hides contamination), which this plan admits without reshaping.

    Docs shorter than ``n`` tokens have no grams: ``n_grams = 0``,
    ``containment = 0.0``, never flagged.
    """
    from streaming_feature_store_spark.operators.dedup import _shingle_index

    train_grams = _shingle_index(train_df, text_col, id_col, n).select("sh").distinct()
    ev = _shingle_index(eval_df, text_col, id_col, n)
    sizes = ev.groupBy(id_col).agg(F.count("*").alias("n_grams"))
    hits = (
        ev.join(train_grams, "sh")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_shared_grams"))
    )
    containment = F.col("n_shared_grams") / F.col("n_grams").cast("double")
    return (
        eval_df.join(sizes, id_col, "left")
        .join(hits, id_col, "left")
        .withColumn("n_grams", F.coalesce("n_grams", F.lit(0)))
        .withColumn("n_shared_grams", F.coalesce("n_shared_grams", F.lit(0)))
        .withColumn(
            "containment",
            F.when(F.col("n_grams") > 0, F.round(containment, 6)).otherwise(0.0),
        )
        .withColumn("is_contaminated", F.col("containment") > max_containment)
    )


def decontam_index(
    eval_df: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Persistable eval-side state for INCREMENTAL decontamination
    (VERDICT r10 next-item #6): the distinct ``(doc_id, sh)`` n-gram-hash
    relation of the eval set — the STATIC side of the screen.
    :func:`decontaminate` rebuilds this per call even though eval suites
    change ~never while the training corpus grows daily; build it once,
    persist it, and each day's crawl screens against it via
    :func:`decontam_hits_merge` without re-shingling the eval set or any
    prior train data.  Eval docs shorter than ``n`` tokens carry no rows
    (n_grams = 0 in the report, never flagged — decontaminate's rule)."""
    from streaming_feature_store_spark.operators.dedup import _shingle_index

    return _shingle_index(eval_df, text_col, id_col, n)


def decontam_hits_merge(
    hits: DataFrame | None,
    train_delta: DataFrame,
    eval_index: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Fold one day's training delta into the persisted contamination-hit
    set: ``hits`` is the ``(doc_id, sh)`` subset of :func:`decontam_index`
    rows already matched by ANY prior train document — monotone state
    (a gram once hit stays hit; train data is never deleted from a
    decontamination ledger), so the merge is
    ``hits ∪ (eval_index ⋉ grams(delta))`` — exactly the
    union+distinct algebra of the other additive indexes, bounded by the
    EVAL set size forever.  Pass ``hits=None`` on day 0.

    Scale shape: only the delta shingles (mapInPandas kernel, no
    shuffle); its distinct gram hashes semi-join the eval index on the
    8-byte key (eval sets are small — AQE broadcasts the probe side);
    history is never rescanned.  Equal to recomputing
    ``decontaminate(all train so far, eval)``'s hit pairs from scratch
    (oracled q243 + pytest)."""
    from streaming_feature_store_spark.operators.dedup import _shingle_index

    delta_grams = (
        _shingle_index(train_delta, text_col, id_col, n)
        .select("sh")
        .distinct()
    )
    new_hits = eval_index.join(delta_grams, "sh", "left_semi")
    if hits is None:
        return new_hits
    return hits.unionByName(new_hits).distinct()


def decontam_erase_eval(
    eval_index: DataFrame,
    hits: DataFrame,
    erased_ids: DataFrame,
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Right-to-erasure for the decontamination state: BOTH relations are
    keyed by the eval doc, so removing an eval document is one anti-join
    per table (no re-shingling — the `postings_index_erase` cost class).
    Returns ``(eval_index, hits)`` purged.

    The converse — erasing a TRAIN document — is intentionally NOT
    offered: the hit ledger is monotone and does not record WHICH train
    doc caused a collision (that's what keeps it eval-bounded at 100 TB),
    so un-hitting would need a full recount over the retained corpus.
    Decontamination is a one-way safety screen — an eval gram once seen
    in ANY training text stays burned whether or not that text is later
    deleted (the conservative reading a leaderboard wants); if a
    deployment truly needs train-side retraction, rebuild the ledger
    from the retained corpus (one :func:`decontam_hits_merge` over it)."""
    ids = erased_ids.select(F.col(id_col)).distinct()
    return (
        eval_index.join(ids, id_col, "left_anti"),
        hits.join(ids, id_col, "left_anti"),
    )


def decontaminate_from_index(
    eval_df: DataFrame,
    eval_index: DataFrame,
    hits: DataFrame,
    max_containment: float = 0.0,
    id_col: str = "doc_id",
) -> DataFrame:
    """:func:`decontaminate`'s report read from the persisted state:
    ``n_grams`` counts :func:`decontam_index` rows, ``n_shared_grams``
    counts the (merged) :func:`decontam_hits_merge` rows — closed forms
    over eval-bounded relations, so re-reporting after a delta never
    touches text.  Same schema, containment arithmetic, zero-gram and
    threshold semantics as decontaminate (oracled q243)."""
    sizes = eval_index.groupBy(id_col).agg(F.count("*").alias("n_grams"))
    shared = hits.groupBy(id_col).agg(F.count("*").alias("n_shared_grams"))
    containment = F.col("n_shared_grams") / F.col("n_grams").cast("double")
    return (
        eval_df.join(sizes, id_col, "left")
        .join(shared, id_col, "left")
        .withColumn("n_grams", F.coalesce("n_grams", F.lit(0)))
        .withColumn("n_shared_grams", F.coalesce("n_shared_grams", F.lit(0)))
        .withColumn(
            "containment",
            F.when(F.col("n_grams") > 0, F.round(containment, 6)).otherwise(
                0.0
            ),
        )
        .withColumn("is_contaminated", F.col("containment") > max_containment)
    )


def importance_weights(
    corpus: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.5,
) -> DataFrame:
    """DSIR-style importance weight per corpus document: how much more
    likely the document is under the TARGET distribution than under the
    raw-corpus distribution, as a unigram log-ratio (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling" —
    hashed-ngram variant simplifies to unigram here; the hashing is an
    implementation detail for unbounded vocabularies, which
    ``xxhash64(term) % buckets`` drops into this plan without reshaping).

    ``log_weight(d) = Σ_w tf_dw · ( ln p̂_t(w) − ln p̂_s(w) )`` with
    add-``alpha`` smoothing over the UNION vocabulary on both sides
    (``p̂(w) = (c_w + α) / (C + α·V)``) so target-unseen corpus terms get
    finite negative evidence instead of −∞. Downstream, resampling by
    these weights is exactly ``weighted_priority_sample`` /
    ``sample_corpus`` with ``exp(log_weight / temperature)`` — the
    selection stage stays a separate, already-oracled primitive.

    Plan shape: ONE corpus tokenize pass builds tf per (doc, term)
    [persisted — it feeds the source vocabulary counts AND the per-doc
    weight join]; target counts come from one tokenize of the target
    sample; the per-term log-ratio table is a vocabulary-bounded full
    outer join of the two count relations, with totals and |V| riding
    along as a lazy broadcast one-row aggregate. The only big relation is
    tf; the ratio table joins it on the term key (AQE promotes the
    vocab-bounded side to broadcast when it fits). Caching contract as in
    ``tfidf_top_terms``: release with ``release_cached_intermediates()``."""
    from streaming_feature_store_spark.cacheutil import persist_tracked
    from streaming_feature_store_spark.operators.text import alpha_tokens

    tf = persist_tracked(
        alpha_tokens(corpus, id_col, text_col)
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
    )
    s_counts = tf.groupBy("term").agg(F.sum("tf").alias("s_c"))
    t_counts = (
        alpha_tokens(target, id_col, text_col)
        .groupBy("term")
        .agg(F.count("*").alias("t_c"))
    )
    vocab = (
        s_counts.join(t_counts, "term", "full_outer")
        .select(
            "term",
            F.coalesce("s_c", F.lit(0)).alias("s_c"),
            F.coalesce("t_c", F.lit(0)).alias("t_c"),
        )
    )
    totals = vocab.agg(
        F.sum("s_c").alias("s_tot"),
        F.sum("t_c").alias("t_tot"),
        F.count("*").alias("v"),
    )
    ratio = vocab.crossJoin(broadcast(totals)).select(
        "term",
        (
            F.log(
                (F.col("t_c") + alpha)
                / (F.col("t_tot") + alpha * F.col("v"))
            )
            - F.log(
                (F.col("s_c") + alpha)
                / (F.col("s_tot") + alpha * F.col("v"))
            )
        ).alias("log_ratio"),
    )
    return (
        tf.join(ratio, "term")
        .groupBy(id_col)
        .agg(
            F.sum("tf").cast("bigint").alias("n_tokens"),
            F.round(F.sum(F.col("tf") * F.col("log_ratio")), 6).alias(
                "log_weight"
            ),
        )
    )


def dsir_weights_from_index(
    delta: DataFrame,
    stats: DataFrame,
    target_stats: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 0.5,
    validate: bool = False,
) -> DataFrame:
    """:func:`importance_weights`' incremental twin (round 10): DSIR
    log-weights for TODAY'S documents only, with the source and target
    unigram distributions taken from two (merged)
    ``text.corpus_stats_index`` frames instead of re-tokenizing both
    corpora per call — s_c/t_c are the indexes' 'uni' rows, the union
    vocabulary is their full outer join (vocabulary-bounded), and only
    the delta tokenizes for tf.  Identical weights to the full recompute
    restricted to the delta's ids (every delta term is in the merged
    source index by construction — ``validate=True`` enforces it against
    the SOURCE index with a bounded anti-join, ADVICE r10; target-unseen
    terms get the same finite smoothed evidence, so the target side is
    never validated).  Same output schema/rounding as
    importance_weights."""
    from streaming_feature_store_spark.operators.text import (
        _require_indexed_terms,
        _stats_rows,
        alpha_tokens,
    )

    tf = (
        alpha_tokens(delta, id_col, text_col)
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
    )
    s_counts = _stats_rows(stats, "uni").withColumnRenamed("n", "s_c")
    if validate:
        _require_indexed_terms(tf, s_counts, "dsir_weights_from_index")
    t_counts = _stats_rows(target_stats, "uni").withColumnRenamed("n", "t_c")
    vocab = (
        s_counts.join(t_counts, "term", "full_outer")
        .select(
            "term",
            F.coalesce("s_c", F.lit(0)).alias("s_c"),
            F.coalesce("t_c", F.lit(0)).alias("t_c"),
        )
    )
    totals = vocab.agg(
        F.sum("s_c").alias("s_tot"),
        F.sum("t_c").alias("t_tot"),
        F.count("*").alias("v"),
    )
    ratio = vocab.crossJoin(broadcast(totals)).select(
        "term",
        (
            F.log(
                (F.col("t_c") + alpha)
                / (F.col("t_tot") + alpha * F.col("v"))
            )
            - F.log(
                (F.col("s_c") + alpha)
                / (F.col("s_tot") + alpha * F.col("v"))
            )
        ).alias("log_ratio"),
    )
    return (
        tf.join(ratio, "term")
        .groupBy(id_col)
        .agg(
            F.sum("tf").cast("bigint").alias("n_tokens"),
            F.round(F.sum(F.col("tf") * F.col("log_ratio")), 6).alias(
                "log_weight"
            ),
        )
    )


def sample_corpus(
    df: DataFrame,
    rates: dict[str, float],
    default_rate: float = 1.0,
    id_col: str = "doc_id",
    strata_col: str = "source",
) -> DataFrame:
    """Deterministic per-source mixture sampling — the "data mixing" step
    that downweights low-quality sources before training.

    A document survives iff the first 8 hex digits of ``md5(id)`` fall
    below ``rate × 16⁸``, compared AS HEX STRINGS (fixed-width lowercase
    hex orders identically to its numeric value), so the predicate is a
    pure codegen filter with no shuffle, reproducible across engines and
    runs, and stable under corpus growth: adding documents never flips an
    existing document's keep/drop decision (unlike ``df.sample``, whose
    outcome depends on partitioning).
    """
    keep_key = F.substring(F.md5(F.col(id_col).cast("string")), 1, 8)
    pred = F.lit(None).cast("boolean")
    expr = None
    for src, rate in rates.items():
        th = _hex_threshold(rate)
        cond = (F.col(strata_col) == src) & (keep_key < F.lit(th))
        expr = cond if expr is None else expr | cond
    known = F.col(strata_col).isin(*rates.keys())
    expr = (expr if expr is not None else F.lit(False)) | (
        ~known & (keep_key < F.lit(_hex_threshold(default_rate)))
    )
    return df.filter(expr)


def _hex_threshold(rate: float) -> str:
    """rate ∈ [0,1] → 8-char lowercase hex string h with P[md5₈ < h] = rate."""
    n = min(max(int(rate * 16**8), 0), 16**8)
    # 'g' sorts above every hex digit, so rate=1.0 keeps every key
    return "g" if n == 16**8 else format(n, "08x")


def chunk_documents(
    df: DataFrame,
    chunk_size: int = 32,
    stride: int = 24,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 1,
) -> DataFrame:
    """Split each document into fixed-size token windows with overlap —
    context-window preparation for sequence-model training (stride <
    chunk_size overlaps consecutive chunks so no boundary context is
    lost).

    Pure codegen: ``sequence`` generates chunk starts, ``explode`` fans
    them out, ``slice`` cuts the token array — one Generate node, no
    Python, no shuffle; output order is (doc, chunk_idx) within each
    input partition so downstream writes stay clustered by document.
    """
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    out = (
        df.select(
            F.col(id_col),
            toks.alias("_toks"),
            F.explode(F.sequence(F.lit(0), n - 1, F.lit(stride))).alias("_start"),
        )
        .select(
            F.col(id_col),
            (F.col("_start") / stride).cast("int").alias("chunk_idx"),
            F.slice("_toks", F.col("_start") + 1, chunk_size).alias("_chunk"),
        )
        .select(
            F.col(id_col),
            "chunk_idx",
            F.concat_ws(" ", "_chunk").alias("chunk_text"),
            F.size("_chunk").alias("n_chunk_tokens"),
        )
    )
    return out.filter(F.col("n_chunk_tokens") >= min_tokens)


def quality_funnel(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Per-source curation FUNNEL: how many documents survive each
    successive gate — the report a pipeline operator reads before
    committing a corpus build.

    Gates (cumulative, in pipeline order):
      1. ``n_len_ok``      — token-length window (10..1000);
      2. ``n_quality``     — + stopword-ratio < 0.5;
      3. ``n_clean``       — + not repetitive (Gopher top-token /
         duplicate-3-gram cuts);
      4. ``n_survivors``   — + exact-dup representative (min id per
         md5 fingerprint group).

    Plan shape: the three per-doc signal branches (quality expressions,
    repetition token counts, fingerprint window) each shuffle only
    (id, small-value) pairs and meet in equi-joins on the doc id; the
    funnel itself is one conditional aggregation keyed by source. Text
    never shuffles.
    """
    from pyspark.sql import Window

    from streaming_feature_store_spark.operators.text import (
        fingerprint,
        quality_features,
        repetition_stats,
    )

    q = quality_features(df, text_col).select(
        id_col, source_col, "n_tokens", "stopword_ratio"
    )
    rep = repetition_stats(df, text_col, id_col).select(
        id_col, "is_repetitive"
    )
    w = Window.partitionBy("fingerprint")
    keep = (
        fingerprint(df, text_col)
        .withColumn("is_rep_doc", F.col(id_col) == F.min(id_col).over(w))
        .select(id_col, "is_rep_doc")
    )
    j = q.join(rep, id_col).join(keep, id_col)
    g1 = (F.col("n_tokens") >= 10) & (F.col("n_tokens") <= 1000)
    g2 = g1 & (F.col("stopword_ratio") < 0.5)
    g3 = g2 & ~F.col("is_repetitive")
    g4 = g3 & F.col("is_rep_doc")

    def cnt(cond, name):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(name)

    return j.groupBy(source_col).agg(
        F.count("*").alias("n_docs"),
        cnt(g1, "n_len_ok"),
        cnt(g2, "n_quality"),
        cnt(g3, "n_clean"),
        cnt(g4, "n_survivors"),
    )


def cluster_balanced_sample(
    vecs: DataFrame,
    k: int = 8,
    per_cluster: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Diversity-balanced corpus sampling: assign every vector to its
    nearest centroid, then keep a deterministic per-cluster quota — the
    embedding-space analog of per-source mixture sampling
    (``sample_corpus``), used to keep a training mix from collapsing onto
    its densest semantic cluster.

    The quota order is an md5 hash of the id (stable under corpus growth,
    like ``sample_corpus``'s thresholds), so re-running over an appended
    corpus keeps previously-sampled members sampled until the quota is
    displaced by lower hashes.
    """
    from streaming_feature_store_spark.operators.similarity import (
        assign_clusters,
    )

    assigned = assign_clusters(vecs, k=k, id_col=id_col, vec_col=vec_col)
    w = Window.partitionBy("cluster_id").orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        assigned.withColumn("samp_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("samp_rank") <= per_cluster)
        .select(id_col, "cluster_id", "dist2", "samp_rank")
    )


def sample_exact_per_group(
    df: DataFrame,
    k: int,
    id_col: str = "doc_id",
    strata_col: str = "source",
) -> DataFrame:
    """Deterministic exact-k downsampling per stratum: keep exactly
    ``min(k, |group|)`` rows of each group, chosen by md5-of-id order (a
    seeded shuffle that is stable across runs, partitionings and engines —
    no ``rand()``, so re-running the pipeline reproduces the sample).

    The rate-based twin is ``sample_corpus`` (growth-stable fractions);
    this is the quota form used when the budget is per-source row COUNTS.
    Plan: one hash partition per stratum + in-group sort. When groups are
    huge and k tiny, pre-filter with an md5 threshold slightly above
    k/|group| first so the sort sees ~k rows, not the group (same
    technique as ivf_topk's centroid sampling).
    """
    w = Window.partitionBy(strata_col).orderBy(
        F.md5(F.col(id_col).cast("string")), id_col
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def pack_sequences(
    df: DataFrame,
    budget: int = 2048,
    id_col: str = "doc_id",
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Context-window sequence packing — the step between chunking and the
    trainer: documents are concatenated in deterministic (group, id) order
    and split at fixed ``budget``-token boundaries (the standard
    concatenate-then-split packing LLM pretraining uses; nothing is padded,
    a document may straddle two windows).

    Emits one row per document with its placement in the packed stream:
    n_tokens, start_offset (tokens before it in its group's stream),
    first_pack / last_pack (window indices it lands in, 0-based) and
    n_packs_spanned. A trainer (or the chunker) can materialize window
    contents from these offsets without re-tokenizing.

    Scale shape: the running total is a window partitioned by
    ``group_col`` (shard/source) — packing is per-shard by construction,
    exactly how a distributed tokenizer job shards, so there is no global
    sort; skew follows shard sizes. One shuffle, arithmetic in codegen.
    """
    n_tok = F.size(F.split(F.col(text_col), " "))
    w = (
        Window.partitionBy(group_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = F.sum("n_tokens").over(w)
    return (
        df.select(group_col, id_col, n_tok.alias("n_tokens"))
        .withColumn("start_offset", (cum - F.col("n_tokens")).cast("long"))
        .withColumn(
            "first_pack", F.floor(F.col("start_offset") / budget).cast("long")
        )
        .withColumn(
            "last_pack",
            F.floor(
                (F.col("start_offset") + F.col("n_tokens") - 1) / budget
            ).cast("long"),
        )
        .withColumn(
            "n_packs_spanned",
            (F.col("last_pack") - F.col("first_pack") + 1).cast("long"),
        )
    )


def weighted_priority_sample(
    df: DataFrame,
    k: int,
    weight_col,
    id_col: str = "event_id",
    strata_col: str | None = None,
    hash_fn: str = "md5",
) -> DataFrame:
    """Deterministic weighted sampling without replacement — Sequential
    Poisson sampling (Ohlsson 1998): each row gets priority ``w / u`` with
    ``u`` a uniform derived from md5(id), and the top-k priorities per
    stratum are kept.  Inclusion probability is ~proportional to weight,
    and the scheme is order-, partitioning- and ENGINE-independent: the
    uniform comes from the first 8 md5 hex digits (exact integer), and
    ``w / u`` uses only IEEE-correctly-rounded ops (one add, one divide) —
    so a DuckDB oracle reproduces the sample bit-for-bit, unlike any
    ``ln``-based A-ES/A-Res key.

    Scale shape: priorities are pure codegen; selection is one hash
    partition per stratum + top-k (rank ≤ k). For huge groups with tiny k,
    the same md5-threshold pre-filter as ``sample_exact_per_group``
    applies. Weights must be > 0 (clamp before calling).

    ``hash_fn="md5"`` (default) is the cross-engine-reproducible form the
    q135 oracle verifies; ``"xxhash64"`` computes the same uniform from
    the JVM's native 64-bit hash — ~4x cheaper per row (no string md5,
    no hex conv), same distribution, for production runs where the
    consumer is Spark-only.
    """
    if hash_fn == "xxhash64":
        # Top 32 bits via unsigned shift: uniform on [0, 2^32) for EVERY
        # input including the Long.MIN_VALUE hash (abs() overflows there
        # and throws under ANSI mode / corrupts the priority otherwise).
        h = F.shiftrightunsigned(F.xxhash64(F.col(id_col)), 32).cast(
            "double"
        )
    else:
        h = F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
        ).cast("double")
    u = (h + F.lit(1.0)) / F.lit(4294967296.0)
    prio = (
        weight_col if not isinstance(weight_col, str) else F.col(weight_col)
    ) / u
    keys = [strata_col] if strata_col else []
    w = Window.partitionBy(*keys).orderBy(F.desc("_prio"), id_col)
    return (
        df.withColumn("_prio", prio)
        .withColumn("samp_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("samp_rank") <= k)
        .drop("_prio")
    )


def negative_sample(
    interactions: DataFrame,
    items: DataFrame,
    k: int,
    user_col: str = "user_id",
    item_col: str = "item_id",
    oversample: int = 2,
) -> DataFrame:
    """Deterministic negative sampling for contrastive / recommender
    training: for each user, ``k`` items they have NOT interacted with.

    The scale-correct construction NEVER materializes the user x item
    cross space: each user draws ``oversample * k`` pseudo-random item
    INDICES via md5(user, draw) mod |items| (exact integer arithmetic, so
    any engine reproduces the draw), joins them to a dense item index,
    anti-joins the user's positives, dedups repeated draws keeping the
    earliest, and keeps the first ``k`` survivors in draw order.  Cost is
    O(users * k) rows end-to-end — at a 10^9 x 10^8 user-item scale the
    cross join is 10^17 rows while this stays at ~users * 2k.

    Collisions with positives / repeated draws shrink a user's sample
    below k only if ``oversample * k`` draws don't yield k distinct
    negatives — raise ``oversample`` for catalogs where positives are a
    large fraction of all items.

    The dense index is the rank of each item in item-id order (the
    standard embedding-table id-compaction step this op shares with a
    trainer), computed WITHOUT a single-partition global sort: the item
    dim is range-partitioned on the id, each partition ranks locally,
    and exclusive per-partition offsets (a #partitions-bounded scalar
    table, broadcast) lift local ranks to the identical global rank —
    the DataFrame form of zipWithIndex.  RangePartitioner assigns
    ascending key ranges to ascending partition ids, so offset + local
    rank == ROW_NUMBER() OVER (ORDER BY item) - 1 exactly, which is what
    the q138 DuckDB oracle computes; a 10^8-item catalog sorts as
    hundreds of parallel partitions instead of one.

    ``ranked`` is materialized with an eager ``localCheckpoint`` (not a
    mere persist): the global rank depends on ``spark_partition_id()``
    and the sampled RangePartitioner boundaries being IDENTICAL across
    its two consumers (the driver-side counts collect and the later
    index join).  A persist satisfies that only until cache eviction —
    over a non-deterministic upstream (``sample()``, shuffle-retry
    reordering) a recompute could silently misalign offsets.  The
    checkpoint truncates lineage so both consumers read the same
    materialized partitions unconditionally.  As with the
    ``dedup_clusters`` iteration (see its docstring), a fault-tolerant
    cluster run should swap ``localCheckpoint`` for reliable
    ``checkpoint()`` against a checkpoint dir — executor loss discards
    local checkpoint blocks; the right trade in a batch sampling job
    that simply reruns.

    The checkpoint is tracked (``cacheutil.local_checkpoint_tracked``):
    ``release_checkpoints()`` / ``release_all()`` frees its blocks and
    INVALIDATES the returned frame, so write or collect the sample
    first; ``release_cached_intermediates()`` leaves it alone.
    """
    from streaming_feature_store_spark.cacheutil import (
        local_checkpoint_tracked,
    )

    m = items.select(item_col).distinct()
    ranked = local_checkpoint_tracked(
        m.repartitionByRange(F.col(item_col))
        .withColumn("_pid", F.spark_partition_id())
        .withColumn(
            "_lrow",
            F.row_number().over(
                Window.partitionBy("_pid").orderBy(item_col)
            ),
        )
    )
    # Exclusive offsets are computed driver-side from the per-partition
    # counts — a #partitions-bounded collect (the same bounded-collect
    # class as bucket ids / IVF centroids), no window at all.
    counts = sorted(
        ranked.groupBy("_pid").agg(F.count("*").alias("_c")).collect(),
        key=lambda r: r["_pid"],
    )
    acc, offset_rows = 0, []
    for r in counts:
        offset_rows.append((r["_pid"], acc))
        acc += r["_c"]
    n_items = acc
    offs = items.sparkSession.createDataFrame(
        offset_rows, "_pid int, _off long"
    )
    idx = ranked.join(broadcast(offs), "_pid").select(
        F.col(item_col).alias("_neg_item"),
        (F.col("_off") + F.col("_lrow") - 1).alias("_iidx"),
    )
    # r13 opt (guide §1.2 — don't compute things twice): the positives
    # relation and the user universe BOTH derive from ``interactions``,
    # which is typically a fact-sized join (q138: orders ⋈ lineitem).
    # Computing the distinct positive pairs ONCE, persisting them, and
    # projecting the users out of that |pairs|-bounded frame halves the
    # heavy side: the old shape executed the interactions lineage twice
    # (users-distinct and pos-distinct were separate scans of the join).
    # distinct(user) over distinct(user, item) is the same relation as
    # distinct(user) over the raw interactions.
    from streaming_feature_store_spark.cacheutil import persist_tracked

    pos = persist_tracked(
        interactions.select(
            user_col, F.col(item_col).alias("_neg_item")
        ).distinct()
    )
    users = pos.select(user_col).distinct()
    draws = users.select(
        user_col,
        F.explode(F.sequence(F.lit(0), F.lit(oversample * k - 1))).alias(
            "_draw"
        ),
    )
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":", F.col(user_col).cast("string"), F.col("_draw")
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    # The index join carries NO broadcast hint: AQE's runtime size gate
    # picks broadcast when the dense index fits (item dims up to a few
    # million) and a shuffled hash join on a 10^8-item catalog, where a
    # forced broadcast would ship a multi-GB table to every executor —
    # the same policy as cooccurrence_lift and dedup_survivors
    # (VERDICT r5 "what's wrong" #1).  The draws side is
    # users x oversample x k rows, so a shuffle on _iidx is benign.
    cand = draws.select(
        user_col, "_draw", (h % F.lit(n_items)).alias("_iidx")
    ).join(idx, "_iidx")
    neg = cand.join(pos, [user_col, "_neg_item"], "left_anti")
    first_draw = neg.groupBy(user_col, "_neg_item").agg(
        F.min("_draw").alias("_d")
    )
    w = Window.partitionBy(user_col).orderBy("_d", "_neg_item")
    return (
        first_draw.withColumn("neg_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("neg_rank") <= k)
        .select(
            user_col,
            F.col("_neg_item").alias(item_col),
            "neg_rank",
        )
    )


def temperature_mixture_rates(
    df: DataFrame,
    alpha: float = 0.3,
    strata_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Temperature-based mixture sampling rates per source — the
    multilingual/multi-source rebalancing rule (mT5 / XLM-R / LLaMA:
    q_i ∝ p_i^α with α<1 upweighting low-resource sources).

    From exact integer per-source token counts: natural share
    ``p = tok/T``, tempered share ``q = p^α / Σ p^α``, and the
    DOWNSAMPLING rate ``keep_rate = (q/p) / max_j(q_j/p_j)`` — normalized
    so the most-upweighted source keeps everything (a filter cannot
    upsample; epoch repetition handles the >1 side, see
    ``largest_remainder_alloc``).  Feed ``keep_rate`` straight into
    ``sample_corpus``'s md5-threshold filter.

    The frame is cardinality-bounded (one row per source): one exact
    count shuffle over the facts, then scalar algebra on the tiny frame
    (the ln/pow doubles are rounded once at the presentation edge).
    """
    toks = df.groupBy(strata_col).agg(
        F.sum(F.size(F.split(F.col(text_col), " "))).alias("n_tokens")
    )
    tot = toks.agg(F.sum("n_tokens").alias("_t"))
    shared = toks.crossJoin(F.broadcast(tot)).withColumn(
        "_p", F.col("n_tokens") / F.col("_t")
    )
    qsum = shared.agg(
        F.sum(F.pow("_p", F.lit(alpha))).alias("_qs")
    )
    rated = (
        shared.crossJoin(F.broadcast(qsum))
        .withColumn("_q", F.pow("_p", F.lit(alpha)) / F.col("_qs"))
        .withColumn("_boost", F.col("_q") / F.col("_p"))
    )
    mx = rated.agg(F.max("_boost").alias("_mx"))
    return (
        rated.crossJoin(F.broadcast(mx))
        .select(
            strata_col,
            "n_tokens",
            F.round("_p", 6).alias("natural_share"),
            F.round("_q", 6).alias("tempered_share"),
            F.round(F.col("_boost") / F.col("_mx"), 6).alias("keep_rate"),
        )
    )


def largest_remainder_alloc(
    counts: DataFrame,
    budget: int,
    key_col: str = "source",
    weight_col: str = "n_tokens",
) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of an integer budget
    across sources in proportion to integer weights — the token-budget /
    epochs-per-source planning step of a training-mixture build.

    Pure integer arithmetic end-to-end (quota ``B·w``, base ``div W``,
    remainder ``mod W``; the ``leftover = B − Σ base`` largest remainders
    get +1, remainder-then-key tiebreak), so every engine agrees
    bit-for-bit and Σ alloc == budget ALWAYS — no floating-point quota
    drift.  The frame is cardinality-bounded (one row per source), so the
    ranking window is safe at any data scale; the only fact-sized work is
    whatever aggregation produced ``counts``.

    Overflow bound: the exact quota multiplies ``budget × weight`` in
    64-bit — fine up to ~9.2e18 (a 10⁶ budget against 10¹²-token
    sources); past that, lift the quota expression to ``decimal(38,0)``.
    """
    tot = counts.agg(
        F.sum(weight_col).alias("_w"),
        F.sum(F.lit(1)).alias("_k"),
    )
    quota = counts.crossJoin(F.broadcast(tot)).select(
        key_col,
        F.col(weight_col),
        F.expr(f"({budget} * {weight_col}) div _w").alias("base_alloc"),
        F.expr(f"({budget} * {weight_col}) % _w").alias("_rem"),
        F.col("_w"),
    )
    leftover = quota.agg(
        (F.lit(budget) - F.sum("base_alloc")).alias("_left")
    )
    w = Window.orderBy(F.desc("_rem"), F.col(key_col))
    return (
        quota.crossJoin(F.broadcast(leftover))
        .withColumn("_rk", F.row_number().over(w))
        .select(
            key_col,
            weight_col,
            "base_alloc",
            F.when(F.col("_rk") <= F.col("_left"), F.lit(1))
            .otherwise(F.lit(0))
            .alias("extra"),
            (
                F.col("base_alloc")
                + F.when(F.col("_rk") <= F.col("_left"), F.lit(1)).otherwise(
                    F.lit(0)
                )
            ).alias("alloc"),
        )
    )


def neyman_allocation(
    df: DataFrame,
    stratum_col: str,
    value_col: str,
    budget: int,
    std_scale: int = 4,
) -> DataFrame:
    """Neyman-optimal stratified sample allocation: split an integer
    sample ``budget`` across strata proportionally to N_h·S_h (stratum
    size × stratum stddev) — the variance-minimizing design for a fixed
    budget, and the principled upgrade to proportional allocation when
    strata differ in spread (e.g. sampling a validation set across
    sources whose quality scores vary unevenly).

    One map-side-combined aggregate produces the per-stratum (N_h, S_h)
    moments; the weight N_h·round(S_h, ``std_scale``) is lifted to an
    exact 64-bit integer so the apportionment itself runs through
    ``largest_remainder_alloc`` — pure integer Hamilton rounding,
    Σ alloc == budget always, engine-independent.  Zero-variance or
    singleton strata get weight 0 (Neyman assigns them no sampling
    beyond the remainder stage, matching the textbook rule).
    """
    mul = 10 ** std_scale
    moments = df.groupBy(stratum_col).agg(
        F.count(value_col).alias("n_rows"),
        F.round(F.stddev_samp(value_col), std_scale).alias("value_std"),
    )
    weighted = moments.withColumn(
        "_wt",
        (
            F.col("n_rows")
            * F.round(
                F.coalesce(F.col("value_std"), F.lit(0.0)) * mul, 0
            ).cast("bigint")
        ),
    )
    alloc = largest_remainder_alloc(
        weighted, budget, key_col=stratum_col, weight_col="_wt"
    ).select(stratum_col, "alloc")
    return weighted.drop("_wt").join(alloc, on=stratum_col, how="inner")


def _ingest_state(state_root: str) -> tuple[dict[str, str], int]:
    """The four index roots of a :func:`daily_ingest` state and its one
    consistent version: the min over the roots' newest committed
    versions, so a day that committed some roots but not others is read,
    and rewritten whole, as the day before it everywhere."""
    roots = {
        k: f"{state_root}/{k}"
        for k in ("fingerprint", "minhash", "stats", "postings")
    }
    return roots, min(commit.newest(r) or 0 for r in roots.values())


def daily_ingest(
    delta: DataFrame,
    state_root: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    minhash_threshold: float = 0.5,
    bigrams: bool = True,
    screen_near_dups: bool = True,
    version: int | None = None,
) -> tuple[DataFrame, dict[str, DataFrame]]:
    """The composed daily-ingest pipeline as ONE operator (VERDICT r10
    next-item #5 — examples/demo_incremental_ingest.py productized):
    screen today's crawl against the persisted corpus state, upsert
    every index, and score the survivors — with the dedup screens
    applied BEFORE any statistics merge, in the order that honors the
    disjoint-doc double-count hazard the stats-index contract names
    (text.py corpus_stats_index_merge: a duplicate document folded into
    the counts is silently wrong forever).

    State under ``state_root``, versioned and read by the ``commit``
    module's rule.  The doc-keyed relations are DELTA LOGS
    (streaming/dedup.py ``read_index_log``: per-day ``d=<n>`` dirs plus
    an optional compacted snapshot ``v=<k>``), so each day WRITES only its
    delta — VERDICT r11 #1 closed the O(corpus)-per-day snapshot
    rewrite; the vocabulary-bounded stats index stays a full ``v=<n>``
    snapshot (its merge updates existing rows, and vocabulary is ~flat
    in corpus size):

    - ``fingerprint/`` — delta log of per-day exact_dup_groups rows
      (tier-1 recrawl screen; day-local (dup_count, min id) rows compose
      additively, so the raw log screens without any corpus-wide
      groupBy — ``dedup.fingerprint_log_screen``);
    - ``minhash/``     — delta log of MinHash signature rows (tier-2
      near-dup gate; signatures are per-doc facts);
    - ``stats/``       — corpus_stats_index snapshots (quality scoring);
    - ``postings/``    — delta log of BM25 postings + doc-length rows
      (retrieval; mirror into the bucketed serving layout with
      ``text.append_postings_index`` where query QPS warrants it);
    - ``reports/``     — the per-day screen report (audit artifact, and
      the lineage cut every downstream step reads decisions from).

    Compact the logs and sweep stats snapshots with
    :func:`compact_ingest_state`; read a logical index back with
    ``streaming.dedup.read_index_log``.  The delta-log contract is the
    append contract of ``text.append_postings_index``: doc ids are
    unique across days (the fingerprint tier screens byte-identical
    recrawls; a re-ingest of a CHANGED doc under the SAME id needs
    :func:`daily_erase` first).

    Day 0 (no state) seeds all four from the delta itself: both screens
    run against EMPTY indexes of the right schema, so in-batch
    duplicates still collapse to one representative — no special-cased
    first day.

    Order of operations (the load-bearing part):

    1. tier-1 EXACT screen: delta fingerprints vs the corpus index
       (byte-identical recrawls are the bulk of web duplication and
       never need shingles); the fingerprint index absorbs the WHOLE
       delta — its contract is exact_dup_groups(everything ever
       ingested), it IS the re-delivery ledger;
    2. tier-2 NEAR-DUP gate on the exact survivors
       (minhash_index_screen): drop if the best match is already
       indexed, else keep the lowest-id member of an in-batch cluster;
    3. only the FINAL survivors merge into the stats and postings
       indexes — a dropped duplicate's tokens never double-count;
    4. survivors score against the MERGED stats snapshot (unigram NLL +
       bigram LM when ``bigrams``) — the q236 daily quality gate, priced
       on the delta.

    Returns ``(survivors, reports)``: ``reports['screen']`` is one row
    per delta doc (fingerprint, is_exact_dup, is_near_dup,
    best_match_id, best_jaccard, match_in_index, kept), and
    ``reports['quality']`` the survivor scores read from the snapshot
    just written.  Index writes happen inside the call (it IS the
    ingest step); pytest pins the two-day parity contracts — snapshots
    ≡ one-shot builds over the union of survivors, recrawl idempotence,
    and score ≡ full-recompute (tests/test_r11_ops.py).  Call
    ``cacheutil.release_cached_intermediates()`` after consuming the
    reports.

    Scale shape: every step prices on |delta| — fingerprint/minhash
    probes scan the index but shuffle only delta-sized sides (AQE
    broadcasts them), stats/postings merges move vocabulary/doc-bounded
    index rows, and scoring tokenizes survivors only.  History text is
    never read.

    ``screen_near_dups=False`` skips tier 2's PAIR machinery while still
    building the delta's MinHash signatures into the index — the
    day-0 SEEDING mode for a corpus that is already curated: re-running
    the O(candidate-pairs) gate over a deduped base is pure waste, but
    its signatures must land in the index or day 1 cannot match against
    it.  Exact screening (tier 1) still applies; the report's near-dup
    columns come back all-clear.

    ``version`` switches to the streaming sinks' batch-id discipline
    (used by :func:`daily_ingest_sink`): state is read with version
    <= ``version`` (NOT the newest — a retried batch must re-ingest
    against the PRE-batch view even if its crashed attempt already wrote
    version+1) and every root writes version+1, so a replay overwrites
    its own partial output instead of double-counting the delta into
    the statistics.

    Default (None) — the batch/daily form — is retry-safe the same way
    (ADVICE r11): the day version is derived ONCE as 1 + the state's
    consistent version (``_ingest_state``: the min of the per-root
    committed latest), so every root is read at that consistent
    pre-call view and written at day_v.  A crash that committed SOME
    roots' day_v but not others leaves min() at the old day; the retry
    re-reads the pre-crash view everywhere (including the roots that
    did commit — their day_v output is above the read scope) and
    overwrites all of day_v.  Re-running an already-COMPLETE day is
    also safe: the fingerprint ledger flags the whole delta as
    recrawls, zero survivors reach the statistics, and only dup_counts
    increment (the ledger's job).  Single writer per state_root remains
    the contract, as for any table without a commit coordinator.
    """
    from streaming_feature_store_spark.cacheutil import persist_tracked
    from streaming_feature_store_spark.operators.dedup import (
        build_minhash_index,
        exact_dup_groups,
        fingerprint_log_screen,
        minhash_index_screen,
    )
    from streaming_feature_store_spark.operators.text import (
        bigram_lm_from_index,
        corpus_stats_index,
        corpus_stats_index_merge,
        postings_index,
        unigram_nll_from_index,
    )
    from streaming_feature_store_spark.streaming.dedup import (
        append_log_delta,
        read_index_log,
    )

    spark = delta.sparkSession
    roots, state_v = _ingest_state(state_root)
    base_v = state_v if version is None else version
    day_v = base_v + 1
    stats_prev = commit.read_newest(roots["stats"], spark.read.parquet, base_v)
    if stats_prev is not None:
        # flag-consistency guard (ADVICE r11), checked BEFORE any work:
        # merging bigram counts into a state seeded WITHOUT them (or
        # vice versa) leaves the index partially covered and the
        # from-index scorers silently wrong — exactly the
        # unmerged-delta hazard `validate` catches
        has_bi = bool(stats_prev.filter(F.col("kind") == "bi").head(1))
        if has_bi != bigrams:
            raise ValueError(
                f"daily_ingest(bigrams={bigrams}) against a stats index "
                f"built with bigrams={has_bi} at {roots['stats']} — the "
                "merged index would mix full and delta-only bigram "
                "coverage; pass the flag the state was seeded with (or "
                "rebuild the stats root)."
            )

    # tier 1: exact recrawl screen against the RAW fingerprint log
    # (empty-schema log on day 0); the ledger absorbs the WHOLE delta —
    # it is the re-delivery record — as the day's appended group rows
    fp_log = read_index_log(spark, roots["fingerprint"], base_v)
    if fp_log is None:
        fp_log = exact_dup_groups(delta.limit(0), text_col, id_col)
    fp_screen = persist_tracked(
        fingerprint_log_screen(delta, fp_log, text_col, id_col)
    )
    exact_surv = persist_tracked(
        delta.join(
            fp_screen.filter(~F.col("is_corpus_dup")).select(id_col),
            id_col,
            "left_semi",
        )
    )

    # tier 2: near-dup gate on the exact survivors; the day's appended
    # signature rows are built ONCE and reused by the screen
    mh_log = read_index_log(spark, roots["minhash"], base_v)
    if mh_log is None:
        mh_log = build_minhash_index(delta.limit(0), text_col, id_col)
    mh_delta = persist_tracked(
        build_minhash_index(exact_surv, text_col, id_col)
    )
    if screen_near_dups:
        mh_screen, _ = minhash_index_screen(
            exact_surv, mh_log, text_col, id_col,
            threshold=minhash_threshold, delta_index=mh_delta,
        )
        mh_screen = persist_tracked(mh_screen)
        keep_ids = mh_screen.filter(
            ~F.col("is_near_dup")
            | (
                ~F.col("match_in_index")
                & (F.col("best_match_id") > F.col(id_col))
            )
        ).select(id_col)
    else:
        # seeding mode: the signatures still land in the log (or day 1
        # cannot match against the base), but the O(pairs) machinery is
        # skipped — the caller vouched for the base being curated
        id_type = delta.schema[id_col].dataType.simpleString()
        mh_screen = exact_surv.select(
            F.col(id_col),
            F.lit(False).alias("is_near_dup"),
            F.lit(None).cast(id_type).alias("best_match_id"),
            F.lit(None).cast("double").alias("best_jaccard"),
            F.lit(None).cast("boolean").alias("match_in_index"),
        )
        keep_ids = exact_surv.select(id_col)
    # the screen REPORT is itself a state artifact: landing it under
    # reports/v=<n> before anything consumes the decisions (a) gives the
    # ingest an audit trail, and (b) physically CUTS the deep
    # screen-plan lineage — every downstream action (stats/postings
    # merges, quality scoring, the caller's consumption of survivors)
    # re-plans a trivial parquet scan instead of re-analyzing the banded
    # join + window + verify tree per action (measured: the repeated
    # re-analysis dominated the composed call's wall clock)
    screen_plan = (
        fp_screen.select(
            id_col,
            "fingerprint",
            F.col("is_corpus_dup").alias("is_exact_dup"),
        )
        .join(mh_screen, id_col, "left")
        .join(keep_ids.withColumn("_kept", F.lit(True)), id_col, "left")
        .select(
            id_col,
            "fingerprint",
            "is_exact_dup",
            F.coalesce("is_near_dup", F.lit(False)).alias("is_near_dup"),
            "best_match_id",
            "best_jaccard",
            "match_in_index",
            F.coalesce("_kept", F.lit(False)).alias("kept"),
        )
    )
    screen_plan.write.mode("overwrite").parquet(
        f"{state_root}/reports/v={day_v}"
    )
    screen = spark.read.parquet(f"{state_root}/reports/v={day_v}")
    survivors = delta.join(
        screen.filter(F.col("kept")).select(id_col), id_col, "left_semi"
    )

    # step 3: only survivors feed the statistics indexes.  The doc-keyed
    # relations append their |delta|-sized day rows to the logs; only
    # the vocabulary-bounded stats snapshot is rewritten whole
    if stats_prev is not None:
        stats_updated = corpus_stats_index_merge(
            stats_prev,
            corpus_stats_index(survivors, id_col, text_col, bigrams),
        )
    else:
        stats_updated = corpus_stats_index(
            survivors, id_col, text_col, bigrams
        )
    p_delta = postings_index(survivors, id_col, text_col)

    # r12 opt (guide §1.2 — don't compute things twice): the day's ledger
    # rows re-aggregate the CACHED fp_screen (one row per delta doc with
    # its fingerprint already computed) instead of re-running the md5
    # fingerprint scan over the delta text a second time.  Identical to
    # exact_dup_groups(delta) under the unique-ids-per-day contract the
    # delta-log layout already requires (test_r12_ops pins the ledger
    # parity).
    ledger_delta = fp_screen.groupBy("fingerprint").agg(
        F.count("*").alias("dup_count"),
        F.min(id_col).alias("first_doc_id"),
    )
    # r12 opt (guide §2.6 — overlap independent jobs): the fingerprint,
    # minhash and stats writes land different roots from disjoint (or
    # already-cached) lineage, so they are submitted from a small driver
    # thread pool and the scheduler back-fills one write's task tail
    # with the next's (the composed day is many small jobs; their
    # latencies previously added up serially).  The POSTINGS append
    # stays sequential-after: its tf subplan is cache-substituted with
    # the tf the stats build persists, so running it after the stats
    # write turns its tokenize into a cache read instead of a duplicate
    # concurrent tokenize.
    from streaming_feature_store_spark.poolutil import run_concurrent

    stats_path = f"{roots['stats']}/v={day_v}"
    writes = (
        lambda: stats_updated.write.mode("overwrite").parquet(stats_path),
        lambda: append_log_delta(mh_delta, roots["minhash"], day_v),
        lambda: append_log_delta(ledger_delta, roots["fingerprint"], day_v),
    )
    run_concurrent(writes)
    append_log_delta(p_delta, roots["postings"], day_v)

    # step 4: survivor quality read from the snapshot just written
    written_stats = spark.read.parquet(f"{roots['stats']}/v={day_v}")
    quality = unigram_nll_from_index(
        survivors, written_stats, id_col, text_col
    )
    if bigrams:
        quality = quality.join(
            bigram_lm_from_index(survivors, written_stats, id_col, text_col),
            id_col,
            "left",
        )

    return survivors, {"screen": screen, "quality": quality}


def daily_ingest_sink(state_root: str, **kwargs):
    """``foreachBatch`` twin of :func:`daily_ingest` — the streaming
    ingest gate as ONE handler: each micro-batch of documents runs the
    full screen → survivors → index-merge sequence under the batch-id
    snapshot discipline (``daily_ingest(version=batch_id)``), so a
    retried batch re-ingests against the PRE-batch snapshots and
    overwrites its own ``v=<id+1>`` outputs — the delta can never
    double-count into the statistics (pytest replay case).  The per-batch
    screen report lands under ``state_root/reports/v=<id+1>`` as the
    audit trail; downstream consumers read survivors as
    ``batch ⋉ report[kept]``.  ``kwargs`` pass through (thresholds,
    bigrams, id/text columns, seeding mode for a bootstrap batch)."""
    from pyspark.sql import DataFrame

    def _handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        daily_ingest(batch_df, state_root, version=batch_id, **kwargs)

    return _handle


def compact_ingest_state(
    spark, state_root: str, keep_stats: int = 2
) -> dict:
    """Maintenance sweep for a :func:`daily_ingest` state root (run it
    OUTSIDE the ingest job, like any expire-snapshots call): fold each
    doc-keyed delta log back into one snapshot ``v=<k>`` — the fingerprint
    ledger re-aggregated to snapshot shape (per-day (dup_count, min id)
    rows compose by sum/min), signatures and postings plain rewrites —
    and prune old stats snapshots (``keep_stats`` ≥ 2 so an in-flight
    retry keeps its pre-batch view).  Readers never see a torn state:
    the compacted snapshot commits before the dirs it subsumes are
    deleted, and queries answered from the compacted log are
    byte-identical to the uncompacted one (pytest pins it).  Returns
    the per-root compacted version / pruned stats versions."""
    from streaming_feature_store_spark.streaming.dedup import (
        compact_index_log,
    )

    def _fp_merge(df: DataFrame) -> DataFrame:
        return df.groupBy("fingerprint").agg(
            F.sum("dup_count").alias("dup_count"),
            F.min("first_doc_id").alias("first_doc_id"),
        )

    # r12 opt (guide §2.6): the three log compactions rewrite disjoint
    # roots — run them concurrently from a driver pool; the stats prune
    # is pure filesystem work and rides in the same round
    from streaming_feature_store_spark.poolutil import run_concurrent

    tasks = {
        "fingerprint": lambda: compact_index_log(
            spark, f"{state_root}/fingerprint", merge=_fp_merge
        ),
        "minhash": lambda: compact_index_log(
            spark, f"{state_root}/minhash"
        ),
        "postings": lambda: compact_index_log(
            spark, f"{state_root}/postings"
        ),
        "stats_pruned": lambda: commit.sweep(
            f"{state_root}/stats", keep_last=keep_stats
        ),
    }
    keys = list(tasks)
    results = run_concurrent([tasks[k] for k in keys])
    return dict(zip(keys, results))


def daily_erase(
    erased_docs: DataFrame,
    state_root: str,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The composed DSAR day (VERDICT r11 next-item #5 — the demo's
    hand-wired per-index erasure productized): propagate a
    right-to-be-forgotten request into EVERY :func:`daily_ingest` index
    in one call, under the same consistent-version discipline as the
    ingest day.  ``erased_docs`` must carry id AND text (the erasure
    staging log): the stats subtraction and the fingerprint-group
    recompute both need the content being removed; ``corpus`` is the
    RETAINED corpus (erased ids are defensively excluded if present) —
    the fingerprint ledger stores per-content (count, min-id) facts, so
    an erased representative's group must be recomputed from the
    surviving members (``erase_from_minhash_index``'s docstring names
    this as the one non-index-local erasure).

    Per root (each ≡ a rebuild over the survivors — pytest pins all
    four):

    - ``minhash``  — one anti-join on the id (signatures are per-doc
      rows);
    - ``postings`` — one anti-join on the id (``postings_index_erase``);
    - ``stats``    — exact count subtraction
      (``corpus_stats_index_erase``; bigram rows inferred from the
      snapshot);
    - ``fingerprint`` — the raw log anti-joined on the erased CONTENT's
      fingerprints (no corpus-wide groupBy — the ledger is scanned, not
      shuffled) plus those fingerprints' groups recomputed over the
      retained corpus.  Recomputed dup_counts count RETAINED members:
      the ledger's memory of previously-dropped recrawls of the erased
      content goes with it, which is what an erasure audit wants.

    Commit protocol: every root writes version ``day_v`` = 1 + the
    state's consistent version (``_ingest_state``) — the erased state
    lands as snapshot ``v=<day_v>`` in all four roots — and only THEN
    are the subsumed dirs (which still contain the erased rows)
    physically deleted, oldest state included (``commit.sweep``).  A
    crash before all four commit re-runs against the consistent
    pre-erase view; after, the re-run is an idempotent
    anti-join over already-erased state.  Screen reports under
    ``reports/`` keep the erased ids by design (they are the audit
    trail of the DECISIONS); purge them under the deployment's
    report-retention policy, not here.  The decontamination hit ledger
    is monotone and records no train-doc ids (``decontam_erase_eval``'s
    docstring) — train-side erasure there means rebuilding that ledger
    from the retained corpus.

    Returns the audit report (index, rows_before, rows_after), also
    written to ``state_root/erasures/v=<day_v>``.
    """
    from streaming_feature_store_spark.cacheutil import persist_tracked
    from streaming_feature_store_spark.operators.dedup import (
        erase_from_minhash_index,
    )
    from streaming_feature_store_spark.operators.text import (
        corpus_stats_index_erase,
        fingerprint,
        postings_index_erase,
    )
    from streaming_feature_store_spark.streaming.dedup import read_index_log

    spark = erased_docs.sparkSession
    roots, base_v = _ingest_state(state_root)
    day_v = base_v + 1
    ids = persist_tracked(erased_docs.select(F.col(id_col)).distinct())
    erased = persist_tracked(erased_docs.select(id_col, text_col).distinct())
    fps_e = persist_tracked(
        fingerprint(erased, text_col).select("fingerprint").distinct()
    )
    # materialize the shared erased-side frames ONCE before the pool
    # below — concurrent first-touch of a lazily-cached frame computes
    # it in every thread (correct but wasteful); fps_e's lineage pulls
    # ids/erased through, so one tiny job warms all three
    fps_e.count()

    def _erase_root(kind: str, purge) -> tuple[str, int, int]:
        log = read_index_log(spark, roots[kind], base_v)
        if log is None:
            return (kind, 0, 0)
        out = purge(log)
        out.write.mode("overwrite").parquet(f"{roots[kind]}/v={day_v}")
        written = spark.read.parquet(f"{roots[kind]}/v={day_v}")
        return (kind, log.count(), written.count())

    def _purge_fingerprint(log: DataFrame) -> DataFrame:
        kept = log.join(fps_e, "fingerprint", "left_anti")
        retained = corpus.join(ids, id_col, "left_anti")
        recomputed = (
            fingerprint(retained, text_col)
            .join(fps_e, "fingerprint", "left_semi")
            .groupBy("fingerprint")
            .agg(
                F.count("*").alias("dup_count"),
                F.min(id_col).alias("first_doc_id"),
            )
        )
        return kept.unionByName(recomputed.select(*log.columns))

    # phase 1: commit every root's erased state at day_v (order-free —
    # the consistent min-version read makes any crash point re-runnable).
    # r12 opt (guide §2.6): the four roots are independent writes over
    # disjoint state plus the pre-materialized erased-side caches, so
    # they run concurrently from a driver pool instead of paying ~12
    # small job latencies serially (each root is a write + two counts).
    from streaming_feature_store_spark.poolutil import run_concurrent

    tasks = (
        lambda: _erase_root(
            "minhash", lambda log: erase_from_minhash_index(log, ids, id_col)
        ),
        lambda: _erase_root(
            "postings", lambda log: postings_index_erase(log, ids, id_col)
        ),
        lambda: _erase_root("fingerprint", _purge_fingerprint),
        lambda: _erase_root(
            "stats",
            lambda snap: corpus_stats_index_erase(snap, erased, id_col, text_col),
        ),
    )
    report_rows = run_concurrent(tasks)

    # phase 2: physically remove every dir that still holds erased rows
    # — subsumed log dirs AND pre-erase stats snapshots (retention would
    # otherwise keep serving the erased counts)
    for r in roots.values():
        commit.sweep(r, keep_last=1)

    report = spark.createDataFrame(
        report_rows, "index string, rows_before long, rows_after long"
    )
    report.write.mode("overwrite").parquet(
        f"{state_root}/erasures/v={day_v}"
    )
    return spark.read.parquet(f"{state_root}/erasures/v={day_v}")

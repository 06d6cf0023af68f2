"""Streaming deduplication: at-least-once transport → exactly-once events.

Kafka delivery in the reference's simple engine is at-least-once
(auto-commit consumer — stream_processor.py:93, SURVEY §2.6 T6); redelivered
events silently double-count its features. Spark's
``dropDuplicatesWithinWatermark`` dedups on the id columns alone while
expiring per-id state at the watermark horizon — the exact semantics
wanted here. (Plain ``dropDuplicates(id_cols)`` would only evict state if
the event-time column were part of the key subset; with id-only keys its
state grows without bound on a long-running stream.)

Scale: dedup state is keyed by (id), shuffle-partitioned like any keyed op;
the watermark bound means state size ≈ ids-per-horizon, independent of
stream lifetime.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from streaming_feature_store_spark import commit


def dedup_events(
    stream: DataFrame,
    id_cols: list[str],
    ts_col: str = "ts",
    horizon: str = "10 minutes",
) -> DataFrame:
    """Drop redelivered events by id; per-id state expires at the watermark
    horizon (bounded state ≈ ids-per-horizon). Batch frames fall back to
    plain dropDuplicates (no state to bound)."""
    if not stream.isStreaming:
        return stream.dropDuplicates(id_cols)
    return stream.withWatermark(ts_col, horizon).dropDuplicatesWithinWatermark(
        id_cols
    )


def _parquet(spark, vdir: str) -> DataFrame:
    return spark.read.parquet(vdir)


def _write_parquet(index: DataFrame, vdir: str) -> None:
    index.write.mode("overwrite").parquet(vdir)


def _snapshot_sink(
    root: str,
    step,
    side_root: str | None = None,
    read=_parquet,
    write=_write_parquet,
):
    """The ``foreachBatch`` handler every batch-id-versioned index sink
    shares.  ``step(batch_df, prev)`` folds the micro-batch into ``prev``,
    the newest committed snapshot with version ≤ batch_id (None on day
    0), and returns the updated index, or ``(updated, side)`` when
    ``side_root`` is given.  The side output lands as
    ``side_root/batch=<batch_id>``, then the index as
    ``root/v=<batch_id+1>``, so a committed snapshot means the whole batch
    is written.  An empty batch writes nothing.  ``read(spark, vdir)`` and
    ``write(index, vdir)`` load and commit one snapshot (a parquet dir
    unless the index is several tables, as the IVF index is).

    Exactly-once under foreachBatch retries without transactions, by the
    ``commit`` module's rule: the read takes the newest committed version
    ≤ batch_id, so a retried batch re-reads the PRE-batch snapshot even if
    its crashed attempt already wrote ``v=<id+1>``, and both writes
    overwrite batch-derived paths, so a retry replaces its own partial
    output instead of duplicating it.

    Snapshot-versioned indexes also give readers isolation (a concurrent
    job keeps reading v=N while v=N+1 lands) at the cost of retaining old
    versions — bound them with ``commit.sweep``."""

    def _handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        prev = commit.read_newest(root, lambda d: read(spark, d), batch_id)
        updated = step(batch_df, prev)
        if side_root is not None:
            updated, side = updated
            side.write.mode("overwrite").parquet(
                f"{side_root}/batch={batch_id}"
            )
        write(updated, f"{root}/v={batch_id + 1}")

    return _handle


def minhash_index_sink(
    index_root: str,
    pairs_root: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
):
    """``foreachBatch`` handler for streaming incremental dedup: each
    micro-batch of documents is merged against the persisted MinHash
    index (``operators.dedup.minhash_index_merge``) — new near-dup pairs
    land under ``pairs_root/batch=<id>``, the upserted index becomes a
    NEW snapshot ``index_root/v=<id+1>``.  Exactly-once under
    foreachBatch retries by the shared :func:`_snapshot_sink` rule.

    The streaming ≡ batch parity contract: after the stream drains,
    ``union(all pairs batches) ∪ pairs-within-first-batch ≡
    minhash_near_dups(all docs)`` (tests/test_streaming.py).
    """
    from streaming_feature_store_spark.operators.dedup import (
        build_minhash_index,
        minhash_index_merge,
        minhash_index_pairs,
    )

    def step(batch_df: DataFrame, prev: DataFrame | None):
        if prev is None:
            updated = build_minhash_index(
                batch_df, text_col, id_col, n, k, bands
            )
            return updated, minhash_index_pairs(updated, id_col, threshold)
        pairs, updated = minhash_index_merge(
            batch_df, prev, text_col, id_col, n, k, bands, threshold
        )
        return updated, pairs

    return _snapshot_sink(index_root, step, pairs_root)


def fingerprint_index_sink(
    index_root: str,
    screen_root: str,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """``foreachBatch`` twin of the exact-dup ingest screen
    (``operators.dedup.fingerprint_index_merge``): each micro-batch is
    screened against the persisted fingerprint index snapshot — per-doc
    dup flags land under ``screen_root/batch=<id>``, the upserted index
    becomes ``index_root/v=<id+1>``.  Same retry-idempotence discipline
    as :func:`minhash_index_sink` (shared :func:`_snapshot_sink`): a
    retried batch re-reads the pre-batch snapshot and overwrites its own
    batch-derived outputs.  Docs arriving in the FIRST batch screen
    against an empty index (all novel) and seed snapshot v=1."""
    from streaming_feature_store_spark.operators.dedup import (
        exact_dup_groups,
        fingerprint_index_merge,
    )

    def step(batch_df: DataFrame, prev: DataFrame | None):
        if prev is not None:
            screen, updated = fingerprint_index_merge(
                batch_df, prev, text_col, id_col
            )
            return updated, screen
        import pyspark.sql.functions as F

        from streaming_feature_store_spark.operators.text import fingerprint

        screen = fingerprint(batch_df, text_col).select(
            id_col,
            "fingerprint",
            F.lit(None).cast("long").alias("match_id"),
            F.lit(False).alias("is_corpus_dup"),
        )
        return exact_dup_groups(batch_df, text_col, id_col), screen

    return _snapshot_sink(index_root, step, screen_root)


def ivf_index_sink(
    index_root: str,
    nlist: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """``foreachBatch`` twin of ``similarity.ivf_index_merge``, closing
    its documented non-idempotent-append hole (the raw merge APPENDS to
    the cell table, so a retried batch would double its vectors): each
    batch commits the next version ``index_root/v=<id+1>`` of the
    ``save_ivf_index`` layout under the :func:`_snapshot_sink` retry rule,
    so the path is effectively-once without transactions.

    The FIRST non-empty batch trains the centroids
    (``_default_ivf_centroids``, deterministic for a given batch — a
    retry re-trains identically) and seeds v=1; later batches assign
    their vectors to the FIXED centroids (FAISS ``add`` semantics) and
    commit ``previous cells ∪ assigned delta`` with the same centroids.
    Query with ``similarity.ivf_topk_persisted``; bound retention with
    ``commit.sweep`` on ``index_root``.

    Post-drain contract (tests/test_streaming.py): top-k answered from
    the newest version ≡ a one-shot ``save_ivf_index`` build over all
    vectors WITH THE SAME CENTROIDS."""
    from streaming_feature_store_spark.operators.similarity import (
        _centroid_matrix,
        _default_ivf_centroids,
        _ivf_assign,
        _read_ivf,
        _write_ivf,
    )

    def step(batch_df: DataFrame, prev):
        if prev is None:
            Cn = _centroid_matrix(
                _default_ivf_centroids(batch_df, nlist, id_col, vec_col),
                vec_col,
            )
            return Cn, _ivf_assign(batch_df, Cn, id_col, vec_col)
        Cn, cells = prev
        return Cn, cells.unionByName(
            _ivf_assign(batch_df, Cn, id_col, vec_col)
        )

    return _snapshot_sink(index_root, step, read=_read_ivf, write=_write_ivf)


# --- delta-log index layout (VERDICT r11 next-item #1) ----------------------
#
# The versioned-snapshot discipline above rewrites the WHOLE index every
# batch — fine for vocabulary-bounded state (corpus stats), O(corpus) write
# amplification for doc-keyed state (fingerprint ledger, MinHash signatures,
# BM25 postings: one row per doc / per (doc, term)).  Those relations are
# append-shaped under the daily-ingest contract (doc ids unique across
# days; recrawls are screened by fingerprint before they reach the other
# indexes), so their persisted form is a DELTA LOG:
#
#   root/
#     d=<n>/   day n's delta rows only
#     v=<k>/   optional compacted snapshot covering days 1..k
#
# versioned and read by the ``commit`` module's rule (snapshot k ≤ V plus
# deltas k < d ≤ V).  A day's write is |delta|-sized; reads scan the same
# rows a snapshot would; compaction (a maintenance job, like
# ``commit.sweep``) folds the log back into one snapshot when file counts
# grow.  This is the LSM/table-format shape (Iceberg append snapshots,
# Delta add-files) expressed on plain parquet directories.


def append_log_delta(df, index_root: str, version: int) -> None:
    """Land one day's delta rows as ``root/d=<version>`` (mode=overwrite:
    a retried batch overwrites its own crashed attempt — the same
    batch-derived-path idempotence as the snapshot sinks, with
    |delta|-sized I/O instead of an O(corpus) rewrite)."""
    df.write.mode("overwrite").parquet(f"{index_root}/d={version}")


def read_index_log(spark, index_root: str, version: int | None = None):
    """The logical index at ``version`` (None = newest) of a delta-log
    root: one multi-path parquet scan over the newest committed snapshot
    ≤ version plus the committed deltas above it (``commit.read_newest``).
    Returns ``None`` when nothing is committed in scope or it holds no
    data file — callers seed an empty-schema frame, exactly as for a
    missing snapshot.  A committed 0-row write still leaves a
    schema-carrying data file and reads as 0 rows; any read error
    raises.

    The union is a SCAN, not a merge: doc-keyed index rows are disjoint
    across days by contract, so no aggregation is needed to read them.
    (The fingerprint ledger is the one consumer that would need a
    groupBy to reconstruct snapshot-shaped rows — its screen
    deliberately avoids that via ``dedup.fingerprint_log_screen``, which
    aggregates per DELTA doc, never per corpus row;
    :func:`compact_index_log` takes the groupBy as its ``merge`` arg.)"""
    return commit.read_newest(index_root, spark.read.parquet, version)


def compact_index_log(spark, index_root: str, merge=None) -> int | None:
    """Fold a delta log back into one snapshot: read the logical index at
    the newest committed version V, apply ``merge`` (e.g. the fingerprint
    ledger's groupBy-sum/min; None = plain rewrite), commit it as
    ``v=V``, then sweep the dirs it subsumes.  Returns V (None if the log
    is empty).

    Crash-safe by the ``commit`` rule: a torn ``v=V`` is invisible, and
    the moment it commits readers stop consulting the older dirs, so the
    sweep afterwards is pure space reclamation.  A rerun after a crash
    between the two finds ``v=V`` already the whole index and only
    sweeps.  Run it OUTSIDE the writer (a maintenance job); dirs NEWER
    than V (an in-flight day) are never touched."""
    v = commit.newest(index_root)
    dirs = commit.read_newest(index_root, lambda *d: d)
    if dirs is None:
        return None
    snapshot = os.path.join(index_root, f"v={v}")
    if dirs != (snapshot,):
        df = spark.read.parquet(*dirs)
        out = merge(df) if merge is not None else df
        out.write.mode("overwrite").parquet(snapshot)
    commit.sweep(index_root, keep_last=1)
    return v


def stats_index_sink(
    index_root: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    bigrams: bool = True,
):
    """``foreachBatch`` twin of ``text.corpus_stats_index_merge``: each
    micro-batch of documents folds its (vocabulary-bounded) count index
    into the persisted corpus-statistics snapshot — the streaming
    maintenance path for the q235/q236/q238 quality-gate and DSIR
    statistics.  Same batch-id-versioned retry-idempotence discipline as
    the other index sinks; post-drain the newest snapshot ≡ one batch
    ``corpus_stats_index`` over all documents (tests/test_streaming.py).
    Documents must arrive exactly once across batches (the disjoint-set
    merge contract — put ``fingerprint_index_sink`` in front to screen
    re-deliveries)."""
    from streaming_feature_store_spark.operators.text import (
        corpus_stats_index,
        corpus_stats_index_merge,
    )

    def step(batch_df: DataFrame, prev: DataFrame | None):
        delta = corpus_stats_index(batch_df, id_col, text_col, bigrams)
        if prev is None:
            return delta
        return corpus_stats_index_merge(prev, delta)

    return _snapshot_sink(index_root, step)


def postings_index_sink(
    index_root: str, text_col: str = "text", id_col: str = "doc_id"
):
    """``foreachBatch`` twin of ``text.postings_index_merge`` — streaming
    maintenance of the BM25 inverted index (q237): each batch's postings
    + per-doc length rows fold into the versioned snapshot (pure append
    for disjoint docs; the sum also keeps a split-across-batches doc
    correct).  Same retry-idempotence discipline; post-drain snapshot ≡
    one batch ``postings_index`` over all documents."""
    from streaming_feature_store_spark.operators.text import (
        postings_index,
        postings_index_merge,
    )

    def step(batch_df: DataFrame, prev: DataFrame | None):
        delta = postings_index(batch_df, id_col, text_col)
        if prev is None:
            return delta
        return postings_index_merge(prev, delta, id_col)

    return _snapshot_sink(index_root, step)


def line_freq_index_sink(
    index_root: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    line_sep: str = "\n",
):
    """``foreachBatch`` twin of ``text.line_freq_index_merge`` (VERDICT
    r10 next-item #3) — streaming maintenance of the CCNet boilerplate
    line-frequency index: each batch's distinct-doc line counts fold
    into the versioned snapshot (union+sum keyed by line), so a
    streaming line-dedup gate (``line_dedup_from_index`` against the
    newest snapshot) never re-segments history.  Same batch-id-versioned
    retry-idempotence discipline as the other index sinks; post-drain
    snapshot ≡ one batch ``line_freq_index`` over all documents.
    Documents must arrive exactly once across batches (the disjoint-set
    contract — screen re-deliveries with ``fingerprint_index_sink``)."""
    from streaming_feature_store_spark.operators.text import (
        line_freq_index,
        line_freq_index_merge,
    )

    def step(batch_df: DataFrame, prev: DataFrame | None):
        delta = line_freq_index(batch_df, id_col, text_col, line_sep)
        if prev is None:
            return delta
        return line_freq_index_merge(prev, delta)

    return _snapshot_sink(index_root, step)


def ngram_df_index_sink(
    index_root: str,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """``foreachBatch`` twin of ``text.ngram_doc_freq_index_merge``
    (VERDICT r10 next-item #3) — streaming maintenance of the
    boilerplate-phrase n-gram document-frequency index: distinct-doc
    gram counts (and the NULL-gram corpus-size row) are additive, so
    each batch is one union+sum and ``boilerplate_from_index`` reads the
    newest snapshot as a closed form.  Same snapshot discipline and
    disjoint-doc contract as :func:`line_freq_index_sink`."""
    from streaming_feature_store_spark.operators.text import (
        ngram_doc_freq_index,
        ngram_doc_freq_index_merge,
    )

    def step(batch_df: DataFrame, prev: DataFrame | None):
        delta = ngram_doc_freq_index(batch_df, n, id_col, text_col)
        if prev is None:
            return delta
        return ngram_doc_freq_index_merge(prev, delta)

    return _snapshot_sink(index_root, step)


def decontam_hits_sink(
    hits_root: str,
    eval_index_path: str,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """``foreachBatch`` twin of ``curation.decontam_hits_merge`` — the
    streaming decontamination ledger: training documents arrive in
    micro-batches, each folds its n-gram collisions against the STATIC
    persisted eval index (``curation.decontam_index`` written once to
    ``eval_index_path``) into the versioned hit set.  The state is
    monotone and bounded by the eval suite forever; a batch's cost is
    shingling the batch.  Same batch-id-versioned retry-idempotence
    discipline as the other index sinks; post-drain the newest snapshot
    ≡ the one-shot ``decontaminate(all train, eval)`` hit pairs
    (tests/test_r11_ops.py)."""
    from streaming_feature_store_spark.operators.curation import (
        decontam_hits_merge,
    )

    def step(batch_df: DataFrame, prev: DataFrame | None):
        eval_index = batch_df.sparkSession.read.parquet(eval_index_path)
        return decontam_hits_merge(
            prev, batch_df, eval_index, n, id_col, text_col
        )

    return _snapshot_sink(hits_root, step)


def winnow_index_sink(
    index_root: str,
    pairs_root: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    w: int = 4,
    threshold: float = 0.5,
):
    """``foreachBatch`` twin of ``text.winnow_index_merge`` (VERDICT r10
    next-item #3) — the streaming substring-containment gate: each
    batch fingerprints ONLY itself, joins the persisted ``(doc, sel)``
    winnowing index, lands its containment pairs under
    ``pairs_root/batch=<id>`` and the unioned index as the next
    snapshot.  Emit-then-upsert mirrors :func:`minhash_index_sink`
    (pairs are the actionable screen; the index is the state), with the
    same retry discipline — both writes are batch-derived overwrite
    paths.  Post-drain contract: ``union(all pairs batches) ≡
    winnow_containment_pairs(all docs)`` — every pair involves at least
    one batch's docs because EVERY doc arrives in some batch, so no
    pair is history-only (tests/test_r11_ops.py)."""
    from streaming_feature_store_spark.operators.text import (
        _winnow_sel,
        winnow_index_merge,
    )

    def step(batch_df: DataFrame, prev: DataFrame | None):
        if prev is None:
            # empty index with the exact fingerprint schema: the merge
            # then yields the batch's own (delta-delta) pairs
            prev = _winnow_sel(batch_df.limit(0), text_col, id_col, k, w)
        new_pairs, updated = winnow_index_merge(
            batch_df, prev, id_col, text_col, k, w, threshold
        )
        return updated, new_pairs

    return _snapshot_sink(index_root, step, pairs_root)

"""Round-11 operators: the executable BM25 bucketed layout
(save/load_postings_index — VERDICT r10 next-item #1), streaming sink
twins for the line-freq/winnow/ngram-df indexes (#3), the incremental
decontamination index (#6), and the composed daily_ingest pipeline (#5)."""

import random
import uuid

import pyspark.sql.functions as F
import pytest

from streaming_feature_store_spark.operators.text import (
    bm25_from_index,
    bm25_topk,
    corpus_stats_index,
    drop_postings_index,
    load_postings_index,
    postings_index,
    save_postings_index,
)

_VOCAB = (
    "spark hash join window batch stream data query the a vector scan"
).split()


def _docs(spark, n=120, seed=3, with_null=True):
    rng = random.Random(seed)
    rows = [
        (i, " ".join(rng.choice(_VOCAB) for _ in range(rng.randrange(1, 20))))
        for i in range(n)
    ]
    if with_null:
        rows += [(n, None), (n + 1, "zzz"), (n + 2, "q")]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _canon(df):
    return sorted(tuple(map(repr, r)) for r in df.collect())


_SHUFFLE_MARKS = (
    "Exchange hashpartitioning",
    "Exchange rangepartitioning",
    "Exchange SinglePartition",
)


def _shuffles(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(plan.count(m) for m in _SHUFFLE_MARKS)


# --- save/load_postings_index: parity + zero-Exchange postings side ---------


def test_persisted_postings_layout_bm25_parity(spark, tmp_path):
    docs = _docs(spark)
    name = f"t_post_{uuid.uuid4().hex[:8]}"
    try:
        save_postings_index(
            postings_index(docs), name, str(tmp_path / "post"), buckets=8
        )
        tf, dl = load_postings_index(spark, name)
        stats = corpus_stats_index(docs, bigrams=False).persist()
        qdf = spark.createDataFrame(
            [("q1", "hash join strategy"), ("q2", "the vector scan")],
            "query_id string, query_text string",
        )
        got = bm25_from_index(tf, stats, qdf, k=5, doc_lengths=dl)
        want = bm25_topk(docs, qdf, k=5)
        assert _canon(got) == _canon(want)
        # the by_term copy scores identically (only the physical layout
        # differs)
        tf_t, dl_t = load_postings_index(spark, name, layout="by_term")
        got_t = bm25_from_index(tf_t, stats, qdf, k=5, doc_lengths=dl_t)
        assert _canon(got_t) == _canon(want)
    finally:
        drop_postings_index(spark, name)


def test_persisted_postings_dl_join_and_score_agg_shuffle_free(
    spark, tmp_path
):
    """The mechanism VERDICT r10 item #1 asks for: with both tables
    bucketed by doc_id, the postings ⋈ doc-lengths join AND the
    (query_id, doc_id) score aggregation run with ZERO shuffle Exchange —
    doc_id hash buckets already co-locate every (query_id, doc_id) group
    (subset-of-grouping-keys partitioning satisfies the clustering)."""
    docs = _docs(spark)
    name = f"t_post_{uuid.uuid4().hex[:8]}"
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        save_postings_index(
            postings_index(docs), name, str(tmp_path / "post"), buckets=8
        )
        tf, dl = load_postings_index(spark, name)
        # the exact postings-side subplan of bm25_from_index: prune to
        # broadcast query terms, join lengths, aggregate per (query, doc)
        qterms = F.broadcast(
            spark.createDataFrame(
                [("q1", "hash", 1.5, 10.0), ("q1", "join", 1.1, 10.0)],
                "query_id string, term string, idf double, avgdl double",
            )
        )
        scored = (
            tf.withColumnRenamed("n", "tf")
            .join(qterms, "term")
            .join(dl, "doc_id")
            .groupBy("query_id", "doc_id")
            .agg(F.sum(F.col("idf") * F.col("tf")).alias("score"))
        )
        assert scored.count() > 0
        assert _shuffles(scored) == 0, (
            scored._jdf.queryExecution().executedPlan().toString()
        )
        # contrast: the tall-frame form pays a |docs|-proportional shuffle
        tall = postings_index(docs)
        tf2 = tall.filter(F.col("term").isNotNull()).withColumnRenamed(
            "n", "tf"
        )
        dl2 = tall.filter(F.col("term").isNull()).select(
            "doc_id", F.col("n").alias("dl")
        )
        scored2 = (
            tf2.join(qterms, "term")
            .join(dl2, "doc_id")
            .groupBy("query_id", "doc_id")
            .agg(F.sum(F.col("idf") * F.col("tf")).alias("score"))
        )
        assert _shuffles(scored2) > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        drop_postings_index(spark, name)


def test_load_postings_index_rejects_unknown_layout(spark):
    import pytest

    with pytest.raises(ValueError, match="layout"):
        load_postings_index(spark, "whatever", layout="by_moon")


# --- streaming sink twins for the r10 index family (VERDICT r10 #3) ---------

_SINK_DOCS = [
    (1, "nav bar\nthe quick brown fox jumps over the lazy dog today"),
    (2, "nav bar\njumps over the lazy dog jumps over the lazy dog"),
    (3, "spark shuffles data\nthe quick brown fox jumps over the lazy"),
    (4, "nav bar\nthe quick red fox jumps over the lazy dog today"),
    (5, "dog and fox and spark shuffles data all day long here"),
    (6, None),
    (7, "one"),
]


def _drain(spark, tmp_path, sink, ckpt, src):
    q = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)


def _doc_source(spark, tmp_path):
    import os

    src = str(tmp_path / "docs")
    os.makedirs(src)
    for rows in (_SINK_DOCS[0:3], _SINK_DOCS[3:5], _SINK_DOCS[5:7]):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(src)
    return src, spark.createDataFrame(_SINK_DOCS, "doc_id long, text string")


@pytest.mark.slow
def test_line_freq_and_ngram_df_index_streams_match_batch(spark, tmp_path):
    from streaming_feature_store_spark.operators.text import (
        line_freq_index,
        ngram_doc_freq_index,
    )
    from streaming_feature_store_spark.commit import newest as _latest_snapshot
    from streaming_feature_store_spark.streaming.dedup import (
        line_freq_index_sink,
        ngram_df_index_sink,
    )

    src, all_docs = _doc_source(spark, tmp_path)
    lroot, groot = str(tmp_path / "lines"), str(tmp_path / "grams")
    _drain(spark, tmp_path, line_freq_index_sink(lroot), "ckpt_l", src)
    _drain(spark, tmp_path, ngram_df_index_sink(groot, n=3), "ckpt_g", src)
    vl = _latest_snapshot(lroot, None)
    assert _canon(spark.read.parquet(f"{lroot}/v={vl}")) == _canon(
        line_freq_index(all_docs)
    )
    vg = _latest_snapshot(groot, None)
    assert _canon(spark.read.parquet(f"{groot}/v={vg}")) == _canon(
        ngram_doc_freq_index(all_docs, n=3)
    )


@pytest.mark.slow
def test_winnow_index_stream_matches_batch(spark, tmp_path):
    from streaming_feature_store_spark.operators.text import (
        build_winnow_index,
        winnow_containment_pairs,
    )
    from streaming_feature_store_spark.commit import newest as _latest_snapshot
    from streaming_feature_store_spark.streaming.dedup import (
        winnow_index_sink,
    )

    src, all_docs = _doc_source(spark, tmp_path)
    iroot, proot = str(tmp_path / "widx"), str(tmp_path / "wpairs")
    _drain(
        spark,
        tmp_path,
        winnow_index_sink(iroot, proot, threshold=0.3),
        "ckpt_w",
        src,
    )
    vi = _latest_snapshot(iroot, None)
    assert _canon(spark.read.parquet(f"{iroot}/v={vi}")) == _canon(
        build_winnow_index(all_docs)
    )
    # union of all per-batch pair outputs ≡ the one-shot batch screen
    got = spark.read.parquet(f"{proot}/batch=*").select(
        "doc_a", "doc_b", "n_shared", "containment"
    )
    want = winnow_containment_pairs(all_docs, threshold=0.3).select(
        "doc_a", "doc_b", "n_shared", "containment"
    )
    assert _canon(got) == _canon(want)


# --- incremental decontamination (VERDICT r10 #6) ----------------------------


def test_decontam_hits_merge_matches_one_shot(spark):
    from streaming_feature_store_spark.operators.curation import (
        decontam_hits_merge,
        decontam_index,
        decontaminate,
        decontaminate_from_index,
    )

    docs = _docs(spark, n=60, seed=7)
    ev = docs.filter(F.col("doc_id") % 5 == 0)
    base = docs.filter((F.col("doc_id") % 5).isin(1, 2))
    delta = docs.filter((F.col("doc_id") % 5).isin(3, 4))
    idx = decontam_index(ev, n=4).persist()
    hits = decontam_hits_merge(None, base, idx, n=4)
    hits = decontam_hits_merge(hits, delta, idx, n=4)
    got = decontaminate_from_index(ev, idx, hits).select(
        "doc_id", "n_grams", "n_shared_grams", "containment", "is_contaminated"
    )
    want = decontaminate(
        docs.filter(F.col("doc_id") % 5 != 0), ev, n=4
    ).select(
        "doc_id", "n_grams", "n_shared_grams", "containment", "is_contaminated"
    )
    assert _canon(got) == _canon(want)
    # monotone state: re-ingesting the same delta is a no-op
    again = decontam_hits_merge(hits, delta, idx, n=4)
    assert _canon(again) == _canon(hits)


@pytest.mark.slow
def test_append_postings_index_matches_full_save(spark, tmp_path):
    """Daily maintenance of the bucketed layout: INSERT INTO per table.
    append(base, delta) ≡ save(base ∪ delta) for BM25 answers, and the
    postings-side subplan stays shuffle-free after the append."""
    from streaming_feature_store_spark.operators.text import (
        append_postings_index,
        corpus_stats_index,
        corpus_stats_index_merge,
    )

    docs = _docs(spark)
    base = docs.filter(F.col("doc_id") % 4 != 0)
    delta = docs.filter(F.col("doc_id") % 4 == 0)
    name_a = f"t_app_{uuid.uuid4().hex[:8]}"
    name_f = f"t_full_{uuid.uuid4().hex[:8]}"
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        save_postings_index(
            postings_index(base), name_a, str(tmp_path / "a"), buckets=8
        )
        append_postings_index(postings_index(delta), name_a)
        save_postings_index(
            postings_index(docs), name_f, str(tmp_path / "f"), buckets=8
        )
        stats = corpus_stats_index_merge(
            corpus_stats_index(base, bigrams=False),
            corpus_stats_index(delta, bigrams=False),
        ).persist()
        qdf = spark.createDataFrame(
            [("q1", "hash join strategy"), ("q2", "the vector scan")],
            "query_id string, query_text string",
        )
        tf_a, dl_a = load_postings_index(spark, name_a)
        tf_f, dl_f = load_postings_index(spark, name_f)
        got = bm25_from_index(tf_a, stats, qdf, k=5, doc_lengths=dl_a)
        want = bm25_from_index(tf_f, stats, qdf, k=5, doc_lengths=dl_f)
        assert _canon(got) == _canon(want)
        assert _canon(got) == _canon(bm25_topk(docs, qdf, k=5))
        # co-location survives the append: tf ⋈ dl still exchange-free
        joined = (
            tf_a.withColumnRenamed("n", "tf")
            .join(dl_a, "doc_id")
            .groupBy("doc_id")
            .agg(F.sum("tf").alias("s"))
        )
        assert joined.count() > 0
        assert _shuffles(joined) == 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        drop_postings_index(spark, name_a)
        drop_postings_index(spark, name_f)


def test_decontam_erase_eval_purges_both_relations(spark):
    from streaming_feature_store_spark.operators.curation import (
        decontam_erase_eval,
        decontam_hits_merge,
        decontam_index,
    )

    docs = _docs(spark, n=40, seed=11)
    ev = docs.filter(F.col("doc_id") % 5 == 0)
    train = docs.filter(F.col("doc_id") % 5 != 0)
    idx = decontam_index(ev, n=4).persist()
    hits = decontam_hits_merge(None, train, idx, n=4).persist()
    victim = ev.limit(1).select("doc_id")
    vid = victim.collect()[0]["doc_id"]
    idx2, hits2 = decontam_erase_eval(idx, hits, victim)
    assert idx2.filter(F.col("doc_id") == vid).count() == 0
    assert hits2.filter(F.col("doc_id") == vid).count() == 0
    # equals a rebuild over the surviving eval set
    surv = ev.filter(F.col("doc_id") != vid)
    assert _canon(idx2) == _canon(decontam_index(surv, n=4))
    assert _canon(hits2) == _canon(
        decontam_hits_merge(None, train, decontam_index(surv, n=4), n=4)
    )


@pytest.mark.slow
def test_decontam_hits_stream_matches_batch(spark, tmp_path):
    from streaming_feature_store_spark.operators.curation import (
        decontam_index,
        decontaminate,
        decontaminate_from_index,
    )
    from streaming_feature_store_spark.commit import newest as _latest_snapshot
    from streaming_feature_store_spark.streaming.dedup import (
        decontam_hits_sink,
    )

    docs = _docs(spark, n=60, seed=7)
    ev = docs.filter(F.col("doc_id") % 5 == 0)
    train = docs.filter(F.col("doc_id") % 5 != 0)
    eidx_path = str(tmp_path / "evalidx")
    decontam_index(ev, n=4).write.parquet(eidx_path)
    src = str(tmp_path / "train_src")
    for m in (1, 2, 3, 4):
        train.filter(F.col("doc_id") % 5 == m).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    hroot = str(tmp_path / "hits")
    _drain(
        spark,
        tmp_path,
        decontam_hits_sink(hroot, eidx_path, n=4),
        "ckpt_dc",
        src,
    )
    v = _latest_snapshot(hroot, None)
    got = decontaminate_from_index(
        ev, spark.read.parquet(eidx_path), spark.read.parquet(f"{hroot}/v={v}")
    ).select("doc_id", "n_grams", "n_shared_grams", "containment")
    want = decontaminate(train, ev, n=4).select(
        "doc_id", "n_grams", "n_shared_grams", "containment"
    )
    assert _canon(got) == _canon(want)


# --- daily_ingest composite (VERDICT r10 #5) ---------------------------------


@pytest.mark.slow
def test_daily_ingest_two_days(spark, tmp_path):
    from streaming_feature_store_spark.operators.curation import daily_ingest
    from streaming_feature_store_spark.operators.text import (
        postings_index,
        unigram_nll,
    )
    from streaming_feature_store_spark.commit import newest as _latest_snapshot

    root = str(tmp_path / "state")
    base_rows = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "spark shuffles data across the cluster every night"),
        (3, "the quick brown fox jumps over the lazy dog today"),  # in-batch exact dup of 1
        (4, "window functions rank rows within partitions cheaply"),
    ]
    day1 = spark.createDataFrame(base_rows, "doc_id long, text string")
    s1, rep1 = daily_ingest(day1, root, bigrams=False)
    kept1 = sorted(r["doc_id"] for r in s1.collect())
    assert kept1 == [1, 2, 4]  # 3 collapsed onto 1 (lowest id kept)
    scr1 = {r["doc_id"]: r.asDict() for r in rep1["screen"].collect()}
    assert scr1[3]["kept"] is False and scr1[3]["is_near_dup"] is True
    assert scr1[3]["best_match_id"] == 1 and not scr1[3]["match_in_index"]

    day2_rows = [
        (10, "the quick brown fox jumps over the lazy dog today"),  # exact recrawl of 1
        (11, "spark shuffles data across the cluster every single night"),  # near-dup of 2
        (12, "completely novel content about embeddings and retrieval"),
    ]
    day2 = spark.createDataFrame(day2_rows, "doc_id long, text string")
    s2, rep2 = daily_ingest(day2, root, bigrams=False)
    kept2 = sorted(r["doc_id"] for r in s2.collect())
    assert kept2 == [12]
    scr2 = {r["doc_id"]: r.asDict() for r in rep2["screen"].collect()}
    assert scr2[10]["is_exact_dup"] is True
    assert scr2[11]["is_near_dup"] is True and scr2[11]["match_in_index"]
    assert scr2[11]["best_match_id"] == 2

    # the statistics indexes hold EXACTLY the survivors' counts — the
    # double-count hazard contract: dropped duplicates never merged
    all_surv = day1.filter(F.col("doc_id").isin(kept1)).unionByName(
        day2.filter(F.col("doc_id").isin(kept2))
    )
    from streaming_feature_store_spark.operators.text import (
        corpus_stats_index,
    )

    vs = _latest_snapshot(f"{root}/stats", None)
    assert vs == 2
    assert _canon(spark.read.parquet(f"{root}/stats/v={vs}")) == _canon(
        corpus_stats_index(all_surv, bigrams=False)
    )
    # postings live in the delta-log layout (r12): per-day d=<n> dirs,
    # logically the union — still exactly the one-shot survivor build
    from streaming_feature_store_spark.commit import newest as log_version
    from streaming_feature_store_spark.streaming.dedup import (
        read_index_log,
    )

    vp = log_version(f"{root}/postings")
    assert vp == 2
    assert _canon(read_index_log(spark, f"{root}/postings")) == _canon(
        postings_index(all_surv)
    )
    # survivor quality scores ≡ full recompute over the survivor corpus
    want_q = unigram_nll(all_surv).filter(F.col("doc_id") == 12)
    got_q = rep2["quality"].select("doc_id", "n_tokens", "mean_nll")
    assert _canon(got_q) == _canon(
        want_q.select("doc_id", "n_tokens", "mean_nll")
    )


@pytest.mark.slow
def test_daily_ingest_seeding_mode_skips_pairs_but_indexes(spark, tmp_path):
    """screen_near_dups=False (day-0 seeding from a curated corpus):
    near-dup pair machinery skipped, but signatures still land in the
    minhash index so day 1 matches against the base."""
    from streaming_feature_store_spark.operators.curation import daily_ingest

    root = str(tmp_path / "state")
    day0 = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog today"),  # near/exact dup NOT screened in seeding mode
            (3, "spark shuffles data across the cluster every night"),
        ],
        "doc_id long, text string",
    )
    s0, rep0 = daily_ingest(day0, root, bigrams=False, screen_near_dups=False)
    # exact tier still applies within... no: both novel vs EMPTY corpus
    # index, so seeding keeps all three (the caller vouched for the base)
    assert sorted(r["doc_id"] for r in s0.collect()) == [1, 2, 3]
    assert all(not r["is_near_dup"] for r in rep0["screen"].collect())
    day1 = spark.createDataFrame(
        [(20, "the quick brown fox jumps over the lazy dog today")],
        "doc_id long, text string",
    )
    s1, rep1 = daily_ingest(day1, root, bigrams=False)
    assert s1.count() == 0  # matched the seeded signatures
    row = rep1["screen"].collect()[0]
    assert row["is_exact_dup"] and not row["kept"]


@pytest.mark.slow
def test_daily_ingest_sink_stream_and_retry(spark, tmp_path):
    """Streaming twin of the composed ingest: micro-batches run the full
    screen -> survivors -> merge under the batch-id discipline.  Post-
    drain the stats snapshot equals a one-shot build over the union of
    per-batch survivors, and replaying a batch never double-counts."""
    import os

    from streaming_feature_store_spark.operators.curation import (
        daily_ingest_sink,
    )
    from streaming_feature_store_spark.operators.text import (
        corpus_stats_index,
    )
    from streaming_feature_store_spark.commit import newest as _latest_snapshot

    rows_b0 = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "spark shuffles data across the cluster every night"),
    ]
    rows_b1 = [
        (10, "the quick brown fox jumps over the lazy dog today"),  # recrawl
        (11, "window functions rank rows within partitions cheaply"),
    ]
    rows_b2 = [
        (20, "completely novel content about embeddings and retrieval"),
    ]
    src = str(tmp_path / "docs")
    os.makedirs(src)
    for rows in (rows_b0, rows_b1, rows_b2):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(src)
    state = str(tmp_path / "state")
    _drain(
        spark,
        tmp_path,
        daily_ingest_sink(state, bigrams=False),
        "ckpt_di",
        src,
    )
    v = _latest_snapshot(f"{state}/stats", None)
    survivors = spark.createDataFrame(
        [r for r in rows_b0 + rows_b1 + rows_b2 if r[0] != 10],
        "doc_id long, text string",
    )
    got = spark.read.parquet(f"{state}/stats/v={v}")
    assert _canon(got) == _canon(corpus_stats_index(survivors, bigrams=False))
    # replay the last batch (crashed-attempt retry): identical snapshot,
    # no double counts
    b2 = spark.createDataFrame(rows_b2, "doc_id long, text string")
    daily_ingest_sink(state, bigrams=False)(b2, 2)
    got2 = spark.read.parquet(f"{state}/stats/v=3")
    assert _canon(got2) == _canon(
        corpus_stats_index(survivors, bigrams=False)
    )


def test_line_freq_sink_retry_rereads_prebatch_snapshot(spark, tmp_path):
    """Replaying handler(b1, 1) twice must leave v=2 identical — the
    retry reads the PRE-batch snapshot, not its own crashed attempt."""
    from streaming_feature_store_spark.operators.text import line_freq_index
    from streaming_feature_store_spark.streaming.dedup import (
        line_freq_index_sink,
    )

    root = str(tmp_path / "lines")
    handle = line_freq_index_sink(root)
    b0 = spark.createDataFrame(_SINK_DOCS[0:3], "doc_id long, text string")
    b1 = spark.createDataFrame(_SINK_DOCS[3:5], "doc_id long, text string")
    handle(b0, 0)
    handle(b1, 1)  # crashed attempt: v=2 exists
    handle(b1, 1)  # retry must read v=1, not v=2
    all_docs = spark.createDataFrame(
        _SINK_DOCS[0:5], "doc_id long, text string"
    )
    assert _canon(spark.read.parquet(f"{root}/v=2")) == _canon(
        line_freq_index(all_docs)
    )

"""Round-12 contracts: the delta-log index layout behind daily_ingest
(VERDICT r11 #1 — delta-priced writes), the consistent-version
crash-retry fix (ADVICE r11 medium), compaction, the committed-only
prune sweep (ADVICE r11), the bigram-flag guard (ADVICE r11), the
unhinted bm25_from_index query join + the by_term regime plan
(VERDICT r11 #2), the composed daily_erase (VERDICT r11 #5), and the
multi-day sink soak (VERDICT r11 #6)."""

from __future__ import annotations

import os
import random
import shutil
import uuid

import pyspark.sql.functions as F
import pytest

from streaming_feature_store_spark.operators.curation import (
    compact_ingest_state,
    daily_erase,
    daily_ingest,
    daily_ingest_sink,
)
from streaming_feature_store_spark.operators.dedup import (
    build_minhash_index,
    exact_dup_groups,
    fingerprint_log_screen,
    minhash_index_screen,
)
from streaming_feature_store_spark.operators.text import (
    bm25_from_index,
    bm25_topk,
    corpus_stats_index,
    drop_postings_index,
    load_postings_index,
    postings_index,
    save_postings_index,
    unigram_nll,
)
from streaming_feature_store_spark.commit import newest as _latest_snapshot
from streaming_feature_store_spark.commit import newest as log_version
from streaming_feature_store_spark.commit import sweep as prune_snapshots
from streaming_feature_store_spark.streaming.dedup import read_index_log


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


_DAY1 = [
    (1, "the quick brown fox jumps over the lazy dog today"),
    (2, "spark shuffles data across the cluster every night"),
    (3, "the quick brown fox jumps over the lazy dog today"),
    (4, "window functions rank rows within partitions cheaply"),
]
_DAY2 = [
    (10, "the quick brown fox jumps over the lazy dog today"),  # recrawl
    (11, "spark shuffles data across the cluster every single night"),
    (12, "completely novel content about embeddings and retrieval"),
]
_DAY3 = [
    (20, "window functions rank rows within partitions cheaply"),  # recrawl
    (21, "fresh text about adaptive query execution and skew joins"),
]


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# --- delta-priced writes (VERDICT r11 #1) ------------------------------------


@pytest.mark.slow
def test_daily_ingest_writes_are_delta_sized(spark, tmp_path):
    """Each day lands ONLY its delta rows in the doc-keyed logs — the
    O(corpus)-per-day snapshot rewrite is gone.  d=2's postings rows
    cover day 2's one survivor, not the whole corpus."""
    root = str(tmp_path / "state")
    daily_ingest(_df(spark, _DAY1), root, bigrams=False)
    daily_ingest(_df(spark, _DAY2), root, bigrams=False)

    d2_post = spark.read.parquet(f"{root}/postings/d=2")
    # day 2's lone survivor is doc 12: its term rows + one length row
    assert set(r["doc_id"] for r in d2_post.collect()) == {12}
    d2_mh = spark.read.parquet(f"{root}/minhash/d=2")
    # exact survivors of day 2 (11 and 12) carry signatures; recrawl 10
    # was killed by the fingerprint tier and never shingled
    assert set(r["doc_id"] for r in d2_mh.collect()) == {11, 12}
    d2_fp = spark.read.parquet(f"{root}/fingerprint/d=2")
    # the ledger absorbs the WHOLE delta (it is the re-delivery record)
    assert d2_fp.count() == 3

    # the logical ledger equals exact_dup_groups over everything ingested
    fp_log = read_index_log(spark, f"{root}/fingerprint")
    agg = fp_log.groupBy("fingerprint").agg(
        F.sum("dup_count").alias("dup_count"),
        F.min("first_doc_id").alias("first_doc_id"),
    )
    want = exact_dup_groups(_df(spark, _DAY1 + _DAY2))
    assert _canon(agg) == _canon(want)


@pytest.mark.slow
def test_daily_ingest_default_mode_crash_retry(spark, tmp_path):
    """The ADVICE r11 medium scenario: day 2 crashes AFTER the
    fingerprint ledger commits but BEFORE stats/postings/minhash do.
    With the consistent min-version read, the retry re-reads the
    pre-crash view everywhere — the delta's counts are NOT lost and the
    final state equals a clean two-day run."""
    root = str(tmp_path / "state")
    clean = str(tmp_path / "clean")
    day1, day2 = _df(spark, _DAY1), _df(spark, _DAY2)
    daily_ingest(day1, root, bigrams=False)
    daily_ingest(day2, root, bigrams=False)
    # simulate the torn day 2: only the fingerprint ledger's d=2 commit
    # survives the crash
    shutil.rmtree(f"{root}/minhash/d=2")
    shutil.rmtree(f"{root}/postings/d=2")
    shutil.rmtree(f"{root}/stats/v=2")
    shutil.rmtree(f"{root}/reports/v=2")
    # retry of the same delta
    s2, rep2 = daily_ingest(day2, root, bigrams=False)
    assert sorted(r["doc_id"] for r in s2.collect()) == [12]
    scr = {r["doc_id"]: r.asDict() for r in rep2["screen"].collect()}
    # the crashed attempt's own ledger rows were NOT consulted: doc 12
    # screens as novel, not as a recrawl of itself
    assert scr[12]["kept"] is True and not scr[12]["is_exact_dup"]

    daily_ingest(day1, clean, bigrams=False)
    daily_ingest(day2, clean, bigrams=False)
    for kind in ("stats",):
        assert _canon(
            spark.read.parquet(f"{root}/{kind}/v=2")
        ) == _canon(spark.read.parquet(f"{clean}/{kind}/v=2"))
    for kind in ("minhash", "postings"):
        assert _canon(read_index_log(spark, f"{root}/{kind}")) == _canon(
            read_index_log(spark, f"{clean}/{kind}")
        )
    # ledger: retry overwrote its own d=2; logical content matches clean
    for r, c in ((root, clean),):
        agg = lambda p: read_index_log(spark, f"{p}/fingerprint").groupBy(
            "fingerprint"
        ).agg(
            F.sum("dup_count").alias("n"),
            F.min("first_doc_id").alias("first"),
        )
        assert _canon(agg(r)) == _canon(agg(c))


@pytest.mark.slow
def test_daily_ingest_rerun_of_complete_day_is_harmless(spark, tmp_path):
    """Re-running an already-complete day: the ledger flags the whole
    delta as recrawls, zero survivors reach the statistics."""
    root = str(tmp_path / "state")
    day1, day2 = _df(spark, _DAY1), _df(spark, _DAY2)
    daily_ingest(day1, root, bigrams=False)
    daily_ingest(day2, root, bigrams=False)
    before = _canon(spark.read.parquet(f"{root}/stats/v=2"))
    s, rep = daily_ingest(day2, root, bigrams=False)  # duplicate day
    assert s.count() == 0
    assert all(r["is_exact_dup"] for r in rep["screen"].collect())
    assert _canon(spark.read.parquet(f"{root}/stats/v=3")) == before


@pytest.mark.slow
def test_compact_ingest_state_preserves_answers(spark, tmp_path):
    """Folding the logs into base/v=k answers identically — and day 3
    still screens recrawls against the compacted state."""
    root = str(tmp_path / "state")
    daily_ingest(_df(spark, _DAY1), root, bigrams=False)
    daily_ingest(_df(spark, _DAY2), root, bigrams=False)
    before_post = _canon(read_index_log(spark, f"{root}/postings"))
    before_mh = _canon(read_index_log(spark, f"{root}/minhash"))
    res = compact_ingest_state(spark, root)
    assert res["postings"] == 2 and res["fingerprint"] == 2
    assert not os.path.exists(f"{root}/postings/d=1")
    assert os.path.exists(f"{root}/postings/v=2")
    assert _canon(read_index_log(spark, f"{root}/postings")) == before_post
    assert _canon(read_index_log(spark, f"{root}/minhash")) == before_mh
    # the compacted ledger is snapshot-shaped (one row per fingerprint)
    fp = read_index_log(spark, f"{root}/fingerprint")
    assert _canon(fp) == _canon(exact_dup_groups(_df(spark, _DAY1 + _DAY2)))
    # day 3 over the compacted base: recrawl of doc 4 killed exactly
    s3, rep3 = daily_ingest(_df(spark, _DAY3), root, bigrams=False)
    assert sorted(r["doc_id"] for r in s3.collect()) == [21]
    scr = {r["doc_id"]: r.asDict() for r in rep3["screen"].collect()}
    assert scr[20]["is_exact_dup"] is True and scr[20]["kept"] is False
    assert log_version(f"{root}/postings") == 3


@pytest.mark.slow
def test_daily_ingest_bigram_flag_guard(spark, tmp_path):
    """ADVICE r11: merging bigrams=True into a bigrams=False state must
    raise, not silently mix delta-only bigram counts into the index."""
    root = str(tmp_path / "state")
    daily_ingest(_df(spark, _DAY1), root, bigrams=False)
    with pytest.raises(ValueError, match="bigrams"):
        daily_ingest(_df(spark, _DAY2), root, bigrams=True)
    root2 = str(tmp_path / "state2")
    daily_ingest(_df(spark, _DAY1), root2, bigrams=True)
    with pytest.raises(ValueError, match="bigrams"):
        daily_ingest(_df(spark, _DAY2), root2, bigrams=False)


# --- prune_snapshots / _latest_snapshot torn-dir handling (ADVICE r11) -------


def _mk_snap(spark, root, v, committed=True):
    spark.createDataFrame([(v,)], "x long").write.mode("overwrite").parquet(
        f"{root}/v={v}"
    )
    if not committed:
        os.remove(f"{root}/v={v}/_SUCCESS")


def test_prune_keeps_committed_not_torn(spark, tmp_path):
    """Two torn newest dirs must NOT consume the keep_last slots — the
    last committed snapshots survive; torn dirs newer than the newest
    committed are left for their in-flight writer."""
    root = str(tmp_path / "idx")
    _mk_snap(spark, root, 1)
    _mk_snap(spark, root, 2)
    _mk_snap(spark, root, 3, committed=False)
    _mk_snap(spark, root, 4, committed=False)
    pruned = prune_snapshots(root, keep_last=2)
    assert pruned == []
    assert sorted(os.listdir(root)) == ["v=1", "v=2", "v=3", "v=4"]
    # torn dirs OLDER than the newest committed are crashed-attempt
    # garbage and go with the sweep
    root2 = str(tmp_path / "idx2")
    _mk_snap(spark, root2, 1, committed=False)
    _mk_snap(spark, root2, 2)
    _mk_snap(spark, root2, 3)
    assert prune_snapshots(root2, keep_last=2) == [1]
    assert sorted(os.listdir(root2)) == ["v=2", "v=3"]


def test_latest_snapshot_warns_when_only_torn_dirs(spark, tmp_path):
    root = str(tmp_path / "idx")
    _mk_snap(spark, root, 1, committed=False)
    with pytest.warns(UserWarning, match="_SUCCESS"):
        assert _latest_snapshot(root, None) is None
    _mk_snap(spark, root, 1)
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert _latest_snapshot(root, None) == 1


# --- bm25_from_index: unhinted query join + the by_term regime (r11 #2) ------


_VOCAB = (
    "spark hash join window batch stream data query the a vector scan"
).split()


def _docs(spark, n=120, seed=3):
    rng = random.Random(seed)
    rows = [
        (i, " ".join(rng.choice(_VOCAB) for _ in range(rng.randrange(1, 20))))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_bm25_by_term_layout_serves_nonbroadcastable_batch(spark, tmp_path):
    """The by_term copy's stated regime, now reachable (the forced
    broadcast(qterms) is gone): with broadcasts disabled — the
    too-large-query-batch stand-in — the term-bucketed postings absorb
    the join with NO corpus-side Exchange, strictly fewer shuffles than
    the by_doc copy in the same regime, and identical results."""
    docs = _docs(spark)
    name = f"t_r12_{uuid.uuid4().hex[:8]}"
    qdf = spark.createDataFrame(
        [("q1", "hash join strategy"), ("q2", "the vector scan")],
        "query_id string, query_text string",
    )
    stats = corpus_stats_index(docs, bigrams=False).persist()
    try:
        save_postings_index(
            postings_index(docs), name, str(tmp_path / "p"), buckets=4
        )
        want = _canon(bm25_topk(docs, qdf, k=5))
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        try:
            tf_t, dl_t = load_postings_index(spark, name, layout="by_term")
            by_term = bm25_from_index(tf_t, stats, qdf, k=5, doc_lengths=dl_t)
            assert _canon(by_term) == want
            tf_d, dl_d = load_postings_index(spark, name, layout="by_doc")
            by_doc = bm25_from_index(tf_d, stats, qdf, k=5, doc_lengths=dl_d)
            assert _canon(by_doc) == want
            n_term, n_doc = _shuffles(by_term), _shuffles(by_doc)
            assert n_term < n_doc, (n_term, n_doc)
            # the term-bucketed scan feeds its join with no Exchange
            # above it: the postings join key IS the bucket key
            plan = by_term._jdf.queryExecution().executedPlan().toString()
            assert "tf_by_term" in plan
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
            spark.conf.unset(
                "spark.sql.adaptive.autoBroadcastJoinThreshold"
            )
    finally:
        stats.unpersist()
        drop_postings_index(spark, name)


def test_bm25_from_index_retrieval_path_unchanged(spark, tmp_path):
    """Default confs (AQE gate live): dropping the hint must not change
    the retrieval answer — q237/q242's oracle contract."""
    docs = _docs(spark, n=60, seed=7)
    stats = corpus_stats_index(docs, bigrams=False)
    qdf = spark.createDataFrame(
        [("q1", "hash join"), ("q2", "vector scan the")],
        "query_id string, query_text string",
    )
    got = bm25_from_index(postings_index(docs), stats, qdf, k=4)
    assert _canon(got) == _canon(bm25_topk(docs, qdf, k=4))


# --- fingerprint_log_screen ≡ aggregated-ledger screen ------------------------


def test_fingerprint_log_screen_matches_merge_screen(spark):
    from streaming_feature_store_spark.operators.dedup import (
        fingerprint_index_merge,
    )

    day1 = _df(spark, _DAY1)
    day2 = _df(spark, _DAY2)
    ledger = exact_dup_groups(day1)
    want, _ = fingerprint_index_merge(day2, ledger, "text", "doc_id")
    # the raw log here is two per-day group frames — un-aggregated
    raw = exact_dup_groups(
        _df(spark, _DAY1[:2])
    ).unionByName(exact_dup_groups(_df(spark, _DAY1[2:])))
    got = fingerprint_log_screen(day2, raw, "text", "doc_id")
    assert _canon(got) == _canon(want)


def test_minhash_screen_prebuilt_delta_index(spark):
    base = _df(spark, _DAY1[:2])
    delta = _df(spark, _DAY2)
    idx = build_minhash_index(base, "text", "doc_id")
    want, _ = minhash_index_screen(delta, idx, "text", "doc_id")
    pre = build_minhash_index(delta, "text", "doc_id")
    got, _ = minhash_index_screen(
        delta, idx, "text", "doc_id", delta_index=pre
    )
    assert _canon(got) == _canon(want)


# --- daily_erase (VERDICT r11 #5) --------------------------------------------


@pytest.mark.slow
def test_daily_erase_equals_rebuild_over_survivors(spark, tmp_path):
    root = str(tmp_path / "state")
    day1, day2 = _df(spark, _DAY1), _df(spark, _DAY2)
    daily_ingest(day1, root, bigrams=False)
    s2, _ = daily_ingest(day2, root, bigrams=False)
    # survivors so far: 1, 2, 4, 12; erase doc 2 (and its near-dup
    # history); retained corpus excludes it
    all_docs = day1.unionByName(day2)
    survivors = _df(
        spark, [r for r in _DAY1 + _DAY2 if r[0] in (1, 2, 4, 12)]
    )
    erased = survivors.filter(F.col("doc_id") == 2)
    retained = survivors.filter(F.col("doc_id") != 2)
    report = daily_erase(erased, root, corpus=retained)
    rows = {r["index"]: r.asDict() for r in report.collect()}
    assert set(rows) == {"fingerprint", "minhash", "stats", "postings"}
    assert rows["postings"]["rows_after"] < rows["postings"]["rows_before"]

    # every root ≡ a rebuild over the retained survivors
    assert _canon(read_index_log(spark, f"{root}/postings")) == _canon(
        postings_index(retained)
    )
    assert _canon(
        spark.read.parquet(f"{root}/stats/v={_latest_snapshot(f'{root}/stats', None)}")
    ) == _canon(corpus_stats_index(retained, bigrams=False))
    mh = read_index_log(spark, f"{root}/minhash")
    assert 2 not in {r["doc_id"] for r in mh.select("doc_id").collect()}
    # the ledger: erased content's group recomputed over retained
    # members; all other groups intact.  Doc 2's near-dup 11 was
    # DROPPED at ingest (not in corpus), so the group vanishes with 2.
    fp = read_index_log(spark, f"{root}/fingerprint")
    agg = fp.groupBy("fingerprint").agg(
        F.sum("dup_count").alias("dup_count"),
        F.min("first_doc_id").alias("first_doc_id"),
    )
    # groups for retained content match a scratch ledger over what was
    # actually ingested minus the erased content
    ingested_retained = all_docs.join(
        erased.select("text"), "text", "left_anti"
    )
    assert _canon(agg) == _canon(exact_dup_groups(ingested_retained))
    # physical removal: no pre-erase dirs survive
    assert not os.path.exists(f"{root}/postings/d=1")
    assert not os.path.exists(f"{root}/stats/v=1")
    assert not os.path.exists(f"{root}/stats/v=2")

    # day 3 after the erase: the ledger FORGOT doc 2's content (no
    # exact-dup hit, and no reference to the erased id anywhere in the
    # decision) — it resurfaces only as a near-dup of the still-indexed
    # doc 11 signature; doc 1's content is still an exact recrawl
    day3 = _df(
        spark,
        [
            (30, _DAY1[1][1]),  # doc 2's erased content returns
            (31, _DAY1[0][1]),  # doc 1's content: still a recrawl
        ],
    )
    s3, rep3 = daily_ingest(day3, root, bigrams=False)
    scr = {r["doc_id"]: r.asDict() for r in rep3["screen"].collect()}
    assert scr[30]["is_exact_dup"] is False
    assert scr[30]["best_match_id"] != 2  # the erased id never reappears
    assert scr[31]["is_exact_dup"] is True


@pytest.mark.slow
def test_daily_erase_quality_scores_match_rebuild(spark, tmp_path):
    """Post-erase stats serve from-index scoring identically to a
    from-scratch survivor corpus — the erased doc's counts are gone."""
    from streaming_feature_store_spark.operators.text import (
        unigram_nll_from_index,
    )

    root = str(tmp_path / "state")
    day1 = _df(spark, _DAY1)
    daily_ingest(day1, root, bigrams=False)
    erased = day1.filter(F.col("doc_id") == 4)
    retained = day1.filter(F.col("doc_id").isin(1, 2))
    daily_erase(erased, root, corpus=retained)
    stats = spark.read.parquet(
        f"{root}/stats/v={_latest_snapshot(f'{root}/stats', None)}"
    )
    probe = retained
    got = unigram_nll_from_index(probe, stats)
    want = unigram_nll(retained)
    assert _canon(
        got.select("doc_id", "n_tokens", "mean_nll")
    ) == _canon(want.select("doc_id", "n_tokens", "mean_nll"))


# --- multi-day sink soak (VERDICT r11 #6) ------------------------------------


@pytest.mark.slow
def test_daily_ingest_sink_multiday_soak_with_replays(spark, tmp_path):
    """N batches through the sink with an injected mid-soak crash retry
    AND an out-of-order redelivery of an old batch: final state must
    equal the clean N-day batch build — ingest state survives every
    failure shape foreachBatch can present."""
    rng = random.Random(12)
    days = []
    next_id = 0
    pool = [
        " ".join(rng.choice(_VOCAB) for _ in range(rng.randrange(4, 12)))
        for _ in range(18)
    ]
    for _d in range(5):
        rows = []
        for _ in range(6):
            rows.append((next_id, rng.choice(pool)))
            next_id += 1
        days.append(rows)
    state = str(tmp_path / "state")
    clean = str(tmp_path / "clean")
    handle = daily_ingest_sink(state, bigrams=False)
    for i, rows in enumerate(days):
        b = _df(spark, rows)
        handle(b, i)
        if i == 2:
            handle(b, 2)  # crashed-attempt retry of the current batch
    # out-of-order redelivery of batch 1 after batch 4 committed
    handle(_df(spark, days[1]), 1)
    # clean sequential run
    for i, rows in enumerate(days):
        daily_ingest(_df(spark, rows), clean, version=i, bigrams=False)
    v = _latest_snapshot(f"{state}/stats", None)
    assert v == _latest_snapshot(f"{clean}/stats", None)
    assert _canon(spark.read.parquet(f"{state}/stats/v={v}")) == _canon(
        spark.read.parquet(f"{clean}/stats/v={v}")
    )
    assert _canon(read_index_log(spark, f"{state}/postings")) == _canon(
        read_index_log(spark, f"{clean}/postings")
    )
    assert _canon(read_index_log(spark, f"{state}/minhash")) == _canon(
        read_index_log(spark, f"{clean}/minhash")
    )

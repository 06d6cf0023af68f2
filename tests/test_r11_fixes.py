"""Round-11 fixes pinned by tests: the from-index scorers' validate guard
(ADVICE r10 #2), _SUCCESS-gated snapshot visibility (ADVICE r10 #1), and
the unhinted boilerplate anti-join (VERDICT r10 finding #1)."""

import pytest
import pyspark.sql.functions as F

from streaming_feature_store_spark.operators.curation import (
    dsir_weights_from_index,
)
from streaming_feature_store_spark.operators.text import (
    bigram_lm_from_index,
    corpus_stats_index,
    corpus_stats_index_merge,
    line_dedup_from_index,
    line_freq_index,
    tfidf_top_terms_from_index,
    unigram_nll_from_index,
)


@pytest.fixture(scope="module")
def corpora(spark):
    base = spark.createDataFrame(
        [
            (1, "the spark hash join runs the plan"),
            (2, "the window batch stream joins the plan"),
        ],
        "doc_id long, text string",
    )
    # every delta unigram AND bigram occurs in base ∪ delta (merged case)
    delta = spark.createDataFrame(
        [(3, "the spark hash join runs")], "doc_id long, text string"
    )
    # 'zzzz' appears nowhere in base — the unmerged-delta contract slip
    rogue = spark.createDataFrame(
        [(4, "the zzzz join")], "doc_id long, text string"
    )
    return base, delta, rogue


# --- validate=True raises on an unmerged delta (ADVICE r10 #2) --------------


def test_validate_raises_on_unmerged_delta(spark, corpora):
    base, _, rogue = corpora
    stats = corpus_stats_index(base, bigrams=True)
    for fn in (tfidf_top_terms_from_index, unigram_nll_from_index):
        with pytest.raises(ValueError, match="zzzz"):
            fn(rogue, stats, validate=True)
    with pytest.raises(ValueError, match="bigram_lm_from_index"):
        bigram_lm_from_index(rogue, stats, validate=True)
    with pytest.raises(ValueError, match="dsir_weights_from_index"):
        dsir_weights_from_index(rogue, stats, stats, validate=True)


def test_validate_default_off_silently_drops(spark, corpora):
    # the hazard the guard exists for: without validate the inner join
    # drops the unseen term and n_tokens under-counts with no error
    base, _, rogue = corpora
    stats = corpus_stats_index(base, bigrams=False)
    row = unigram_nll_from_index(rogue, stats).collect()[0]
    assert row["n_tokens"] == 2  # 'the', 'join' — 'zzzz' silently gone


# --- validate=True is a no-op on a correctly merged delta -------------------


@pytest.mark.slow
def test_validate_passes_and_preserves_results_on_merged(spark, corpora):
    base, delta, _ = corpora
    merged = corpus_stats_index_merge(
        corpus_stats_index(base, bigrams=True),
        corpus_stats_index(delta, bigrams=True),
    )
    for fn in (tfidf_top_terms_from_index, unigram_nll_from_index):
        loud = fn(delta, merged, validate=True).collect()
        quiet = fn(delta, merged).collect()
        assert sorted(map(tuple, loud)) == sorted(map(tuple, quiet))
    loud = bigram_lm_from_index(delta, merged, validate=True).collect()
    quiet = bigram_lm_from_index(delta, merged).collect()
    assert sorted(map(tuple, loud)) == sorted(map(tuple, quiet))
    loud = dsir_weights_from_index(delta, merged, merged, validate=True)
    quiet = dsir_weights_from_index(delta, merged, merged)
    assert sorted(map(tuple, loud.collect())) == sorted(
        map(tuple, quiet.collect())
    )


# --- _SUCCESS-gated snapshot visibility (ADVICE r10 #1) ---------------------


def test_latest_snapshot_skips_uncommitted_versions(tmp_path):
    from streaming_feature_store_spark.commit import newest as _latest_snapshot

    root = tmp_path / "idx"
    for v, committed in ((1, True), (2, True), (3, False)):
        d = root / f"v={v}"
        d.mkdir(parents=True)
        (d / "part-00000.parquet").write_bytes(b"")
        if committed:
            (d / "_SUCCESS").write_bytes(b"")
    # reader form: the torn v=3 (no _SUCCESS — crash mid-write) is invisible
    assert _latest_snapshot(str(root), None) == 2
    # writer form: same gate composes with the <= batch_id retry filter
    assert _latest_snapshot(str(root), 5) == 2
    assert _latest_snapshot(str(root), 1) == 1
    assert _latest_snapshot(str(root), 0) is None
    assert _latest_snapshot(str(tmp_path / "absent"), None) is None


def test_sinks_write_committed_snapshots(spark, tmp_path):
    # the sinks' own writes carry _SUCCESS, so the gate never hides a
    # healthy snapshot
    from streaming_feature_store_spark.commit import newest as _latest_snapshot
    from streaming_feature_store_spark.streaming.dedup import (
        stats_index_sink,
    )

    root = str(tmp_path / "stats")
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "b c")], "doc_id long, text string"
    )
    stats_index_sink(root)(docs, 0)
    assert _latest_snapshot(root, None) == 1


# --- boilerplate anti-join is unhinted (VERDICT r10 #1) ----------------------


def test_line_dedup_from_index_results_unchanged_without_hint(spark):
    docs = spark.createDataFrame(
        [(1, "nav bar\nunique a"), (2, "nav bar\nunique b")],
        "doc_id long, text string",
    )
    idx = line_freq_index(docs)
    delta = spark.createDataFrame(
        [(3, "nav bar\nfresh line")], "doc_id long, text string"
    )
    merged_idx = idx.unionByName(line_freq_index(delta))
    out = line_dedup_from_index(delta, merged_idx, min_docs=2).collect()
    assert len(out) == 1 and out[0]["clean_text"] == "fresh line"
    # no forced-broadcast hint anywhere in the analyzed plan: AQE's size
    # gate decides (the text.py:704 policy)
    plan = line_dedup_from_index(
        delta, merged_idx, min_docs=2
    )._jdf.queryExecution().analyzed().toString()
    assert "UnresolvedHint" not in plan and "ResolvedHint" not in plan

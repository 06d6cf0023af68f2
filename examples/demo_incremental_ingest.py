"""Composed incremental-ingest pipeline — the DAILY path of a 100 TB
training-data platform: all corpus-scale state (dedup/stats/postings
indexes, ANN index, tokenizer) is built ONCE and persisted; each day's
delta prices on the DELTA.

Day 0 (one-time, amortized):
  1. seed the four ingest indexes (fingerprint/minhash/stats/postings)
     by running the base corpus through curation.daily_ingest
  2. build + persist the IVF ANN index           (similarity.save_ivf_index)
  3. train + persist the BPE merge table         (tokenize.train_bpe/save_bpe)

Day 1..N (the recurring path — never re-shingles / re-assigns / re-trains):
  4. ONE CALL: curation.daily_ingest(delta, state_root) — exact recrawl
     screen -> near-dup gate -> survivors -> stats/postings merge (the
     screens run BEFORE the merge, honoring the disjoint-doc contract) ->
     LM quality scores from the merged snapshot (round 11: the r10
     hand-wired sequence productized)
  5. tokenize survivors with the SAVED merges    (tokenize.bpe_encode)
  6. ANN retrieval of each survivor's nearest corpus neighbors against the
     PERSISTED index (similarity.ivf_topk_persisted) — the semantic-dedup /
     retrieval-eval hot loop

Run:  python examples/demo_incremental_ingest.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import tempfile

import pyspark.sql.functions as F

sys.path.insert(0, ".")

from streaming_feature_store_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("incremental-ingest-demo")
    spark.sparkContext.setLogLevel("ERROR")

    from streaming_feature_store_spark.operators.curation import daily_ingest
    from streaming_feature_store_spark.operators.similarity import (
        ivf_topk_persisted,
        save_ivf_index,
    )
    from streaming_feature_store_spark.operators.tokenize import (
        bpe_encode,
        load_bpe,
        save_bpe,
        train_bpe,
    )
    from streaming_feature_store_spark.sources.file import load_table

    tmp = tempfile.mkdtemp(prefix="ingest_demo_")
    state = f"{tmp}/ingest_state"
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base = docs.filter(F.col("doc_id") % 10 != 0)      # the existing corpus
    delta = docs.filter(F.col("doc_id") % 10 == 0)     # today's crawl

    print("== day 0: build persistent corpus state (one-time) ==")
    # seed the fingerprint/minhash/postings delta logs (d=1) + stats
    # snapshot (v=1) in one call — day 0 is just daily_ingest against
    # empty indexes
    base_surv, _ = daily_ingest(base, state)
    print(f"  ingest state: {base_surv.count()} base docs seeded 4 indexes "
          f"-> {state}/{{fingerprint,minhash,postings}}/d=1 + stats/v=1")
    save_ivf_index(emb, f"{tmp}/ivf", nlist=16)
    print(f"  ANN index:   16 cells persisted  -> {tmp}/ivf")
    merges = train_bpe(base, n_merges=60, sample_docs=None)
    save_bpe(merges, f"{tmp}/bpe.json")
    print(f"  tokenizer:   {len(merges)} BPE merges -> {tmp}/bpe.json")

    print("== day 1: incremental ingest of the delta (ONE call) ==")
    n_delta = delta.count()
    survivors, reports = daily_ingest(delta, state)
    scr = reports["screen"]
    n_exact = scr.filter(F.col("is_exact_dup")).count()
    n_near = scr.filter(
        F.col("is_near_dup") & ~F.col("is_exact_dup") & ~F.col("kept")
    ).count()
    n_surv = survivors.count()
    print(f"  delta: {n_delta} docs; exact recrawls dropped: {n_exact}; "
          f"near-dups dropped: {n_near}; survivors: {n_surv}")
    print(f"  indexes upserted to v=2 (screens BEFORE stats merge — the "
          f"disjoint-doc contract); only survivors' counts merged")

    toks = bpe_encode(survivors, load_bpe(f"{tmp}/bpe.json"))
    stats = toks.agg(
        F.sum("n_bpe_tokens").alias("total"),
        F.round(F.avg("n_bpe_tokens"), 1).alias("avg"),
    ).collect()[0]
    print(f"  tokenized survivors with SAVED merges: {stats['total']} "
          f"BPE tokens total, {stats['avg']} avg/doc")

    # the quality report came back index-backed: survivors scored against
    # the merged snapshot (q236's daily shape), no corpus rescan
    worst = (
        reports["quality"].orderBy("avg_logprob", "doc_id").limit(3).collect()
    )
    print("  LM quality gate vs merged corpus stats (3 least-fluent "
          "survivors):")
    for r in worst:
        print(f"    doc {r['doc_id']}: avg_logprob {r['avg_logprob']:.4f} "
              f"({r['n_bigrams']} bigrams)")

    q = emb.filter(F.col("vec_id") < 5)
    nn = ivf_topk_persisted(spark, f"{tmp}/ivf", q, k=3, nprobe=4)
    print("  ANN neighbors from PERSISTED index (query batch of 5):")
    for r in nn.orderBy("query_id", "rank").collect():
        print(f"    q{r['query_id']} -> {r['nbr_id']} "
              f"(cosine {r['cosine']:.4f}, rank {r['rank']})")
    print("== day 2: a DSAR erasure request propagates into ALL indexes "
          "(ONE call) ==")
    from streaming_feature_store_spark.operators.curation import daily_erase
    from streaming_feature_store_spark.operators.similarity import (
        erase_from_ivf_index,
    )

    kept_ids = {r["doc_id"] for r in base_surv.select("doc_id").collect()} | {
        r["doc_id"] for r in survivors.select("doc_id").collect()
    }
    erase_docs = docs.filter(
        (F.col("doc_id") % 97 == 0) & F.col("doc_id").isin(kept_ids)
    )
    retained = docs.filter(
        (F.col("doc_id") % 97 != 0) & F.col("doc_id").isin(kept_ids)
    )
    # fingerprint ledger / minhash signatures / stats counts / postings —
    # erased state commits at the next day version, THEN the pre-erase
    # dirs are physically removed (the composed r12 daily_erase)
    report = daily_erase(erase_docs, state, corpus=retained)
    for r in report.orderBy("index").collect():
        print(f"  {r['index']:<12} {r['rows_before']} -> {r['rows_after']} "
              f"rows after purging {erase_docs.count()} erased ids")
    erase_vecs = emb.filter(F.col("vec_id") % 97 == 0).select("vec_id")
    n_cells = erase_from_ivf_index(spark, f"{tmp}/ivf", erase_vecs)
    print(f"  ANN index:   {erase_vecs.count()} vectors purged; only "
          f"{n_cells}/16 cell partitions rewritten")
    from streaming_feature_store_spark.operators.dedup import (
        dedup_clusters,
        erase_from_cluster_index,
        minhash_index_pairs,
    )
    from streaming_feature_store_spark.streaming.dedup import read_index_log

    idx2 = read_index_log(spark, f"{state}/minhash")
    pairs = minhash_index_pairs(idx2, threshold=0.5).select("doc_a", "doc_b")
    labels = dedup_clusters(pairs)
    # erase a cluster REPRESENTATIVE — the hard case: the min-id label
    # retires and the component may split; repair re-solves only the
    # affected component
    victim = labels.orderBy("node").limit(1).select("node")
    repaired = erase_from_cluster_index(labels, pairs, victim)
    vid = victim.collect()[0]["node"]
    old = {r["node"]: r["cluster_id"] for r in labels.collect()}
    new = {r["node"]: r["cluster_id"] for r in repaired.collect()}
    changed = sum(1 for n in new if old.get(n) != new[n])
    print(f"  cluster labels: erased representative doc {vid}; "
          f"{labels.count()} -> {repaired.count()} rows, "
          f"{changed} relabeled (affected component re-solved only)")
    print("== day 3: compaction folds the delta logs; sweep bounds "
          "snapshot growth ==")
    # each ingest day APPENDS a d=<n> delta dir (writes price on the
    # delta — the r12 layout); the maintenance sweep folds the logs back
    # into one snapshot v=<k> and prunes old stats snapshots (keep_last=2 —
    # never 1, so an in-flight retry keeps its pre-batch view)
    from streaming_feature_store_spark.operators.curation import (
        compact_ingest_state,
    )

    post_root = f"{state}/postings"
    before = sorted(d for d in os.listdir(post_root) if d.startswith("d="))
    res = compact_ingest_state(spark, state)
    after = sorted(os.listdir(post_root))
    print(f"  postings log before sweep: {before}")
    print(f"  compacted to v={res['postings']}; stats snapshots "
          f"pruned: {res['stats_pruned']}")
    print(f"  postings root after sweep: {after}; still queryable: "
          f"{read_index_log(spark, post_root).count()} rows")
    print("== done: recurring cost priced on the delta; corpus state reused ==")
    spark.stop()


if __name__ == "__main__":
    main()

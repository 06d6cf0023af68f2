"""Step-level profile of daily_ingest's DELTA day (q244 shape).

Replicates the function's internal sequence with a timer around every
construction block and action, to attribute the composed day's cost.
Usage: python tools/ingest_profile2.py [sf_dir]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time
import uuid

sys.path.insert(0, "/root/repo")

import pyspark.sql.functions as F


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

    from streaming_feature_store_spark.cacheutil import (
        persist_tracked,
        release_cached_intermediates,
    )
    from streaming_feature_store_spark.operators.curation import (
        _ingest_state,
        daily_ingest,
    )
    from streaming_feature_store_spark.operators.dedup import (
        build_minhash_index,
        exact_dup_groups,
        fingerprint_log_screen,
        minhash_index_screen,
    )
    from streaming_feature_store_spark.operators.text import (
        corpus_stats_index,
        corpus_stats_index_merge,
        postings_index,
        unigram_nll_from_index,
    )
    from streaming_feature_store_spark.commit import read_newest
    from streaming_feature_store_spark.streaming.dedup import (
        append_log_delta,
        read_index_log,
    )
    from streaming_feature_store_spark.session import get_spark
    from streaming_feature_store_spark.sources.file import load_table

    spark = get_spark("ingest-profile2")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(cast(id as decimal(18,4)))") \
        .write.mode("overwrite").format("noop").save()

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") % 3 != 0)
    delta = docs.filter(F.col("doc_id") % 3 == 0).unionByName(
        docs.filter(
            (F.col("doc_id") % 3 != 0) & (F.col("doc_id") % 7 == 1)
        ).select((F.col("doc_id") + 200000).alias("doc_id"), "text")
    )
    id_col, text_col = "doc_id", "text"

    for rep in range(2):
        root = os.path.join(
            tempfile.gettempdir(), f"sfs_prof2_{uuid.uuid4().hex}"
        )
        state_root = root
        try:
            t0 = time.time()
            daily_ingest(base, root, bigrams=False, screen_near_dups=False)
            release_cached_intermediates()
            spark.catalog.clearCache()
            marks = [("seed_day", time.time() - t0)]

            def mark(label):
                marks.append((label, time.time() - sum0[0]))
                sum0[0] = time.time()

            sum0 = [time.time()]
            roots, base_v = _ingest_state(state_root)
            day_v = base_v + 1
            stats_prev = read_newest(roots["stats"], spark.read.parquet, base_v)
            has_bi = bool(stats_prev.filter(F.col("kind") == "bi").head(1))
            mark("versions+has_bi")

            fp_log = read_index_log(spark, roots["fingerprint"], base_v)
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
            mark("construct_tier1")

            mh_log = read_index_log(spark, roots["minhash"], base_v)
            mh_delta = persist_tracked(
                build_minhash_index(exact_surv, text_col, id_col)
            )
            mark("construct_mh_delta")
            mh_screen, _ = minhash_index_screen(
                exact_surv, mh_log, text_col, id_col,
                threshold=0.5, delta_index=mh_delta,
            )
            mh_screen = persist_tracked(mh_screen)
            keep_ids = mh_screen.filter(
                ~F.col("is_near_dup")
                | (
                    ~F.col("match_in_index")
                    & (F.col("best_match_id") > F.col(id_col))
                )
            ).select(id_col)
            mark("construct_tier2")

            screen_plan = (
                fp_screen.select(
                    id_col, "fingerprint",
                    F.col("is_corpus_dup").alias("is_exact_dup"),
                )
                .join(mh_screen, id_col, "left")
                .join(keep_ids.withColumn("_kept", F.lit(True)), id_col,
                      "left")
                .select(
                    id_col, "fingerprint", "is_exact_dup",
                    F.coalesce("is_near_dup", F.lit(False)).alias(
                        "is_near_dup"),
                    "best_match_id", "best_jaccard", "match_in_index",
                    F.coalesce("_kept", F.lit(False)).alias("kept"),
                )
            )
            mark("construct_screen_plan")
            screen_plan.write.mode("overwrite").parquet(
                f"{state_root}/reports/v={day_v}"
            )
            mark("WRITE_screen_report")
            screen = spark.read.parquet(f"{state_root}/reports/v={day_v}")
            survivors = delta.join(
                screen.filter(F.col("kept")).select(id_col), id_col,
                "left_semi"
            )
            stats_updated = corpus_stats_index_merge(
                stats_prev,
                corpus_stats_index(survivors, id_col, text_col, False),
            )
            p_delta = postings_index(survivors, id_col, text_col)
            mark("construct_step3")
            append_log_delta(
                exact_dup_groups(delta, text_col, id_col),
                roots["fingerprint"], day_v,
            )
            mark("WRITE_fp_append")
            append_log_delta(mh_delta, roots["minhash"], day_v)
            mark("WRITE_mh_append")
            stats_updated.write.mode("overwrite").parquet(
                f"{roots['stats']}/v={day_v}"
            )
            mark("WRITE_stats")
            append_log_delta(p_delta, roots["postings"], day_v)
            mark("WRITE_postings_append")
            written_stats = spark.read.parquet(f"{roots['stats']}/v={day_v}")
            quality = unigram_nll_from_index(
                survivors, written_stats, id_col, text_col
            )
            quality.write.mode("overwrite").format("noop").save()
            mark("quality_noop")
            print(f"rep{rep}: " + " ".join(
                f"{k}={v:.2f}s" for k, v in marks), flush=True)
            release_cached_intermediates()
        finally:
            shutil.rmtree(root, ignore_errors=True)
        spark.catalog.clearCache()
    spark.stop()


if __name__ == "__main__":
    main()

"""Fine-grained attribution of daily_ingest's DELTA-day screen cost.

Materializes each persisted intermediate SEPARATELY (count() after
persist) so the screen-report write at the end times only its own resid-
ual work.  Usage: python tools/ingest_profile3.py [sf_dir] [reps]
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
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 2

    from streaming_feature_store_spark.cacheutil import (
        persist_tracked,
        release_cached_intermediates,
    )
    from streaming_feature_store_spark.operators.curation import daily_ingest
    from streaming_feature_store_spark.operators.dedup import (
        build_minhash_index,
        exact_dup_groups,
        fingerprint_log_screen,
        minhash_index_screen,
    )
    from streaming_feature_store_spark.commit import newest
    from streaming_feature_store_spark.streaming.dedup import (
        append_log_delta,
        read_index_log,
    )
    from streaming_feature_store_spark.session import get_spark
    from streaming_feature_store_spark.sources.file import load_table

    spark = get_spark("ingest-profile3")
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

    for rep in range(reps):
        root = os.path.join(
            tempfile.gettempdir(), f"sfs_prof3_{uuid.uuid4().hex}"
        )
        try:
            t0 = time.time()
            print(f"  rep{rep} seeding...", flush=True)
            daily_ingest(base, root, bigrams=False, screen_near_dups=False)
            release_cached_intermediates()
            spark.catalog.clearCache()
            marks = [("seed_day", time.time() - t0)]
            sum0 = [time.time()]

            def mark(label):
                marks.append((label, time.time() - sum0[0]))
                print(f"  rep{rep} {label}={marks[-1][1]:.2f}s", flush=True)
                sum0[0] = time.time()

            roots = {
                k: f"{root}/{k}"
                for k in ("fingerprint", "minhash", "stats", "postings")
            }
            base_v = newest(roots["fingerprint"]) or 0
            day_v = base_v + 1

            spark.sparkContext.setJobDescription("tier1-fp-screen")
            fp_log = read_index_log(spark, roots["fingerprint"], base_v)
            fp_screen = persist_tracked(
                fingerprint_log_screen(delta, fp_log, text_col, id_col)
            )
            n1 = fp_screen.count()
            mark(f"MAT_fp_screen({n1})")

            spark.sparkContext.setJobDescription("tier1-exact-surv")
            exact_surv = persist_tracked(
                delta.join(
                    fp_screen.filter(~F.col("is_corpus_dup")).select(id_col),
                    id_col,
                    "left_semi",
                )
            )
            n2 = exact_surv.count()
            mark(f"MAT_exact_surv({n2})")

            spark.sparkContext.setJobDescription("tier2-mh-delta-build")
            mh_log = read_index_log(spark, roots["minhash"], base_v)
            mh_delta = persist_tracked(
                build_minhash_index(exact_surv, text_col, id_col)
            )
            n3 = mh_delta.count()
            mark(f"MAT_mh_delta({n3})")

            spark.sparkContext.setJobDescription("tier2-mh-screen")
            mh_screen, _ = minhash_index_screen(
                exact_surv, mh_log, text_col, id_col,
                threshold=0.5, delta_index=mh_delta,
            )
            mh_screen = persist_tracked(mh_screen)
            n4 = mh_screen.count()
            mark(f"MAT_mh_screen({n4})")

            keep_ids = mh_screen.filter(
                ~F.col("is_near_dup")
                | (
                    ~F.col("match_in_index")
                    & (F.col("best_match_id") > F.col(id_col))
                )
            ).select(id_col)
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
            spark.sparkContext.setJobDescription("screen-report-write")
            screen_plan.write.mode("overwrite").parquet(
                f"{root}/reports/v={day_v}"
            )
            mark("WRITE_screen_report")

            print(f"rep{rep}: " + " ".join(
                f"{k}={v:.2f}s" for k, v in marks), flush=True)
            release_cached_intermediates()
        finally:
            shutil.rmtree(root, ignore_errors=True)
        spark.catalog.clearCache()
    spark.stop()


if __name__ == "__main__":
    main()

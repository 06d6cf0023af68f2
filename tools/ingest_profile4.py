"""Attribute daily_ingest delta-day screen cost: PLANNING vs EXECUTION.

Builds the tier-2 screen lineage, then separately times
(a) analysis+optimization (queryExecution().optimizedPlan()),
(b) executedPlan construction, and (c) the action itself — plus a
job/stage/task census via a SparkListener.
Usage: python tools/ingest_profile4.py [sf_dir]
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
    from streaming_feature_store_spark.operators.curation import daily_ingest
    from streaming_feature_store_spark.operators.dedup import (
        build_minhash_index,
        fingerprint_log_screen,
        minhash_index_screen,
    )
    from streaming_feature_store_spark.commit import newest
    from streaming_feature_store_spark.streaming.dedup import (
        read_index_log,
    )
    from streaming_feature_store_spark.session import get_spark
    from streaming_feature_store_spark.sources.file import load_table

    spark = get_spark("ingest-profile4")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(cast(id as decimal(18,4)))") \
        .write.mode("overwrite").format("noop").save()

    sc = spark.sparkContext
    jvm = spark._jvm

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") % 3 != 0)
    delta = docs.filter(F.col("doc_id") % 3 == 0).unionByName(
        docs.filter(
            (F.col("doc_id") % 3 != 0) & (F.col("doc_id") % 7 == 1)
        ).select((F.col("doc_id") + 200000).alias("doc_id"), "text")
    )
    id_col, text_col = "doc_id", "text"

    root = os.path.join(tempfile.gettempdir(), f"sfs_prof4_{uuid.uuid4().hex}")
    try:
        t0 = time.time()
        daily_ingest(base, root, bigrams=False, screen_near_dups=False)
        release_cached_intermediates()
        spark.catalog.clearCache()
        print(f"seed_day={time.time()-t0:.2f}s", flush=True)

        roots = {k: f"{root}/{k}" for k in ("fingerprint", "minhash")}
        base_v = newest(roots["fingerprint"]) or 0

        fp_log = read_index_log(spark, roots["fingerprint"], base_v)
        fp_screen = persist_tracked(
            fingerprint_log_screen(delta, fp_log, text_col, id_col)
        )
        exact_surv = persist_tracked(
            delta.join(
                fp_screen.filter(~F.col("is_corpus_dup")).select(id_col),
                id_col, "left_semi",
            )
        )
        t0 = time.time(); exact_surv.count()
        print(f"mat_tier1={time.time()-t0:.2f}s", flush=True)

        mh_log = read_index_log(spark, roots["minhash"], base_v)
        mh_delta = persist_tracked(
            build_minhash_index(exact_surv, text_col, id_col)
        )
        t0 = time.time(); mh_delta.count()
        print(f"mat_mh_delta={time.time()-t0:.2f}s", flush=True)

        mh_screen, _ = minhash_index_screen(
            exact_surv, mh_log, text_col, id_col,
            threshold=0.5, delta_index=mh_delta,
        )

        # phase timing on the UNCACHED screen frame
        qe = mh_screen._jdf.queryExecution()
        t0 = time.time(); qe.analyzed()
        print(f"analyze={time.time()-t0:.2f}s", flush=True)
        t0 = time.time(); qe.optimizedPlan()
        print(f"optimize={time.time()-t0:.2f}s", flush=True)
        t0 = time.time(); qe.executedPlan()
        print(f"physical_plan={time.time()-t0:.2f}s", flush=True)
        t0 = time.time(); n = mh_screen.count()
        print(f"execute_count({n})={time.time()-t0:.2f}s", flush=True)
        # second action on the SAME frame (fresh queryExecution per action)
        t0 = time.time(); mh_screen.write.mode("overwrite").format("noop").save()
        print(f"noop_again={time.time()-t0:.2f}s", flush=True)

        # job census during one more action
        status = spark.sparkContext.statusTracker()
        before_jobs = status.getJobIdsForGroup(None) or []
        t0 = time.time()
        mh_screen.write.mode("overwrite").format("noop").save()
        dt = time.time() - t0
        after_jobs = status.getJobIdsForGroup(None) or []
        print(f"noop_3rd={dt:.2f}s new_jobs={len(set(after_jobs)-set(before_jobs))}",
              flush=True)
        release_cached_intermediates()
    finally:
        shutil.rmtree(root, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
